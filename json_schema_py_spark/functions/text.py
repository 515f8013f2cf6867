"""Text-analysis column functions for training-data pipelines.

All pure ``pyspark.sql.functions`` compositions — JVM-side, whole-stage
codegen, no UDFs — and every one has an exact DuckDB-SQL mirror (used by the
correctness oracles in __spark_entry__). Hashing is md5-hex-prefix → bigint,
the one 64-bit hash both engines compute identically:

    Spark : conv(substring(md5(s), 1, 15), 16, 10) :: bigint
    DuckDB: ('0x' || substr(md5(s), 1, 15)) :: BIGINT

15 hex digits = 60 bits, so the value always fits a signed 64-bit int.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# deliberately small, deterministic stopword list — shared with the oracles
STOPWORDS = ("the", "a", "an", "of", "to", "and", "in", "is", "it", "for")


def stable_hash64(col: Column, seed: str = "") -> Column:
    """Deterministic 60-bit hash identical in Spark and DuckDB (see module doc)."""
    s = F.concat(F.lit(seed), F.lit("|"), col) if seed else col
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def tokens(col: Column) -> Column:
    """Whitespace tokens, empties dropped (DuckDB: string_split + list_filter)."""
    return F.filter(F.split(col, " "), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """A BPE-flavored token estimate: word pieces of ≤4 chars — every word of
    length L contributes ceil(L/4) pieces. A cheap, deterministic proxy for
    subword tokenizers (DuckDB mirror: list_sum over ceil(len/4))."""
    return F.aggregate(
        tokens(col),
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("long"),
    )


BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def regex_token_count(col: Column) -> Column:
    """BPE-flavored REGEX tokenization: letter runs, digit runs, single
    punctuation — the classic pre-tokenizer split (DuckDB mirror:
    regexp_extract_all with the identical pattern)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), F.lit(0)))


ROLLING_B = 131
ROLLING_M = 2_147_483_647  # 2^31 - 1; keeps acc*B inside 64-bit under ANSI


def rolling_fingerprint(col: Column) -> Column:
    """Polynomial rolling hash over token hashes — order-sensitive document
    fingerprint: h = fold(tokens, (acc*B + h64(tok) mod M) mod M). Equal in
    DuckDB via list_reduce with the same constants."""
    th = F.transform(tokens(col), lambda t: stable_hash64(t))
    return F.aggregate(
        th,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * ROLLING_B + F.pmod(h, F.lit(ROLLING_M))) % ROLLING_M,
    )


def normalize_text(col: Column) -> Column:
    """Canonical text: lowercase, strip non-[a-z0-9 ], collapse whitespace."""
    c = F.lower(col)
    c = F.regexp_replace(c, "[^a-z0-9 ]", "")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def text_fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 of the normalized text (document identity for
    exact dedup; rolling-hash seed for near-dup families)."""
    return F.md5(normalize_text(col))


def word_shingles(col: Column, k: int = 3, normalize: bool = False) -> Column:
    """Distinct word k-shingles ('a b c' style), the unit of n-gram Jaccard /
    MinHash. Empty array when the doc has fewer than k tokens.

    ``normalize=True`` canonicalizes the text first (normalize_text:
    lowercase, strip punctuation, collapse whitespace) — the standard
    decontamination convention, so a benchmark item quoted with different
    casing/punctuation still matches. Off by
    default: dedup tiers that want raw-surface similarity keep it.

    PERF: built by zipping k shifted copies of the token array, NOT by
    ``transform(sequence, i -> slice(toks, i, k))`` — an outer expression
    referenced inside a higher-order-function lambda is RE-EVALUATED PER
    ELEMENT (no CSE inside codegen'd lambdas), which made the slice
    formulation re-tokenize the document once per shingle: O(n²) per row,
    ~40x slower end-to-end on the minhash path."""
    if normalize:
        col = normalize_text(col)
    return shingles_of_tokens(tokens(col), k)


def positional_shingles_of_tokens(toks: Column, k: int) -> Column:
    """ALL word k-shingles of a token array IN ORDER (index i = shingle
    starting at token i, 0-based) — duplicates kept, so posexplode over
    this recovers every OCCURRENCE with its position (substring-level
    dedup needs occurrences; Jaccard/MinHash tiers want the distinct set
    and wrap this with array_distinct via shingles_of_tokens)."""
    n = F.size(toks)
    shifted = [toks] + [
        F.slice(toks, i + 1, F.greatest(n - i, F.lit(0))) for i in range(1, k)
    ]
    zipped = shifted[0]
    for nxt in shifted[1:]:
        zipped = F.zip_with(zipped, nxt, lambda a, b: F.concat_ws(" ", a, b))
    # zip_with pads the shorter side with nulls → the trailing (k-1) entries
    # are malformed partial shingles; slice them off
    return F.slice(zipped, 1, F.greatest(n - (k - 1), F.lit(0)))


def shingles_of_tokens(toks: Column, k: int) -> Column:
    """word_shingles' core over an ALREADY-TOKENIZED array — exposed so a
    combined-signatures pass can tokenize once (bind the token array as a
    lambda variable) and feed both the shingle and token consumers."""
    return F.array_distinct(positional_shingles_of_tokens(toks, k))


def stopword_ratio(col: Column) -> Column:
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(list(STOPWORDS))))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def mean_token_len(col: Column) -> Column:
    toks = tokens(col)
    return F.when(
        F.size(toks) > 0,
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
        / F.size(toks),
    ).otherwise(F.lit(0.0))


def quality_metrics(col: Column) -> Column:
    """Struct of quality signals (length, token count, stopword ratio, mean
    token length) — thresholded downstream into keep/drop verdicts."""
    return F.struct(
        F.length(col).alias("n_chars"),
        token_count(col).alias("n_tokens"),
        F.round(stopword_ratio(col), 6).alias("stopword_ratio"),
        F.round(mean_token_len(col), 6).alias("mean_token_len"),
    )


def lang_id(col: Column, en_threshold: float = 0.03) -> Column:
    """N-gram-free language heuristic: English stopword hit-rate. Real
    pipelines plug a fastText-style model in via a pandas UDF; the heuristic
    keeps the engine dependency-free and deterministic."""
    return F.when(stopword_ratio(col) >= en_threshold, F.lit("en")).otherwise(
        F.lit("unknown")
    )


def word_ngrams(col: Column, n: int) -> Column:
    """NON-distinct word n-grams — repetition analysis needs multiplicity
    (word_shingles distincts, which is right for Jaccard/MinHash and wrong
    here)."""
    toks = tokens(col)
    m = F.size(toks)
    shifted = [toks] + [
        F.slice(toks, i + 1, F.greatest(m - i, F.lit(0))) for i in range(1, n)
    ]
    zipped = shifted[0]
    for nxt in shifted[1:]:
        zipped = F.zip_with(zipped, nxt, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(zipped, 1, F.greatest(m - (n - 1), F.lit(0)))


def _max_run_char_coverage(arr: Column) -> Column:
    """max over distinct elements of (multiplicity x element length) — the
    characters covered by the most repetitive element. One sort + one fold
    (O(k log k) per row); defined WITHOUT an argmax so ties cannot make the
    value ambiguous (a tie-broken argmax of different-length elements would
    be oracle-hostile)."""
    srt = F.array_sort(arr)
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run * F.length(x)).alias("best"),
        )

    return F.aggregate(srt, acc0, step, lambda acc: acc["best"])


def _dup_char_sum(arr: Column) -> Column:
    """Σ over occurrences BEYOND the first of each element of its length —
    characters spent on exact repeats. Same sort+fold shape."""
    srt = F.array_sort(arr)
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc: Column, x: Column) -> Column:
        return F.struct(
            x.alias("prev"),
            F.when(acc["prev"].eqNullSafe(x), acc["dup"] + F.length(x))
            .otherwise(acc["dup"])
            .alias("dup"),
        )

    return F.aggregate(srt, acc0, step, lambda acc: acc["dup"])


def text_lines(col: Column) -> Column:
    """Trimmed non-empty lines."""
    return F.filter(
        F.transform(F.split(col, "\n"), lambda l: F.trim(l)), lambda l: l != ""
    )


def repetition_metrics(col: Column, ngram_n: int = 2, round_to: int = 6) -> Column:
    """Struct of repetition signals (the Gopher-rule family for
    within-document repetition — no reference analogue; standard
    pretraining quality filters):

    * dup_line_fraction      — duplicate line occurrences / lines
    * dup_line_char_fraction — chars in repeat line occurrences / line chars
    * top_ngram_char_fraction— chars covered by the most repetitive word
                               ngram_n-gram / total chars

    All pure JVM sort+fold expressions, each with an exact DuckDB mirror
    (multiplicities via list folds). The lines and grams arrays are each
    referenced several times below, so both are bound ONCE as lambda
    variables (the module's no-CSE doctrine: the inline form re-splits
    every document ~4x and re-tokenizes it 2x per row)."""
    n_chars = F.length(col)

    def with_bound(lines: Column, grams: Column) -> Column:
        n_lines = F.size(lines)
        line_chars = F.aggregate(
            lines, F.lit(0).cast("long"), lambda a, l: a + F.length(l)
        )
        dup_lines = n_lines - F.size(F.array_distinct(lines))
        return F.struct(
            F.round(
                F.when(n_lines > 0, dup_lines / n_lines).otherwise(F.lit(0.0)),
                round_to,
            ).alias("dup_line_fraction"),
            F.round(
                F.when(line_chars > 0, _dup_char_sum(lines) / line_chars).otherwise(
                    F.lit(0.0)
                ),
                round_to,
            ).alias("dup_line_char_fraction"),
            F.round(
                F.when(
                    (n_chars > 0) & (F.size(grams) > 0),
                    _max_run_char_coverage(grams) / n_chars,
                ).otherwise(F.lit(0.0)),
                round_to,
            ).alias("top_ngram_char_fraction"),
        )

    return F.get(
        F.zip_with(
            F.array(text_lines(col)),
            F.array(word_ngrams(col, ngram_n)),
            with_bound,
        ),
        0,
    )
