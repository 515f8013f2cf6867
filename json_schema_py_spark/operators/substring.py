"""Cross-document SUBSTRING-level deduplication — the Lee et al.
("Deduplicating Training Data Makes Language Models Better", 2022)
complement to whole-document near-dup: boilerplate, license headers,
navigation chrome, and quoted passages repeat VERBATIM across otherwise
distinct documents, and document-level MinHash never fires on them.
The exact-suffix-array construction of the paper doesn't distribute;
the standard scalable re-expression (this module) is hot-n-gram span
removal: count every k-token shingle OCCURRENCE corpus-wide, call a
shingle "hot" when it occurs >= min_count times, and mark/strip every
token covered by a hot shingle.

Scale shape (100 TB doctrine):
  - ``hot_ngrams``: one posexplode of the positional shingle stream ->
    ONE map-side-combinable groupBy(ngram).count — the same plan family
    as tfidf's df table. Output is bounded by the hot set, but the
    GROUPED stream is the corpus vocabulary, so downstream joins are
    plain shuffle joins on ngram — never a forced broadcast (Spark's
    size threshold auto-broadcasts a genuinely small hot set). At
    100 TB, screen with the CMS sketch first (corpus_shingle_cms in
    operators/contamination.py) so only sketch-hot shingles reach the
    exact count — same composition as contamination's cap filter.
  - ``duplicate_ngram_spans``: positional shingles join hot on ngram —
    one shuffle, output bounded at (hot occurrences).
  - ``strip_duplicate_ngrams``: spans -> covered token indices
    (explode a k-length sequence per span, distinct) -> per-doc
    collect_set (bounded by the doc's own token count) -> rebuild the
    text with an indexed HOF filter, all whole-stage codegen. Two
    corpus scans total (count pass + rebuild pass) — the same pass
    structure as the paper's pipelines.

Positions are 0-based token indices; spans are [start_tok, end_tok)
half-open. Deterministic end to end — exactly DuckDB-recomputable
(gate query q_substring_dedup).

Reference parity note: the reference validator has no substring-dedup
surface — this module is part of the training-data-pipeline extension
mandated alongside SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_schema_py_spark.functions.text import (
    positional_shingles_of_tokens,
    tokens,
)
from json_schema_py_spark.util import collapse_mode, ensure_parallelism, text_units


def _positional(docs: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(doc_id, start_tok, ngram) — every k-shingle OCCURRENCE."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        positional_shingles_of_tokens(tokens(F.col(text_col)), k).alias("_sh"),
    )
    return base.select(
        "doc_id", F.posexplode("_sh").alias("start_tok", "ngram")
    )


def hot_ngrams(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    collapse="auto",
) -> DataFrame:
    """(ngram, cnt) — k-token shingles occurring >= ``min_count`` times
    corpus-wide. Counts OCCURRENCES, not documents: a passage repeated
    five times inside one document is exactly the self-repetition the
    substring tier exists to strip. Shingles are counted per text unit
    (util.text_units) with the unit's weight: a duplicate-heavy corpus
    is shingled once per distinct text, with integer-identical counts."""
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = ensure_parallelism(docs)
    mode = collapse_mode(docs, text_col, collapse)
    units, _ = text_units(base, text_col, id_col, mode)
    shingles = positional_shingles_of_tokens(tokens(F.col("_t")), k)
    occ = units.select("_w", F.explode_outer(shingles).alias("ngram")).where(
        F.col("ngram").isNotNull()
    )
    return (
        occ.groupBy("ngram")
        .agg(F.sum("_w").alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )


def duplicate_ngram_spans(
    docs: DataFrame,
    hot: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """(doc_id, start_tok, end_tok, ngram) — every occurrence of a hot
    shingle, as a half-open token span. The audit surface: log/inspect
    what the strip pass WOULD remove before committing to it."""
    return (
        _positional(docs, text_col, id_col, k)
        .join(hot.select("ngram"), "ngram")
        .select(
            "doc_id",
            "start_tok",
            (F.col("start_tok") + F.lit(k)).alias("end_tok"),
            "ngram",
        )
    )


def strip_duplicate_ngrams(
    docs: DataFrame,
    hot: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    collapse="auto",
) -> DataFrame:
    """(doc_id, clean_text, n_tokens, n_removed) — the corpus with every
    token covered by at least one hot-shingle occurrence removed and the
    survivors re-joined with single spaces. Removes ALL occurrences
    (the conservative training-data policy: repeated boilerplate carries
    no signal worth keeping once); a keep-first-copy policy is a
    downstream choice over duplicate_ngram_spans, not baked in here.
    Stripped once per text unit (util.text_units), so duplicate texts
    are stripped once."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = ensure_parallelism(docs)
    mode = collapse_mode(docs, text_col, collapse)
    units, attach = text_units(base, text_col, id_col, mode)
    occ = units.select(
        "_k",
        F.posexplode_outer(
            positional_shingles_of_tokens(tokens(F.col("_t")), k)
        ).alias("start_tok", "ngram"),
    ).where(F.col("ngram").isNotNull())
    covered = (
        occ.join(hot.select("ngram"), "ngram")
        .select(
            "_k",
            F.explode(
                F.sequence(F.col("start_tok"), F.col("start_tok") + F.lit(k) - 1)
            ).alias("_idx"),
        )
        .groupBy("_k")
        .agg(F.array_sort(F.collect_set("_idx")).alias("_covered"))
    )
    # left join: units with no hot shingle (NULL text included) keep an
    # empty cover
    toks = (
        units.select("_k", tokens(F.col("_t")).alias("_toks"))
        .join(covered, "_k", "left")
        .select(
            "_k",
            "_toks",
            F.coalesce("_covered", F.array().cast("array<int>")).alias("_cov"),
        )
    )
    per_unit = toks.select(
        "_k",
        F.array_join(
            F.filter(
                F.col("_toks"),
                lambda t, i: ~F.array_contains(F.col("_cov"), i.cast("int")),
            ),
            " ",
        ).alias("clean_text"),
        F.size("_toks").alias("n_tokens"),
        F.size("_cov").alias("n_removed"),
    )
    return attach(per_unit).select(
        F.col(id_col).alias("doc_id"), "clean_text", "n_tokens", "n_removed"
    )


# --- line-level boilerplate removal (C4/CCNet line tier) ------------------


def hot_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    min_line_chars: int = 1,
) -> DataFrame:
    """(line, n_docs) — trimmed lines appearing in >= ``min_docs``
    DISTINCT documents: the C4/CCNet line-granularity boilerplate signal
    (copyright footers, navigation chrome, cookie banners repeat
    VERBATIM as whole lines across a crawl). Counts DOCUMENTS, not
    occurrences — a line repeated inside one doc is the repetition
    tier's business (functions/text.py), not boilerplate. Lines shorter
    than ``min_line_chars`` after trim are exempt (never counted, never
    stripped): empty/near-empty lines are structure, not content.

    100 TB shape: one split+explode, a per-(doc,line) pre-distinct
    groupBy so the final count needs no count-distinct shuffle (same
    plan family as contamination.domain_counts), output bounded by the
    hot set. At larger corpora, screen with corpus_shingle_cms first —
    the same sketch composition as the n-gram tier above.
    """
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    if min_line_chars < 1:
        raise ValueError(f"min_line_chars must be >= 1, got {min_line_chars}")
    per_doc = (
        ensure_parallelism(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), "\n")).alias("_raw"),
        )
        .select("doc_id", F.trim(F.col("_raw")).alias("line"))
        .where(F.length("line") >= min_line_chars)
        .groupBy("doc_id", "line")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        per_doc.groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate_lines(
    docs: DataFrame,
    hot: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, clean_text, n_lines, n_removed_lines) — the corpus with
    every line whose TRIMMED form matches a hot line removed; surviving
    lines keep their ORIGINAL bytes and order, re-joined with newlines.
    Every doc survives (possibly with empty clean_text) — nothing is
    silently dropped; n_removed_lines is the per-doc audit.

    Plan: posexplode lines → ONE equi-join on the trimmed line (hot is
    bounded, Spark's size threshold auto-broadcasts it — never forced)
    → per-doc rebuild via array_sort(collect_list(struct(pos,...)))
    filtered with a whole-stage-codegen HOF. Two shuffles worst-case
    (join + rebuild), one when the hot side broadcasts.
    """
    ex = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "raw"),
    ).select("doc_id", "pos", "raw", F.trim(F.col("raw")).alias("line"))
    marked = ex.join(
        hot.select("line", F.lit(True).alias("_hot")), "line", "left"
    )
    lines_arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("pos").alias("p"),
                F.col("_hot").alias("h"),
                F.col("raw").alias("r"),
            )
        )
    )
    return marked.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.filter(lines_arr, lambda s: s["h"].isNull()),
                lambda s: s["r"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("_hot").isNotNull().cast("long")).alias("n_removed_lines"),
    )
