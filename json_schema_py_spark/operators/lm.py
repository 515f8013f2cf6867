"""N-gram language-model perplexity scoring — the CCNet/Gopher-style
quality filter a pretraining pipeline runs at corpus scale: train a
smoothed bigram LM on a reference corpus, score every candidate document,
drop/bucket by perplexity. A 5-gram KenLM is the production tool; the
bigram form here keeps the SAME distributed shape (count tables + a
per-token scoring join) while staying exactly DuckDB-oracle-able — the
smoothing arithmetic is recomputed bit-for-bit by the gate query
(q_lm_perplexity).

Scale shape:
* ``train_bigram_lm`` — adjacent bigrams are built by ONE in-row zip of
  the token array (never a per-doc window, which costs a corpus-wide
  shuffle+sort of the exploded token stream); RAW pairs are counted
  first (map-side-combinable groupBy) and OOV-mapped afterwards via two
  broadcast joins against the ≤vocab_size vocabulary, so the mapping
  touches the bounded bigram-type table, not the token stream. Unigram
  counts are DERIVED from the raw token-count table (c(<unk>) = the sum
  of out-of-vocab counts) — the corpus is never re-tokenized for them.
* ``score_perplexity`` — the same zip pair stream, one broadcast vocab
  join per side, then joins against the count tables — the unigram table
  broadcasts (≤ V rows by construction); the bigram table shuffle-joins
  on (w, w2) because its cardinality is observed-corpus-bigrams (up to
  V², multi-TB at web scale), with Spark's size threshold still
  auto-broadcasting genuinely small LMs — and one per-doc aggregation.
* both operators run one body over text units (util.text_units):
  counts sum the unit weights and perplexity is scored once per unit,
  so on a duplicate-heavy corpus (collapse mode from
  util.collapse_mode) the tokenize/join work is done once per distinct
  text with outputs identical to the per-doc form.

Smoothing: add-k (Laplace for k=1):
    P(w2 | w1) = (c(w1,w2) + k) / (c(w1) + k·V)
with V = number of distinct unigram types in the LM (including <unk>).
perplexity = exp(−mean ln P) over the document's bigrams; documents with
fewer than 2 tokens carry NULL scores (no bigram evidence — callers
decide their fate, never a silent drop).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from json_schema_py_spark.functions.text import tokens
from json_schema_py_spark.util import collapse_mode, ensure_parallelism, text_units

UNK = "<unk>"


def _adjacent_pairs(col: Column) -> Column:
    """Array of (w1r, w2r) structs — every adjacent RAW token pair of the
    document, via one zip of the token array with itself shifted by one.
    Replaces the per-doc lead() window (which shuffled and sorted the
    whole exploded token stream) with in-row work."""
    toks = tokens(col)
    return F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1r"), b.alias("w2r")),
        ),
        # zip_with pads the shorter (shifted) side with NULL: the last
        # element is (w_n, NULL), not a bigram
        lambda s: s["w2r"].isNotNull(),
    )


def _map_oov(df: DataFrame, vocab: DataFrame, raw_col: str, out_col: str) -> DataFrame:
    """OOV-map one column against the ≤vocab_size vocabulary (broadcast —
    bounded by the caller-fixed cap, the DSIR ≤B-row convention)."""
    v = vocab.select(F.col("w").alias(raw_col), F.lit(True).alias("_in_v"))
    return (
        df.join(F.broadcast(v), raw_col, "left")
        .withColumn(
            out_col, F.when(F.col("_in_v"), F.col(raw_col)).otherwise(F.lit(UNK))
        )
        .drop("_in_v", raw_col)
    )


def train_bigram_lm(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 50_000,
    collapse="auto",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(vocab, unigrams, bigrams): a deterministic add-k-ready bigram LM.

    vocab     — (w) the top ``vocab_size`` raw tokens by (count DESC,
                token ASC); everything else trains and scores as <unk>.
    unigrams  — (w, cnt) counts over the OOV-mapped stream (<unk> row
                included), the conditioning denominators.
    bigrams   — (w1, w2, cnt) counts of adjacent OOV-mapped pairs within
                each document (never across document boundaries).

    The vocab ranking is an exact top-k over the token-count table
    (≪ corpus; one groupBy + one bounded sort), not a sketch — two runs
    over the same corpus produce the identical LM."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    base = ensure_parallelism(corpus)
    mode = collapse_mode(base, text_col, collapse)
    units, _ = text_units(base, text_col, id_col, mode)
    toks = units.select(
        "_w", F.explode_outer(tokens(F.col("_t"))).alias("tok")
    ).where(F.col("tok").isNotNull())
    counts = toks.groupBy("tok").agg(F.sum("_w").alias("cnt"))
    pairs = units.select(
        "_w", F.explode_outer(_adjacent_pairs(F.col("_t"))).alias("_p")
    ).where(F.col("_p").isNotNull())
    big_raw = pairs.groupBy(
        F.col("_p.w1r").alias("w1r"), F.col("_p.w2r").alias("w2r")
    ).agg(F.sum("_w").alias("cnt"))
    # two-stage exact top-k (the _rank_topk shape): every count partition
    # keeps its LOCAL top vocab_size first, so the global rank sorts
    # ≤ partitions × vocab_size survivors — never the full distinct-token
    # table (Heaps' law: ~10^9 types at 100 TB) through one task. Any
    # global top-k token is by definition in its own partition's top-k,
    # so the prefilter is lossless.
    wl = Window.partitionBy("_pid").orderBy(F.col("cnt").desc(), F.col("tok").asc())
    survivors = (
        counts.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lrk", F.row_number().over(wl))
        .where(F.col("_lrk") <= vocab_size)
    )
    wv = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    vocab = (
        survivors.withColumn("_rk", F.row_number().over(wv))
        .where(F.col("_rk") <= vocab_size)
        .select(F.col("tok").alias("w"))
    )
    # unigrams DERIVED from the raw count table: in-vocab tokens keep
    # their count, everything else folds into one <unk> row — no second
    # corpus pass
    v = vocab.select(F.col("w").alias("tok"), F.lit(True).alias("_in_v"))
    unigrams = (
        counts.join(F.broadcast(v), "tok", "left")
        .select(
            F.when(F.col("_in_v"), F.col("tok")).otherwise(F.lit(UNK)).alias("w"),
            "cnt",
        )
        .groupBy("w")
        .agg(F.sum("cnt").alias("cnt"))
    )
    # bigram OOV-mapping over the bounded TYPE table (counted first),
    # never over the pair stream
    bigrams = (
        _map_oov(_map_oov(big_raw, vocab, "w1r", "w1"), vocab, "w2r", "w2")
        .groupBy("w1", "w2")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return vocab, unigrams, bigrams


def score_perplexity(
    docs: DataFrame,
    vocab: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 1.0,
    round_to: int = 6,
    collapse="auto",
) -> DataFrame:
    """(doc_id, n_bigrams, avg_logp, perplexity) for EVERY input doc —
    add-k bigram perplexity under the given LM. Docs with < 2 tokens get
    NULL scores (n_bigrams 0). The vocab and unigram tables broadcast
    (≤ V rows); the bigram table shuffle-joins (see module doc); the
    corpus-sized shuffles are that bigram join and the final per-doc
    aggregation; bigrams come from the in-row pair zip, never a per-doc
    window over the token stream."""
    if k <= 0:
        raise ValueError(f"smoothing k must be > 0, got {k}")
    base = ensure_parallelism(docs)
    # V = unigram TYPE count (incl. <unk>), folded into the plan as a
    # broadcast 1-row aggregate: an eager .count() would re-execute the
    # whole train lineage at plan-build time and again in the scoring job
    v_row = F.broadcast(unigrams.agg(F.count(F.lit(1)).cast("double").alias("_V")))
    uni = unigrams.select(F.col("w").alias("w"), F.col("cnt").alias("_c1"))
    bi = bigrams.select(F.col("w1").alias("w"), F.col("w2"), F.col("cnt").alias("_c2"))

    mode = collapse_mode(base, text_col, collapse)
    units, attach = text_units(base, text_col, id_col, mode)
    pairs = (
        units.select("_k", F.explode_outer(_adjacent_pairs(F.col("_t"))).alias("_p"))
        .where(F.col("_p").isNotNull())
        .select("_k", F.col("_p.w1r").alias("w1r"), F.col("_p.w2r").alias("w2r"))
    )
    mapped = _map_oov(_map_oov(pairs, vocab, "w1r", "w"), vocab, "w2r", "w2")
    # uni broadcasts (truly bounded by the capped vocab: ≤ V rows);
    # the BIGRAM table is bounded by observed corpus bigrams — up to
    # V² rows (2.5×10^9 at V=50k), multi-TB on a web corpus — so it
    # must NEVER be force-broadcast: a plain shuffle join on (w, w2)
    # with AQE is the right plan, and Spark's size threshold still
    # auto-broadcasts it when a small LM genuinely fits
    scored = (
        mapped.join(bi, ["w", "w2"], "left")
        .join(F.broadcast(uni), "w", "left")
        .crossJoin(v_row)
        .select(
            "_k",
            (
                F.log(
                    (F.coalesce(F.col("_c2"), F.lit(0)) + F.lit(k))
                    / (F.coalesce(F.col("_c1"), F.lit(0)) + F.lit(k) * F.col("_V"))
                )
            ).alias("_lp"),
        )
        .groupBy("_k")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum("_lp").alias("_s"))
    )
    # units with < 2 tokens have no pairs: the left join keeps them with
    # n_bigrams 0 and NULL scores
    per_unit = units.select("_k").join(scored, "_k", "left")
    n = F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long")
    return attach(per_unit).select(
        F.col(id_col).alias("doc_id"),
        n.alias("n_bigrams"),
        F.round(F.col("_s") / n, round_to).alias("avg_logp"),
        F.round(F.exp(-F.col("_s") / n), round_to).alias("perplexity"),
    )
