"""N-gram language-model perplexity scoring — the CCNet/Gopher-style
quality filter a pretraining pipeline runs at corpus scale: train a
smoothed bigram LM on a reference corpus, score every candidate document,
drop/bucket by perplexity. A 5-gram KenLM is the production tool; the
bigram form here keeps the SAME distributed shape (count tables + a
per-token scoring join) while staying exactly DuckDB-oracle-able — the
smoothing arithmetic is recomputed bit-for-bit by the gate query
(q_lm_perplexity).

Scale shape (round-7 rework):
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
* both operators collapse duplicate texts ("auto": util.collapse_mode):
  counts are multiplicity-weighted over distinct texts and perplexity is
  scored once per distinct text, then fanned back out to ids by raw-md5
  — identical outputs, 1/dup-factor the tokenize/join work on the
  replicated corpora crawl pipelines actually see.

Smoothing: add-k (Laplace for k=1):
    P(w2 | w1) = (c(w1,w2) + k) / (c(w1) + k·V)
with V = number of distinct unigram types in the LM (including <unk>).
perplexity = exp(−mean ln P) over the document's bigrams; documents with
fewer than 2 tokens carry NULL scores (no bigram evidence — callers
decide their fate, never a silent drop).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from json_schema_py_spark.functions.text import tokens
from json_schema_py_spark.util import (
    attach_per_text,
    collapse_mode,
    collapse_representatives,
    ensure_parallelism,
)

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
    if mode != "off":
        # duplicate-heavy corpus: count once per distinct text, weighted
        # by its multiplicity — integer-exact vs the per-doc counts.
        # explode_outer + filter (not plain explode): a non-outer
        # Generate's inferred size()>0 predicate would be pushed below
        # the representative semi-join and re-tokenize the full corpus.
        # ONE compact groupBy yields both the multiplicity table and the
        # representative ids, persisted (lazily: building the plan runs
        # no job; bounded at the distinct-text count): the three LM tables
        # the caller materializes (vocab, unigrams, bigrams) each read
        # this subtree, and without the persist every materialization
        # paid two extra full-corpus md5 scans
        ids = base.select(
            F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("_rfp")
        )
        grp = (
            ids.groupBy("_rfp")
            .agg(F.count(F.lit(1)).alias("_w"), F.min("id").alias("_rid"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        rep_rows = base.join(
            grp.select(F.col("_rid").alias(id_col)), id_col, "left_semi"
        )
        src = rep_rows.select(
            F.md5(F.col(text_col)).alias("_rfp"), F.col(text_col).alias("_t")
        ).join(grp.select("_rfp", "_w"), "_rfp")
        toks_w = src.select(
            "_w", F.explode_outer(tokens(F.col("_t"))).alias("tok")
        ).where(F.col("tok").isNotNull())
        counts = toks_w.groupBy("tok").agg(F.sum("_w").alias("cnt"))
        pair_w = src.select(
            "_w", F.explode_outer(_adjacent_pairs(F.col("_t"))).alias("_p")
        ).where(F.col("_p").isNotNull())
        big_raw = pair_w.groupBy(
            F.col("_p.w1r").alias("w1r"), F.col("_p.w2r").alias("w2r")
        ).agg(F.sum("_w").alias("cnt"))
    else:
        toks = base.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
        pair_s = base.select(
            F.explode(_adjacent_pairs(F.col(text_col))).alias("_p")
        )
        big_raw = pair_s.groupBy(
            F.col("_p.w1r").alias("w1r"), F.col("_p.w2r").alias("w2r")
        ).agg(F.count(F.lit(1)).alias("cnt"))
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
    # corpus pass (the r6 implementation re-tokenized the whole corpus)
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
    aggregation — the r6 per-doc lead() window (a full shuffle+sort of
    the token stream) is gone, replaced by the in-row pair zip."""
    if k <= 0:
        raise ValueError(f"smoothing k must be > 0, got {k}")
    base = ensure_parallelism(docs)
    # V = unigram TYPE count (incl. <unk>), folded into the plan as a
    # broadcast 1-row aggregate — an eager .count() here re-executed the
    # whole train lineage (full corpus tokenize + vocab + groupBy) once
    # at plan-build time and again inside the scoring job (review r05)
    v_row = F.broadcast(unigrams.agg(F.count(F.lit(1)).cast("double").alias("_V")))
    uni = unigrams.select(F.col("w").alias("w"), F.col("cnt").alias("_c1"))
    bi = bigrams.select(F.col("w1").alias("w"), F.col("w2"), F.col("cnt").alias("_c2"))

    def _scored(src: DataFrame, key: str) -> DataFrame:
        """(key, n_bigrams, _sum_lp) per source row key."""
        pairs = (
            src.select(
                key, F.explode_outer(_adjacent_pairs(F.col("_t"))).alias("_p")
            )
            .where(F.col("_p").isNotNull())
            .select(key, F.col("_p.w1r").alias("w1r"), F.col("_p.w2r").alias("w2r"))
        )
        mapped = _map_oov(_map_oov(pairs, vocab, "w1r", "w"), vocab, "w2r", "w2")
        # uni broadcasts (truly bounded by the capped vocab: ≤ V rows);
        # the BIGRAM table is bounded by observed corpus bigrams — up to
        # V² rows (2.5×10^9 at V=50k), multi-TB on a web corpus — so it
        # must NEVER be force-broadcast: a plain shuffle join on (w, w2)
        # with AQE is the right plan, and Spark's size threshold still
        # auto-broadcasts it when a small LM genuinely fits (r5 VERDICT)
        scored = (
            mapped.join(bi, ["w", "w2"], "left")
            .join(F.broadcast(uni), "w", "left")
            .crossJoin(v_row)
            .select(
                key,
                (
                    F.log(
                        (F.coalesce(F.col("_c2"), F.lit(0)) + F.lit(k))
                        / (
                            F.coalesce(F.col("_c1"), F.lit(0))
                            + F.lit(k) * F.col("_V")
                        )
                    )
                ).alias("_lp"),
            )
        )
        return scored.groupBy(key).agg(
            F.count(F.lit(1)).alias("n_bigrams"), F.sum("_lp").alias("_sum_lp")
        )

    def _final(nb: Column, s: Column) -> list[Column]:
        n = F.coalesce(nb, F.lit(0)).cast("long")
        return [
            n.alias("n_bigrams"),
            F.round(s / n, round_to).alias("avg_logp"),
            F.round(F.exp(-s / n), round_to).alias("perplexity"),
        ]

    mode = collapse_mode(base, text_col, collapse)
    if mode != "off":
        # perplexity is a pure function of (text, LM): score once per
        # distinct text, fan back out by raw-md5 (LEFT attach: NULL-text
        # docs keep their n_bigrams=0 row — zero row loss)
        ids, rep_rows = collapse_representatives(base, text_col, id_col)
        src = rep_rows.select(
            F.md5(F.col(text_col)).alias("_rfp"), F.col(text_col).alias("_t")
        )
        per_text = src.select("_rfp").join(_scored(src, "_rfp"), "_rfp", "left")
        return attach_per_text(ids, per_text, mode, how="left").select(
            F.col("id").alias("doc_id"),
            *_final(F.col("n_bigrams"), F.col("_sum_lp")),
        )
    src = base.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
    )
    agg = _scored(src, "doc_id")
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select("doc_id", *_final(F.col("n_bigrams"), F.col("_sum_lp")))
    )
