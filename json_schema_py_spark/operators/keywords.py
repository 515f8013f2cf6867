"""TF-IDF keyword extraction — per-document salient terms against the
corpus distribution, the classic retrieval/tagging signal a curation or
indexing pipeline attaches beside quality scores.

Scale shape: term frequencies are ONE map-side-combinable groupBy over
the exploded token stream; document frequencies are ONE groupBy over the
(doc, term)-distinct frame (bounded by the corpus vocabulary); the
corpus size N is a single bounded action; the per-doc top-k is one
window over the (doc, term) frame with a deterministic
(tfidf DESC, term ASC) order — output bounded at docs × k. The df
table re-attaches to the tf frame with a plain shuffle join on term:
its cardinality is the CORPUS VOCABULARY (Heaps' law: 10^8-10^9 terms
at web scale), so it must never be force-broadcast — Spark's size
threshold / AQE still auto-broadcasts it when a small corpus genuinely
fits.

Smoothed idf (sklearn's convention): idf(t) = ln((1+N)/(1+df(t))) + 1 —
strictly positive, so a term in every document still ranks by tf.
Exactly DuckDB-oracle-able (gate query q_tfidf_terms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from json_schema_py_spark.functions.text import tokens
from json_schema_py_spark.util import collapse_mode, ensure_parallelism, text_units


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_df: int = 1,
    round_to: int = 6,
    collapse="auto",
) -> DataFrame:
    """(doc_id, term, tf, df, tfidf, rank) — each document's top ``k``
    terms by tf-idf (rank 1 = most salient; ties break by term ASC, so
    two runs always pick the same terms). Terms appearing in fewer than
    ``min_df`` documents are excluded BEFORE ranking (hapax noise).

    Computed per text unit (util.text_units): tf and the ranked top-k
    once per unit, df as the sum of unit weights, so a duplicate-heavy
    corpus does the work once per distinct text."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df}")
    # N folded into the plan as a broadcast 1-row aggregate — an eager
    # .count() would scan the corpus once at plan-build time and again in
    # the real job
    n_row = F.broadcast(
        docs.agg(F.count_distinct(F.col(id_col)).cast("double").alias("_N"))
    )
    base = ensure_parallelism(docs)
    mode = collapse_mode(base, text_col, collapse)
    units, attach = text_units(base, text_col, id_col, mode)
    toks = units.select(
        "_k", "_w", F.explode_outer(tokens(F.col("_t"))).alias("term")
    ).where(F.col("term").isNotNull())
    tf = toks.groupBy("_k", "_w", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df = docs containing the term = sum of the weights of units holding it
    dfreq = (
        tf.groupBy("term")
        .agg(F.sum("_w").alias("df"))
        .where(F.col("df") >= min_df)
    )
    # dfreq is vocabulary-sized (unbounded at web scale): no broadcast
    # hint — the shuffle join on term is the right plan, and the size
    # threshold still auto-broadcasts genuinely small vocabularies
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(n_row)
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.lit(1.0) + F.col("_N")) / (F.lit(1.0) + F.col("df")))
                    + F.lit(1.0)
                ),
                round_to,
            ),
        )
    )
    w = Window.partitionBy("_k").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("_k", "term", "tf", "df", "tfidf", F.col("rank").cast("int").alias("rank"))
    )
    return attach(topk).select(
        F.col(id_col).alias("doc_id"), "term", "tf", "df", "tfidf", "rank"
    )
