"""Linear quality classifier — the fastText/CCNet-style "looks like the
seed set" filter every large-scale curation pipeline runs (GPT-3's
WebText-vs-CommonCrawl logistic filter, CCNet's fastText language/quality
gates). Train on labeled seed documents, score every corpus doc with a
log-odds quality signal, threshold downstream.

Model: multinomial Naive Bayes log-odds over whitespace tokens (the
NB-SVM / fastText-linear family). Training is CLOSED FORM — per-class
token counts with Laplace smoothing — so it needs no SGD loop: ONE
map-side-combinable groupBy over the exploded token stream produces the
entire model, which is why this shape (and not an iterative learner) is
the standard first-pass quality filter at web scale.

    w(t)  = ln((c1(t)+a) / (T1+a*V)) - ln((c0(t)+a) / (T0+a*V))
    bias  = ln(N1 / N0)
    score(doc) = bias + sum over token OCCURRENCES of w(t)

Scale shape (100 TB doctrine):
  - train: explode tokens -> groupBy(label, token) count (map-side
    partials) -> pivot to (token, c1, c0) via one more bounded groupBy;
    class totals and vocab size are 2-row / 1-row aggregates folded into
    the plan as broadcast joins (no eager .count()).
  - score: explode tokens -> join weights on token. The weights table is
    the training-set vocabulary — seed sets are small by construction
    (curated exemplars), so Spark's size threshold auto-broadcasts it;
    the hint is NEVER forced (at web scale a vocabulary table can reach
    10^8-10^9 rows and a forced broadcast OOMs). Per-doc sum is one
    map-side-combinable groupBy.
  - everything stays in whole-stage codegen: no Python UDFs.

Integer counts -> ln arithmetic -> round(6): deterministic, exactly
recomputable by DuckDB (gate query q_quality_classifier).

Reference parity note: the reference validator (json-schema-py) has no
classifier surface — this module is part of the training-data-pipeline
extension mandated alongside SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_schema_py_spark.functions.text import tokens
from json_schema_py_spark.util import collapse_mode, ensure_parallelism, text_units


def train_nb_classifier(
    docs: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    collapse="auto",
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(weights, bias)``.

    ``weights``: (token, c1, c0, weight) — one row per distinct token of
    the TRAINING corpus (both classes' vocabulary united), with the
    per-class occurrence counts and the smoothed log-odds weight.

    ``bias``: single row (bias,) = ln(N1/N0), the class-prior log-odds —
    returned as a 1-row frame so callers fold it into plans with a
    broadcast join instead of an eager collect.

    ``label_col`` must be 0/1 integers; both classes must be non-empty
    (ln of a zero prior is meaningless) — enforced lazily by the
    arithmetic producing NULL/NaN rather than eagerly scanning."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    base = ensure_parallelism(docs)
    mode = collapse_mode(base, text_col, collapse)
    # a unit is one (text, label) pair: the same text may carry both labels
    units, _ = text_units(base, text_col, id_col, mode, by=(label_col,))
    toks = units.select(
        F.col(label_col).cast("int").alias("_lbl"),
        "_w",
        F.explode_outer(tokens(F.col("_t"))).alias("token"),
    ).where(F.col("token").isNotNull())
    by_class = toks.groupBy("_lbl", "token").agg(F.sum("_w").alias("_c"))
    counts = by_class.groupBy("token").agg(
        F.sum(F.when(F.col("_lbl") == 1, F.col("_c")).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("_lbl") == 0, F.col("_c")).otherwise(0)).alias("c0"),
    )
    # class token totals (2 rows) and vocab size (1 row): bounded
    # aggregates folded into the plan as broadcast joins
    totals = F.broadcast(
        counts.agg(
            F.sum("c1").alias("_t1"),
            F.sum("c0").alias("_t0"),
            F.count(F.lit(1)).alias("_v"),
        )
    )
    weights = counts.crossJoin(totals).select(
        "token",
        "c1",
        "c0",
        (
            F.log((F.col("c1") + F.lit(alpha)) / (F.col("_t1") + F.lit(alpha) * F.col("_v")))
            - F.log((F.col("c0") + F.lit(alpha)) / (F.col("_t0") + F.lit(alpha) * F.col("_v")))
        ).alias("weight"),
    )
    bias = docs.agg(
        F.log(
            F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0))
            / F.sum(F.when(F.col(label_col) == 0, 1).otherwise(0))
        ).alias("bias")
    )
    return weights, bias


def score_quality(
    docs: DataFrame,
    weights: DataFrame,
    bias: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
    collapse="auto",
) -> DataFrame:
    """(doc_id, n_tokens, matched, score) — log-odds quality score per
    document: bias + sum of weights over token OCCURRENCES (a token seen
    twice counts twice, the multinomial convention). ``matched`` counts
    occurrences found in the training vocabulary; tokens outside it
    contribute 0 (the standard open-vocabulary fallback). Documents with
    zero tokens score exactly ``bias``. Scored once per text unit
    (util.text_units), so duplicate texts are scored once."""
    base = ensure_parallelism(docs)
    mode = collapse_mode(base, text_col, collapse)
    units, attach = text_units(base, text_col, id_col, mode)
    # explode_outer keeps zero-token units as one NULL-token row, so every
    # unit reaches the groupBy (n_tokens 0, score = bias). weights is
    # training-vocab-bounded: auto-broadcast when small, a plain shuffle
    # join at scale — never a forced hint
    toks = units.select("_k", F.explode_outer(tokens(F.col("_t"))).alias("token"))
    per_unit = (
        toks.join(weights.select("token", "weight"), "token", "left")
        .groupBy("_k")
        .agg(
            F.count(F.col("token")).alias("n_tokens"),
            F.count(F.col("weight")).alias("matched"),
            F.coalesce(F.sum("weight"), F.lit(0.0)).alias("_w_sum"),
        )
    )
    return attach(per_unit).crossJoin(F.broadcast(bias)).select(
        F.col(id_col).alias("doc_id"),
        "n_tokens",
        "matched",
        F.round(F.col("_w_sum") + F.col("bias"), round_to).alias("score"),
    )
