"""Histogram bucketing + population-stability-index drift (north rule).

No reference analogue (SURVEY.md §2.5) — the reference has no cross-run
state. Buckets are fixed-width over [lo, hi) with under/overflow clamped to
the edge buckets, so the bucket id is a pure projection: one groupBy(bucket)
per side (map-side combinable, shuffle = nbins rows/partition at any scale),
then PSI is an nbins-row join — driver-trivial.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_expr(col: str, lo: float, hi: float, nbins: int):
    """The clamped fixed-width bucket id as a Column — ONE definition shared
    by the batch histogram and streaming_psi so batch/stream parity is
    structural. Validates the binning up front: a width-0 or
    zero-bin histogram would otherwise only surface as an ANSI
    divide-by-zero mid-stream."""
    if nbins < 1:
        raise ValueError(f"nbins must be >= 1, got {nbins}")
    if not hi > lo:
        raise ValueError(f"hi must exceed lo, got [{lo}, {hi})")
    w = (hi - lo) / nbins
    b = F.floor((F.col(col).cast("double") - F.lit(lo)) / F.lit(w))
    return F.least(F.greatest(b, F.lit(0)), F.lit(nbins - 1)).cast("int")


def histogram(df: DataFrame, col: str, lo: float, hi: float, nbins: int) -> DataFrame:
    """(bucket, cnt) with fixed-width buckets over [lo, hi); values outside
    clamp into the first/last bucket (so counts always sum to n_rows)."""
    b = bucket_expr(col, lo, hi, nbins)
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def psi(
    current: DataFrame,
    baseline: DataFrame,
    eps: float = 1e-6,
    round_to: int = 6,
) -> DataFrame:
    """Population stability index between two (bucket, cnt) histograms.

    PSI = Σ (p_i − q_i) · ln(p_i / q_i), proportions clamped at ``eps`` so
    empty buckets don't blow up. Returns a single row (psi double) — rounded
    for cross-engine comparability. Rule of thumb: <0.1 stable, >0.25 drifted.
    """
    cur = current.select(F.col("bucket"), F.col("cnt").alias("c_cur"))
    base = baseline.select(F.col("bucket"), F.col("cnt").alias("c_base"))
    joined = cur.join(base, "bucket", "full_outer").fillna(0, ["c_cur", "c_base"])
    tot = joined.agg(
        F.sum("c_cur").alias("t_cur"), F.sum("c_base").alias("t_base")
    )
    j = joined.crossJoin(F.broadcast(tot))
    p = F.greatest(F.col("c_cur") / F.col("t_cur"), F.lit(eps))
    q = F.greatest(F.col("c_base") / F.col("t_base"), F.lit(eps))
    return j.agg(F.round(F.sum((p - q) * F.log(p / q)), round_to).alias("psi"))


def psi_drift_violation(
    current: DataFrame,
    baseline: DataFrame,
    threshold: float = 0.25,
    column: str = "value",
) -> DataFrame:
    """PSI thresholded into the violations vocabulary: emits one
    (doc_id=NULL, rule_id=DISTRIBUTION_DRIFT, path=/<column>, observed=psi)
    row when PSI exceeds the threshold — a table-level verdict row."""
    p = psi(current, baseline)
    return p.where(F.col("psi") > threshold).select(
        F.lit(None).cast("string").alias("doc_id"),
        F.lit("DISTRIBUTION_DRIFT").alias("rule_id"),
        F.lit("/" + column).alias("path"),
        F.col("psi").cast("string").alias("observed"),
    )
