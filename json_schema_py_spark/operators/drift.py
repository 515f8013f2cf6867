"""Histogram bucketing + population-stability-index drift (north rule).

No reference analogue (SURVEY.md §2.5) — the reference has no cross-run
state. Buckets are fixed-width over [lo, hi) with under/overflow clamped to
the edge buckets, so the bucket id is a pure projection: one groupBy(bucket)
per side (map-side combinable, shuffle = nbins rows/partition at any scale).

Every DISTRIBUTION_DRIFT verdict is ``drift_violations`` over
``psi_of_counts``: PSI over per-bucket count Columns against baseline
proportions folded into literals. Batch evaluates it over a collected
histogram (``histogram_psi``), the streaming arm over each window's counts
(streaming/drift_stream.streaming_psi), so the two agree bit for bit.
``psi`` is the same math as a join of two histogram frames.

A histogram with no rows has no distribution: PSI against it is NULL on
every path, so it never becomes a drift row.
"""

from __future__ import annotations

from functools import reduce
from operator import add
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_py_spark.util import local_frame


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


def _clamp(p: Column, eps: float) -> Column:
    """``p`` raised to at least ``eps``; a NULL proportion (an empty
    histogram's) stays NULL, where F.greatest would turn it into ``eps``."""
    return F.when(p < eps, F.lit(eps)).otherwise(p)


def psi(
    current: DataFrame,
    baseline: DataFrame,
    eps: float = 1e-6,
    round_to: int = 6,
) -> DataFrame:
    """Population stability index between two (bucket, cnt) histograms.

    PSI = Σ (p_i − q_i) · ln(p_i / q_i), proportions clamped at ``eps`` so
    empty buckets don't blow up. Returns a single row (psi double) — rounded
    for cross-engine comparability; NULL when either histogram is empty.
    Rule of thumb: <0.1 stable, >0.25 drifted.
    """
    cur = current.select(F.col("bucket"), F.col("cnt").alias("c_cur"))
    base = baseline.select(F.col("bucket"), F.col("cnt").alias("c_base"))
    joined = cur.join(base, "bucket", "full_outer").fillna(0, ["c_cur", "c_base"])
    tot = joined.agg(
        F.nullif(F.sum("c_cur"), F.lit(0)).alias("t_cur"),
        F.nullif(F.sum("c_base"), F.lit(0)).alias("t_base"),
    )
    j = joined.crossJoin(F.broadcast(tot))
    p = _clamp(F.col("c_cur") / F.col("t_cur"), eps)
    q = _clamp(F.col("c_base") / F.col("t_base"), eps)
    return j.agg(F.round(F.sum((p - q) * F.log(p / q)), round_to).alias("psi"))


def psi_of_counts(
    counts: Sequence[Column],
    baseline: Iterable[tuple[int, int]],
    eps: float = 1e-6,
    round_to: int = 6,
) -> Column:
    """PSI of the histogram whose bucket ``i`` holds ``counts[i]`` rows
    against ``baseline`` (bucket, cnt) pairs, as one Column: psi()'s math
    (proportions clamped at ``eps``, terms summed in bucket order, rounded
    to ``round_to``) with the baseline proportions folded into literals.

    NULL when either side holds no rows. Duplicate baseline buckets are
    summed (a baseline built as a union of histograms keeps its
    distribution). A baseline bucket outside range(len(counts)) raises: it
    was built with different binning, and would otherwise deflate every
    proportion without a signal."""
    nbins = len(counts)
    base: dict[int, int] = {}
    for b, c in baseline:
        base[b] = base.get(b, 0) + c
    if not set(base) <= set(range(nbins)):
        raise ValueError(
            f"baseline has buckets {sorted(set(base) - set(range(nbins)))} "
            f"outside range({nbins}) — rebuild it with the same lo/hi/nbins"
        )
    qtot = sum(base.values())
    if not qtot:
        return F.lit(None).cast("double")
    tot = F.nullif(reduce(add, counts), F.lit(0)).cast("double")
    terms = []
    for bi, c in enumerate(counts):
        q = F.lit(max(base.get(bi, 0) / qtot, eps))
        p = _clamp(c.cast("double") / tot, eps)
        terms.append((p - q) * F.log(p / q))
    return F.round(reduce(add, terms), round_to)


def histogram_psi(
    spark: SparkSession,
    current: Iterable[tuple[int, int]],
    baseline: Iterable[tuple[int, int]],
    nbins: int,
    eps: float = 1e-6,
    round_to: int = 6,
) -> DataFrame:
    """One-row (psi) frame: ``psi_of_counts`` of a collected (bucket, cnt)
    histogram against ``baseline`` (NULL when either is empty). The counts
    are data in a local relation, so reading the frame runs no Spark job."""
    dense = [0] * nbins
    for b, c in current:
        dense[b] += c
    names = [f"c{i}" for i in range(nbins)]
    row = local_frame(
        spark, [tuple(dense)], T.StructType([T.StructField(n, T.LongType()) for n in names])
    )
    return row.select(psi_of_counts([F.col(n) for n in names], baseline, eps, round_to).alias("psi"))


def drift_violations(p: DataFrame, threshold: float = 0.25, column: str = "value") -> DataFrame:
    """A (psi) frame thresholded into the violations vocabulary: one
    (doc_id=NULL, rule_id=DISTRIBUTION_DRIFT, path=/<column>, observed=psi)
    row when PSI exceeds the threshold — a table-level verdict row. A NULL
    psi (an empty histogram) is no row. Columns of ``p`` other than psi are
    dropped, so one window's streaming_psi row thresholds like a batch one."""
    return p.where(F.col("psi") > threshold).select(
        F.lit(None).cast("string").alias("doc_id"),
        F.lit("DISTRIBUTION_DRIFT").alias("rule_id"),
        F.lit("/" + column).alias("path"),
        F.col("psi").cast("string").alias("observed"),
    )
