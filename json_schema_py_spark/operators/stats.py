"""Fused single-pass per-column statistics (north rule / SURVEY.md §2.5).

One ``df.agg(...)`` computes, for every watched column in a SINGLE scan +
single partial-aggregation pass (Catalyst fuses all agg expressions into one
HashAggregate; map-side partials mean the shuffle carries one row per
partition, regardless of table size — this is what makes the pass viable at
10^12 rows):

* row count, null count / null rate   (reference seed: required checks,
  json_schema/constraints/objects.py:94-103)
* min / max / mean (numeric columns)
* distinct count — HyperLogLog++ sketch via ``approx_count_distinct``
  (reference seed: uniqueItems, json_schema/constraints/arrays.py:72-98),
  or exact when ``exact_distinct=True`` (exact needs a per-column expand —
  only for oracle comparisons at small scale)
* quantile sketch via ``percentile_approx`` (Spark's GK sketch; the KLL± of
  PAPERS.md with the same error/size contract for this use)

The long-format reshape (one output row per column) happens on the single
aggregated row — a driver-side-size explode, zero extra jobs.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def column_stats(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
    rsd: float = 0.05,
    exact_distinct: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """One row per watched column:
    (column, n_rows, n_null, null_rate, n_distinct, min, max, mean, quantiles).

    min/max/mean/quantiles are NULL for non-numeric columns; min/max are also
    reported as strings (min_str/max_str) for any orderable column.
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = list(columns) if columns else list(fields)

    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        dt = fields[c]
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nn"))
        if exact_distinct:
            aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__nd"))
        else:
            aggs.append(F.approx_count_distinct(F.col(c), rsd).alias(f"{c}__nd"))
        if isinstance(dt, _NUMERIC):
            aggs.append(F.min(F.col(c)).cast("double").alias(f"{c}__min"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"{c}__max"))
            # string renderings keep the ORIGINAL type (bigint 553 → '553',
            # not '553.0') for cross-engine comparability
            aggs.append(F.min(F.col(c)).cast("string").alias(f"{c}__mins"))
            aggs.append(F.max(F.col(c)).cast("string").alias(f"{c}__maxs"))
            aggs.append(F.avg(F.col(c)).alias(f"{c}__mean"))
            aggs.append(
                F.percentile_approx(
                    F.col(c).cast("double"), list(quantiles), accuracy
                ).alias(f"{c}__q")
            )
        elif isinstance(dt, (T.StringType, T.DateType, T.TimestampType)):
            aggs.append(F.min(F.col(c)).cast("string").alias(f"{c}__mins"))
            aggs.append(F.max(F.col(c)).cast("string").alias(f"{c}__maxs"))

    agg = df.agg(*aggs)

    per_col = []
    for c in cols:
        dt = fields[c]
        numeric = isinstance(dt, _NUMERIC)
        orderable_str = isinstance(dt, (T.StringType, T.DateType, T.TimestampType))
        per_col.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                F.col(f"{c}__nn").alias("n_null"),
                (F.col(f"{c}__nn") / F.col("__n")).alias("null_rate"),
                F.col(f"{c}__nd").alias("n_distinct"),
                (F.col(f"{c}__min") if numeric else F.lit(None).cast("double")).alias("min"),
                (F.col(f"{c}__max") if numeric else F.lit(None).cast("double")).alias("max"),
                (F.col(f"{c}__mean") if numeric else F.lit(None).cast("double")).alias("mean"),
                (
                    F.col(f"{c}__q")
                    if numeric
                    else F.lit(None).cast(T.ArrayType(T.DoubleType()))
                ).alias("quantiles"),
                (
                    F.col(f"{c}__mins")
                    if (orderable_str or numeric)
                    else F.lit(None).cast("string")
                ).alias("min_str"),
                (
                    F.col(f"{c}__maxs")
                    if (orderable_str or numeric)
                    else F.lit(None).cast("string")
                ).alias("max_str"),
            )
        )

    return agg.select(F.explode(F.array(*per_col)).alias("s")).select("s.*")


# --- count-min sketch (frequency estimation at 10^12 scale) ---------------


def cms_table(
    df: DataFrame,
    col: str,
    width: int = 1024,
    depth: int = 3,
) -> DataFrame:
    """(row, bucket, cnt) — a count-min sketch as a TABLE: depth
    independent hash rows, each a width-bucket histogram of the column's
    values. estimate(v) = min over rows of cnt[row][h_row(v)] ≥ true
    count, with overestimate ≤ e·N/width at 1−(1/e)^depth confidence.

    Scale shape: depth parallel bucket ids per value in ONE projection
    (explode over a depth-literal array), then ONE groupBy((row, bucket))
    — map-side combinable, output bounded at depth×width rows no matter
    the input size. The sketch MERGES by adding tables (union + re-agg),
    which is what a streaming/partitioned rollup needs. Hashing is the
    engine's md5-prefix stable_hash64 (seeded per row), so a DuckDB
    oracle recomputes every bucket count EXACTLY — the structure is
    exactly verifiable even though estimates are approximate."""
    if width < 1 or depth < 1:
        raise ValueError(f"width/depth must be >= 1, got {width}/{depth}")
    return (
        df.where(F.col(col).isNotNull())
        .select(F.explode(_cms_buckets(F.col(col), width, depth)).alias("rb"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        # the build parameters travel WITH the sketch (column metadata —
        # zero-cost, no action): cms_estimates reads them back so a
        # width/depth mismatch is a loud ValueError instead of silent
        # est=0 for every query
        .withMetadata("cnt", {"cms_width": width, "cms_depth": depth})
    )


def _cms_buckets(value, width: int, depth: int):
    """array<struct<row,bucket>> — the ONE seeded (row, bucket) projection
    shared by sketch build and query (two copies could drift, and a
    drifted query side silently estimates 0 for every value — breaking the
    est >= true contract with no error)."""
    from json_schema_py_spark.functions.text import stable_hash64

    return F.array(
        *[
            F.struct(
                F.lit(d).alias("row"),
                F.pmod(
                    stable_hash64(value.cast("string"), seed=f"cms{d}"),
                    F.lit(width),
                ).cast("int").alias("bucket"),
            )
            for d in range(depth)
        ]
    )


def cms_estimates(
    cms: DataFrame,
    queries: DataFrame,
    query_col: str = "value",
    width: int | None = None,
    depth: int | None = None,
) -> DataFrame:
    """(value, est) — point-frequency estimates for a query set against a
    cms_table sketch: min over depth rows of the matching bucket count
    (absent bucket = 0). The SKETCH broadcasts (depth×width rows); the
    query side pays one distinct + one groupBy shuffle, both bounded by
    the query-set size — fine for the intended candidate-set use, not
    for querying the whole corpus back.

    width/depth MUST match the sketch's build parameters: a mismatch
    hashes into buckets the sketch never populated and every estimate
    silently becomes 0. cms_table stamps its parameters
    into the cnt column's metadata, so the default (None) reads them
    straight off the sketch — no way to mismatch; an EXPLICIT width/depth
    is cross-checked against that metadata and a conflict raises. Only a
    sketch that lost its metadata (round-tripped through a writer that
    drops it, or hand-built) needs — and silently trusts — explicit
    parameters."""
    meta = cms.schema["cnt"].metadata if "cnt" in cms.columns else {}
    m_width, m_depth = meta.get("cms_width"), meta.get("cms_depth")
    if width is None:
        width = m_width
    elif m_width is not None and width != m_width:
        raise ValueError(
            f"width={width} does not match the sketch's build width {m_width}"
        )
    if depth is None:
        depth = m_depth
    elif m_depth is not None and depth != m_depth:
        raise ValueError(
            f"depth={depth} does not match the sketch's build depth {m_depth}"
        )
    if width is None or depth is None:
        raise ValueError(
            "sketch carries no cms_width/cms_depth metadata (not built by "
            "cms_table, or metadata was stripped) — pass width/depth explicitly"
        )
    if width < 1 or depth < 1:
        raise ValueError(f"width/depth must be >= 1, got {width}/{depth}")
    q = queries.select(F.col(query_col).alias("value")).distinct()
    keyed = q.select(
        "value",
        F.explode(_cms_buckets(F.col("value"), width, depth)).alias("rb"),
    ).select("value", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    joined = keyed.join(F.broadcast(cms), ["row", "bucket"], "left").select(
        "value", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy("value").agg(F.min("cnt").cast("long").alias("est"))
