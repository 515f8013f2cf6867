"""Temporal joins & rollups — the three time-series operators Spark's
DataFrame API famously lacks as primitives (the task brief's canonical
custom-operator examples): AS-OF join, interval (range) join, and the
hypertable-style multi-granularity rollup. Each is expressed as a
composition of built-in ops with an explicit, documented scale shape —
no UDFs, no driver loops.

* ``as_of_join`` — backward point-in-time join: for every left row, the
  most recent right row at-or-before its timestamp (same key), the
  standard market-data / sensor-enrichment join. ONE union + ONE
  window (shuffle+sort per key) — the same cost class as sessionize;
  no range explosion, no per-row probe.
* ``interval_join`` — events ⋈ intervals containment: the naive Spark
  formulation is a cross join + filter (quadratic); here intervals
  explode to fixed-width time buckets, events compute their ONE bucket,
  and an equi-join + exact containment filter does the rest. Work =
  events + Σ interval_len/bucket_width, with a hard per-interval bucket
  cap + audit (the family's bounded-work doctrine).
* ``time_rollup`` — one pass, many granularities: GROUPING SETS over
  pre-truncated bucket columns (hour/day/week/...), partial-aggregated
  map-side like any groupBy; the hypertable "continuous aggregate"
  readback shape.

All three are exactly DuckDB-oracle-able (ASOF JOIN is a native DuckDB
operator; the others are plain SQL) — gate queries q_as_of_join,
q_interval_join, q_time_rollup.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _contains_map(dt: T.DataType) -> bool:
    """True when ``dt`` has a MapType anywhere in its tree — such values
    are not orderable (Spark rejects them in sort/window ORDER BY)."""
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _orderable(df: DataFrame, col: str) -> Column:
    """``col`` itself when its type is orderable, else its to_json form —
    a content-deterministic stand-in so tie-breaking never depends on row
    layout even for map-typed payload columns."""
    if _contains_map(df.schema[col].dataType):
        return F.to_json(F.col(col))
    return F.col(col)


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    tolerance_seconds: float | None = None,
    right_prefix: str = "asof_",
) -> DataFrame:
    """Backward as-of join: every left row gains the LATEST right row with
    ``right_ts <= left_ts`` on the same key (NULLs when none, or when the
    match is older than ``tolerance_seconds``).

    Plan: tag right rows (side 0) and left rows (side 1), union, and run
    ONE window per key ordered by (ts, side, right-row order) carrying
    ``last(right_payload, ignorenulls=True)`` — a right row at exactly
    the left timestamp sorts FIRST and therefore matches (<= semantics).
    Right-side ties on (key, ts) resolve to the last row in a
    content-deterministic order over the right payload columns
    (map-typed columns order by their to_json form — maps themselves
    are not orderable).

    ``right_ts`` must not appear in ``key_cols`` when ``tolerance_seconds``
    is set — the tolerance check reads the matched row's timestamp from
    the payload, which excludes key columns (raises ValueError).

    Scale: one shuffle+sort on the key — the sessionize cost class. Hot
    keys lean on AQE like every windowed op; there is NO range explosion
    and the right side is never broadcast (both sides stream)."""
    keys = list(key_cols)
    if tolerance_seconds is not None and right_ts in keys:
        raise ValueError(
            f"right_ts {right_ts!r} is also a key column: the tolerance "
            "check needs the matched row's timestamp in the right payload, "
            "which excludes key columns — drop it from key_cols or join "
            "without tolerance_seconds"
        )
    rpay = F.struct(
        *[F.col(c) for c in right.columns if c not in keys]
    ).alias("_rpay")
    rtie = F.struct(
        *[_orderable(right, c) for c in right.columns if c not in keys]
    ).alias("_rtie")
    r = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        rpay,
        rtie,
    ).where(
        # a NULL-timestamp right row can never satisfy right_ts <= left_ts,
        # but NULLS-FIRST ASC ordering would otherwise make it the carried
        # match for left rows with no genuine predecessor
        F.col("_ts").isNotNull()
    )
    lpay = F.struct(*[F.col(c) for c in left.columns]).alias("_lpay")
    l = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        lpay,
    )
    r = r.withColumn("_lpay", F.lit(None).cast(l.schema["_lpay"].dataType))
    l = l.withColumn("_rpay", F.lit(None).cast(r.schema["_rpay"].dataType))
    l = l.withColumn("_rtie", F.lit(None).cast(r.schema["_rtie"].dataType))
    u = r.select(*keys, "_ts", "_side", "_rpay", "_rtie", "_lpay").unionByName(
        l.select(*keys, "_ts", "_side", "_rpay", "_rtie", "_lpay")
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_ts").asc(), F.col("_side").asc(), F.col("_rtie").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("_m", F.last("_rpay", ignorenulls=True).over(w)).where(
        F.col("_side") == 1
    )
    if tolerance_seconds is not None:
        too_old = (
            F.unix_micros(F.col("_ts").cast("timestamp"))
            - F.unix_micros(F.col(f"_m.{right_ts}").cast("timestamp"))
        ) > int(tolerance_seconds * 1_000_000)
        matched = matched.withColumn(
            "_m", F.when(too_old, F.lit(None)).otherwise(F.col("_m"))
        )
    out_cols = [F.col(f"_lpay.{c}").alias(c) for c in left.columns]
    out_cols += [
        F.col(f"_m.{c}").alias(f"{right_prefix}{c}")
        for c in right.columns
        if c not in keys
    ]
    return matched.select(*out_cols)


def interval_join(
    events: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    key_cols: Sequence[str] = (),
    bucket_seconds: int = 3600,
    max_buckets_per_interval: int = 10_000,
) -> DataFrame:
    """Events joined to every interval containing them
    (``start <= ts <= end``, plus key equality when ``key_cols`` given).

    Scale shape: each interval explodes to the fixed-width buckets it
    covers; each event computes its ONE bucket; the join is a plain
    equi-join on (keys…, bucket) followed by the exact containment
    filter — never a cross join. Join work = |events| + Σ ceil(len/width)
    per interval. Intervals longer than ``max_buckets_per_interval``
    buckets are EXCLUDED (bounded work); audit them with
    interval_join_oversized — pick a coarser ``bucket_seconds`` for that
    tail, exactly like the LSH/ngram bucket-cap pattern. Intervals with
    ``start > end`` or a NULL endpoint are also excluded (they contain no
    timestamp); audit them with interval_join_invalid so nothing is ever
    silently dropped without a row."""
    keys = list(key_cols)
    # .cast("timestamp"): interval arithmetic yields TIMESTAMP_NTZ, which
    # unix_micros rejects (Spark 4 ANSI)
    ev_b = F.floor(F.unix_micros(F.col(ts_col).cast("timestamp")) / (bucket_seconds * 1_000_000))
    s_b = F.floor(F.unix_micros(F.col(start_col).cast("timestamp")) / (bucket_seconds * 1_000_000))
    e_b = F.floor(F.unix_micros(F.col(end_col).cast("timestamp")) / (bucket_seconds * 1_000_000))
    iv = (
        intervals.where(F.col(start_col) <= F.col(end_col))
        .where((e_b - s_b) < max_buckets_per_interval)
        .withColumn("_b", F.explode(F.sequence(s_b, e_b)))
    )
    e = events.withColumn("_b", ev_b)
    joined = e.join(iv, keys + ["_b"])
    return joined.where(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col))
    ).drop("_b")


def interval_join_oversized(
    intervals: DataFrame,
    start_col: str = "start",
    end_col: str = "end",
    bucket_seconds: int = 3600,
    max_buckets_per_interval: int = 10_000,
) -> DataFrame:
    """The intervals interval_join would EXCLUDE at this bucket width —
    the audit trail for the capped run (re-run the oversized tail with a
    coarser bucket_seconds; nothing is ever silently dropped without a
    row here). Invalid intervals (start > end / NULL endpoint) are a
    different exclusion class — see interval_join_invalid."""
    s_b = F.floor(F.unix_micros(F.col(start_col).cast("timestamp")) / (bucket_seconds * 1_000_000))
    e_b = F.floor(F.unix_micros(F.col(end_col).cast("timestamp")) / (bucket_seconds * 1_000_000))
    return intervals.where(F.col(start_col) <= F.col(end_col)).where(
        (e_b - s_b) >= max_buckets_per_interval
    )


def interval_join_invalid(
    intervals: DataFrame,
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """The intervals interval_join excludes as INVALID — ``start > end``
    or either endpoint NULL (no timestamp can satisfy containment). The
    companion audit to interval_join_oversized: between the
    two, every input interval is either joined or accounted for."""
    return intervals.where(
        F.col(start_col).isNull()
        | F.col(end_col).isNull()
        | (F.col(start_col) > F.col(end_col))
    )


_GRANULARITIES = ("minute", "hour", "day", "week", "month", "quarter", "year")


def time_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    granularities: Sequence[str] = ("hour", "day"),
    key_cols: Sequence[str] = (),
) -> DataFrame:
    """(granularity, bucket_start, keys…, n, sum, min, max, mean) at every
    requested granularity in ONE aggregation pass — GROUPING SETS over
    pre-truncated bucket columns, so Catalyst expands rows map-side and
    partial-aggregates like any groupBy (shuffle = one row per group, not
    per input row per granularity). The hypertable continuous-aggregate
    readback: dashboards read hour AND day rollups from one table."""
    for g in granularities:
        if g not in _GRANULARITIES:
            raise ValueError(f"granularity {g!r} not in {_GRANULARITIES}")
    if len(set(granularities)) != len(granularities):
        raise ValueError("granularities must be distinct")
    keys = list(key_cols)
    pre = df.select(
        *[F.col(k) for k in keys],
        F.col(value_col).alias("_v"),
        *[
            F.date_trunc(g, F.col(ts_col)).alias(f"_g_{g}")
            for g in granularities
        ],
    )
    gcols = [f"_g_{g}" for g in granularities]
    sets = [[*keys, c] for c in gcols]
    agg = pre.groupingSets(
        sets,
        *[F.col(c) for c in keys + gcols],
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_v").alias("sum"),
        F.min("_v").alias("min"),
        F.max("_v").alias("max"),
        F.avg("_v").alias("mean"),
        # set identity via the grouping bitmask, NOT bucket-NULL sniffing:
        # a NULL-timestamp group has a NULL bucket in its OWN set and
        # would otherwise be misattributed to another granularity
        F.grouping_id().alias("_gid"),
    )
    # grouping_id bit order follows the *cols order (keys first, then
    # gcols), most-significant first; keys are grouped in every set (0
    # bits), so set i's id has a 1 bit for every gcol except i
    nbits = len(keys) + len(gcols)
    gid_of_set = [
        sum(1 << (nbits - 1 - (len(keys) + j)) for j in range(len(gcols)) if j != i)
        for i in range(len(gcols))
    ]
    gran = None
    for g, gid in zip(granularities, gid_of_set):
        w = F.when(F.col("_gid") == gid, F.lit(g))
        gran = w if gran is None else gran.when(F.col("_gid") == gid, F.lit(g))
    bucket = None
    for c, gid in zip(gcols, gid_of_set):
        w_ = F.when(F.col("_gid") == gid, F.col(c))
        bucket = w_ if bucket is None else bucket.when(F.col("_gid") == gid, F.col(c))
    return agg.select(
        gran.alias("granularity"),
        bucket.alias("bucket_start"),
        *[F.col(k) for k in keys],
        "n", "sum", "min", "max", "mean",
    )
