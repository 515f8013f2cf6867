"""Streaming distribution drift: per-event-time-window PSI against a
static baseline histogram (the live-ingest arm of the run-over-run drift
loop in plans/stats_history.py). A window's DISTRIBUTION_DRIFT row is
operators/drift.drift_violations over its streaming_psi row, the batch
verdict's own thresholding.

Shape: ONE streaming aggregation — groupBy(window) with nbins CONDITIONAL
count columns (bucket membership is a pure projection, nbins is a static
schema parameter), then PSI folds those columns as stateless expressions.
A chained (window,bucket)→window two-agg design was tried first and
rejected: multi-stateful append-mode pipelines need an extra
watermark-advancing micro-batch per stage to flush, which finite
AvailableNow replays don't reliably get. The baseline is nbins counts whose
proportions fold into literals (operators/drift.psi_of_counts), so the
stream never joins anything: state is one row per open window, and
``start_windows`` keeps it on one state partition.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from json_schema_py_spark.operators.drift import bucket_expr, psi_of_counts


def streaming_psi(
    stream: DataFrame,
    col: str,
    lo: float,
    hi: float,
    nbins: int,
    baseline: Iterable[tuple[int, int]],
    window_duration: str = "10 minutes",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    eps: float = 1e-6,
    round_to: int = 6,
) -> DataFrame:
    """(window_start, window_end, n_rows, psi) per event-time window.

    ``baseline`` is the baseline histogram's (bucket, cnt) COUNTS, e.g.
    ``HistogramLog.latest_counts()[col]`` or a collected operators/drift
    .histogram; building the stream runs no Spark job. Each window's PSI is
    ``psi_of_counts`` over its per-bucket counts, the same Column the
    deployed job evaluates over its collected histogram, so batch and
    stream agree bucket for bucket. Late rows beyond ``watermark`` are
    dropped by the engine; windows emit once finalized (append mode).

    Pushdown caveat (probed): the NULL filter on ``col`` is pushed past
    the watermark node into the file scan, so rows with a NULL value
    never advance the watermark — watermark-driving heartbeat/sentinel
    rows must carry a NON-NULL value (they land in their own later
    window, which emits separately)."""
    b = bucket_expr(col, lo, hi, nbins)
    per_w = (
        stream.withWatermark(ts_col, watermark)
        .where(F.col(col).isNotNull())
        .withColumn("_bkt", b)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"))
        .agg(
            *[
                F.sum((F.col("_bkt") == bi).cast("long")).alias(f"_c{bi}")
                for bi in range(nbins)
            ],
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    psi_col = psi_of_counts([F.col(f"_c{bi}") for bi in range(nbins)], baseline, eps, round_to)
    return per_w.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.col("n_rows"),
        psi_col.alias("psi"),
    )


def start_windows(windows: DataFrame, path: str, checkpoint: str) -> StreamingQuery:
    """Start an AvailableNow query appending ``windows`` (a streaming_psi
    frame) as parquet at ``path``, its state on ONE partition.

    The state is keyed by the window alone, so every row of a window lands
    in one state partition whatever the count, and the partial aggregation
    stays map-side; the session's shuffle partitions (200 under
    spark-submit's defaults) would only commit that many near-empty state
    stores per micro-batch. The query's session is cloned from the
    caller's when the query is constructed inside ``start()``, so the
    setting is applied around that call alone and the caller's session
    keeps its own. A restarted query keeps the count its checkpoint
    recorded."""
    spark = windows.sparkSession
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        return (
            windows.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(key, prev)
