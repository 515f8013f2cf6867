"""Run-over-run statistics history: the operational drift loop.

Production runs don't hand-carry baseline histograms — they compare against
WHAT THE LAST RUN SAW. This module closes that loop with an append-only
histogram log (same storage doctrine as plans/checkpoint.LineageLog:
parquet directory in the sandbox, an Iceberg table in production,
identical read-side logic):

    log = HistogramLog(spark, path, bounds={"n_chars": (0.0, 600.0, 12)})
    baselines = log.latest_counts(exclude_run=run_id)   # {} on first run
    current = {c: histogram(df, c, *b).collect() for c, b in log.bounds.items()}
    drift = [
        drift_violations(histogram_psi(spark, current[c], base, log.bounds[c][2]), column=c)
        for c, base in baselines.items()
    ]
    log.append(current, run_id)                         # the next run's baseline

``append`` takes {column: (bucket, cnt)} histograms already built on the
log's bounds (frames, or their collected rows), so a job that aggregates
each watched column once for its drift check snapshots that same
aggregate (scripts/run_validation_job.py); given a frame instead, it
builds the histograms itself. A snapshot is written from its collected
rows, with the run's values (run_id, ts) as data: no per-run literal
reaches generated code.

Every run appends one nbins-row histogram per watched column (bounded:
columns × nbins rows per run); the newest PREVIOUS run is the baseline, so
drift always means "vs the last accepted snapshot", and retention is a
plain ts cutoff on the log.
"""

from __future__ import annotations

import os
import time
from typing import Iterable, Mapping, Union

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_py_spark.operators.drift import histogram
from json_schema_py_spark.util import local_frame

# a histogram: a (bucket, cnt) frame, or its collected (bucket, cnt) rows
Histogram = Union[DataFrame, Iterable[tuple[int, int]]]

HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("ts", T.DoubleType()),
    ]
)


def _rank_snapshots(h):
    """_ts_rank = 1 for each column's newest snapshot rows, 2 for the next,
    … (dense over ts so one snapshot's nbins rows share a rank) — the ONE
    snapshot-identity rule shared by latest_counts and prune."""
    w = Window.partitionBy("column").orderBy(F.desc("ts"))
    return h.withColumn("_ts_rank", F.dense_rank().over(w))


class HistogramLog:
    """Append-only per-run histogram snapshots with latest-previous lookup.

    ``bounds``: {column: (lo, hi, nbins)} — FIXED bucket bounds per column
    (comparability across runs requires identical bucketing; changing the
    bounds starts a new comparison epoch — old snapshots simply stop
    matching the bucket grid and should be aged out)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bounds: Mapping[str, tuple[float, float, int]],
    ):
        if not bounds:
            raise ValueError("HistogramLog needs at least one watched column in bounds")
        self.spark = spark
        self.path = path
        self.bounds = dict(bounds)

    def append(self, df: DataFrame | Mapping[str, Histogram], run_id: str) -> None:
        """Snapshot every watched column's histogram for ``run_id``.

        ``df`` is a frame carrying the watched columns, or the histograms
        themselves: {column: (bucket, cnt)} built on this log's bounds for
        every watched column — a job that already aggregates each column
        once (for its drift check) hands that aggregate over instead of
        scanning the table again."""
        if isinstance(df, Mapping):
            if set(df) != set(self.bounds):
                raise ValueError(
                    f"histograms for {sorted(df)} != watched columns {sorted(self.bounds)}"
                )
            hists = dict(df)
        else:
            hists = {col: histogram(df, col, *b) for col, b in self.bounds.items()}
        ts = time.time()
        rows = [
            (run_id, col, b, c, ts)
            for col, h in hists.items()
            for b, c in (h.select("bucket", "cnt").collect() if isinstance(h, DataFrame) else h)
        ]
        local_frame(self.spark, rows, HISTORY_SCHEMA).write.mode("append").parquet(self.path)

    def read(self) -> DataFrame:
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], HISTORY_SCHEMA)
        return self.spark.read.schema(HISTORY_SCHEMA).parquet(self.path)

    def latest_counts(
        self, exclude_run: str | None = None
    ) -> dict[str, list[tuple[int, int]]]:
        """{column: [(bucket, cnt), ...]} of the NEWEST snapshot per watched
        column (optionally excluding the current run's own appends — an
        idempotent re-run must not use itself as its baseline). Empty dict
        when no history exists yet: the caller's first run simply has no
        drift check, which is the only honest answer.

        One Spark job reads the history: the newest snapshots (at most
        columns × nbins rows) are collected, so using the counts never
        reads the log again and later appends do not change them."""
        if not os.path.exists(self.path):
            return {}
        h = self.read().where(F.col("column").isin(list(self.bounds)))
        if exclude_run is not None:
            h = h.where(F.col("run_id") != exclude_run)
        rows = (
            _rank_snapshots(h)
            .where(F.col("_ts_rank") == 1)
            .select("column", "bucket", "cnt")
            .collect()
        )
        per_col: dict[str, list[tuple[int, int]]] = {}
        for r in rows:
            per_col.setdefault(r["column"], []).append((r["bucket"], r["cnt"]))
        return per_col

    def prune(self, older_than_ts: float, keep_newest: int = 2) -> int:
        """Retention: drop snapshots with ts < ``older_than_ts``; returns
        rows removed. For every column STILL WATCHED (in ``bounds``) the
        ``keep_newest`` most recent snapshots survive regardless of the
        cutoff (default 2: the current snapshot AND the previous one —
        an idempotent re-run calls latest_counts(exclude_run=own) and
        must still find a baseline after its own append).
        Columns no longer in bounds (dropped from the watch list, or an
        old bucket-grid epoch) age out by the cutoff alone. keep_newest=0
        prunes unconditionally.

        Sandbox storage is a plain parquet dir, so prune rewrites it
        (read → filter → write-temp → swap, old dir set ASIDE first so a
        crash mid-swap strands a recoverable copy instead of losing the
        log); bounded at columns × nbins rows per run — driver-trivial.
        On Iceberg this is a metadata DELETE instead."""
        import shutil

        h = _rank_snapshots(self.read())
        keep_cond = F.col("ts") >= older_than_ts
        if keep_newest > 0:
            keep_cond = keep_cond | (
                F.col("column").isin(list(self.bounds))
                & (F.col("_ts_rank") <= keep_newest)
            )
        counts = h.agg(
            F.count(F.lit(1)).alias("before"),
            F.sum(keep_cond.cast("long")).alias("after"),
        ).collect()[0]
        removed = int(counts["before"] - (counts["after"] or 0))
        if removed == 0:
            return 0
        kept = h.where(keep_cond).drop("_ts_rank")
        tmp = self.path + ".pruning"
        old = self.path + ".pruned-old"
        kept.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(old, ignore_errors=True)
        shutil.move(self.path, old)   # aside, not gone: crash-recoverable
        shutil.move(tmp, self.path)
        shutil.rmtree(old, ignore_errors=True)
        return removed
