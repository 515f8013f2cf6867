#!/usr/bin/env python
"""spark-submit job entry: full validation plan over the interleaved
documents table → violations parquet + per-partition lineage append,
cross-row checks, distribution drift and its streaming arm.

    spark-submit --py-files json_schema_py_spark.zip \
        scripts/run_validation_job.py <sf_dir> <out_dir> [run_id]

Resumable: re-running with the same run_id skips checkpointed partitions.

Read-once shape. The batch source is scanned at most twice per job:

* the REMAINING rows (not yet checkpointed for this run_id) feed one rules
  frame ``(doc_id, partition_key, violations)``: both rulesets evaluated
  once per row. The violations write fills it, the verdict rollup for the
  lineage log reads it back.
* the FULL table feeds one key projection ``(src_id, doc_id, media refs by
  position, n_spans)`` — NULL keys kept, uniqueness drops them itself. The
  uniqueness and FK checks read it, and so does one histogram aggregate
  per watched column, collected once (at most nbins rows of all-row and
  sentinel-free counts). The PSI violation, the streaming arm's batch
  comparison and the histogram-log snapshot all come from those rows.

The stats history is read once per run, first: ``latest_counts`` collects
the newest snapshot, and the PSI violation and both sides of the streaming
comparison use those counts.

Where the stream runs. The streaming arm reads its own input stream. It
starts as soon as the baseline is known and runs on the JVM's own thread,
its windowed state on one partition, while the rules, lineage, cross-row
and drift work proceed; the job awaits it only where its windows are
compared. Everything the job persists (MEMORY_AND_DISK) it unpersists
before returning, in a ``finally`` that first stops a stream still running
(a failed run leaves no query behind).
"""

from __future__ import annotations

import sys

from json_schema_py_spark.session import job_session


# 2026-01-01 10:00:00 UTC: the streaming arm's main window starts here
_BASE_EPOCH = 1_767_261_600


def _drift_stream(spark, sf_dir, raw_schema, sentinel, hlog, baseline):
    """The streaming arm's windows: ``streaming_psi`` of ``n_spans`` over
    the documents as a file stream, against ``baseline`` counts.

    Synthetic event time puts every doc in ONE 10-minute window except the
    sentinel rows, placed 20 minutes later purely to advance the watermark
    and close the main window (append-mode streams only emit finalized
    windows; a finite AvailableNow replay gets no extra flush batch)."""
    from pyspark.sql import functions as F

    from json_schema_py_spark.sources.synth import spans_documents
    from json_schema_py_spark.streaming.drift_stream import streaming_psi

    # the file stream source requires a DIRECTORY; documents.parquet is a
    # single file inside sf_dir, so stream the dir with a glob filter
    raw_stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    sw = (
        spans_documents(spark, sf_dir, docs=raw_stream)
        .withColumn("n_spans", F.size("spans"))
        .withColumn(
            "ts",
            F.timestamp_seconds(F.lit(_BASE_EPOCH) + F.when(sentinel, 1200).otherwise(0)),
        )
    )
    return streaming_psi(
        sw, "n_spans", *hlog.bounds["n_spans"], baseline,
        window_duration="10 minutes", watermark="1 second",
    )


def main(sf_dir: str, out_dir: str, run_id: str = "run-0") -> int:
    spark = job_session("jsps-validate")
    spark.sparkContext.setLogLevel("WARN")

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from json_schema_py_spark.operators.drift import (
        bucket_expr,
        drift_violations,
        histogram_psi,
    )
    from json_schema_py_spark.operators.referential import spans_fk_violations
    from json_schema_py_spark.operators.uniqueness import uniqueness_violations
    from json_schema_py_spark.plans.checkpoint import LineageLog
    from json_schema_py_spark.plans.stats_history import HistogramLog
    from json_schema_py_spark.plans.validation import run_validation
    from json_schema_py_spark.sources.synth import (
        DOCUMENTS_RULESET,
        MEDIA_DEPENDENCY_RULESET,
        media_dim,
        spans_documents,
    )
    from json_schema_py_spark.streaming.drift_stream import start_windows

    log = LineageLog(spark, f"{out_dir}/lineage")
    # durable partition identity: the input file path survives re-planning
    # (a resumed run under different core counts / maxPartitionBytes still
    # skips exactly the completed files — plans/checkpoint.py)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = spans_documents(spark, sf_dir, include_source_file=True, docs=docs)
    sd = log.remaining(full, run_id, partition_key="_source_file")

    # per-row rulesets: checkpointable per partition (row-local work)
    run = run_validation(
        sd,
        {"structural": DOCUMENTS_RULESET, "media_dep": MEDIA_DEPENDENCY_RULESET},
        unique_key=None,
        media_dim=None,
        run_id=run_id,
        partition_key="_source_file",
    )
    # the full table's key columns: everything the cross-row checks and
    # the drift loop read, without the span texts
    keys = full.select(
        "src_id",
        "doc_id",
        F.transform(
            "spans", lambda s: F.struct(s["media_ref"].alias("media_ref"))
        ).alias("spans"),
        F.size("spans").alias("n_spans"),
    )
    # distribution drift vs the LAST run's snapshot (plans/stats_history):
    # a retried run_id never baselines against its own appends
    hlog = HistogramLog(spark, f"{out_dir}/stats_history", {"n_spans": (0.0, 10.0, 10)})
    baselines = hlog.latest_counts(exclude_run=run_id)
    # the streaming arm's watermark rows (see _drift_stream)
    sentinel = F.col("src_id") % 997 == 0
    persisted = [
        run.rules.persist(StorageLevel.MEMORY_AND_DISK),
        keys.persist(StorageLevel.MEMORY_AND_DISK),
    ]
    stream = None
    try:
        if baselines:
            # one windows path per run, beside its own checkpoint: a file
            # sink records committed batch ids at its path, and every new
            # query numbers its batches from 0, so a path shared across
            # runs would skip each later run's windows as already written
            windows = f"{out_dir}/drift_stream_windows/{run_id}"
            pw = _drift_stream(spark, sf_dir, docs.schema, sentinel, hlog, baselines["n_spans"])
            stream = start_windows(pw, windows, f"{out_dir}/drift_stream_ck/{run_id}")
        run.violations.write.mode("append").parquet(f"{out_dir}/violations")
        log.append(run.verdicts)

        # cross-row checks (uniqueness, FK): only meaningful over the FULL
        # table — a resumed remainder can't see duplicates spanning
        # completed data, so these re-run table-wide every attempt and
        # overwrite their own output
        cross = uniqueness_violations(keys, "doc_id").unionByName(
            spans_fk_violations(keys, media_dim(spark))
        )
        cross.write.mode("overwrite").parquet(f"{out_dir}/violations_cross")

        # drift, full-table like the other cross-row checks (perfbench's
        # layertrace.py starts its drift layer at the line holding
        # "bounds = {"): each watched column's histogram is collected once,
        # ``cnt`` over every row (drift and the log snapshot), ``cnt_live``
        # over the non-sentinel rows (the streaming arm's batch comparison)
        watched, live = {}, {}
        for col, (lo, hi, nb) in hlog.bounds.items():
            rows = (
                keys.where(F.col(col).isNotNull())
                .groupBy(bucket_expr(col, lo, hi, nb).alias("bucket"))
                .agg(F.count(F.lit(1)).alias("cnt"), F.count_if(~sentinel).alias("cnt_live"))
                .collect()
            )
            watched[col] = [(r["bucket"], r["cnt"]) for r in rows]
            live[col] = [(r["bucket"], r["cnt_live"]) for r in rows]
        drift_rows = 0
        if baselines:
            d = None
            for col, base in baselines.items():
                p = histogram_psi(spark, watched[col], base, hlog.bounds[col][2])
                v = drift_violations(p, column=col)
                d = v if d is None else d.unionByName(v)
            d.write.mode("overwrite").parquet(f"{out_dir}/violations_drift")
            drift_rows = len(d.collect())

            # The LIVE-INGEST arm of the same drift loop, started above: an
            # AvailableNow pass over the identical input against the
            # identical baseline must reach the identical verdict. Its batch
            # side is the collected ``cnt_live`` through the same PSI
            # Column, so this arm adds no batch scan. perfbench/layertrace.py
            # starts this arm's layer at the line holding
            # "from json_schema_py_spark.operators.drift import histogram as _hist".
            stream.awaitTermination(600)
            main_window = (
                spark.read.schema(pw.schema).parquet(windows)
                .where(F.col("window_start") == F.timestamp_seconds(F.lit(_BASE_EPOCH)))
                .collect()
            )
            nb = hlog.bounds["n_spans"][2]
            batch_psi = histogram_psi(spark, live["n_spans"], baselines["n_spans"], nb).first()["psi"]
            s_psi = main_window[0]["psi"] if main_window else None
            print(
                f"streaming drift arm: window psi={s_psi} "
                f"batch psi on same rows={batch_psi} identical={s_psi == batch_psi}"
            )
        hlog.append(watched, run_id)

        n = spark.read.parquet(f"{out_dir}/violations").count()
        nc = spark.read.parquet(f"{out_dir}/violations_cross").count()
        print(f"violations so far: {n} per-row + {nc} cross-row + {drift_rows} drift")
    finally:
        if stream is not None and stream.isActive:
            stream.stop()
        for df in persisted:
            df.unpersist()
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
