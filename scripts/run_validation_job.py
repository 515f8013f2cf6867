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
  per watched column (at most nbins rows, all-row and sentinel-free
  counts) that feeds the PSI violation, the streaming arm's batch
  comparison and the histogram-log snapshot.

The stats history is read once per run: ``latest_baselines`` collects the
newest snapshot, and the PSI violation, the streaming arm and its batch
comparison use those rows.

The streaming arm reads its own input stream. Everything the job persists
(MEMORY_AND_DISK) it unpersists before returning, in a ``finally``.
"""

from __future__ import annotations

import sys

from json_schema_py_spark.session import job_session


def main(sf_dir: str, out_dir: str, run_id: str = "run-0") -> int:
    spark = job_session("jsps-validate")
    spark.sparkContext.setLogLevel("WARN")

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from json_schema_py_spark.plans.checkpoint import LineageLog
    from json_schema_py_spark.plans.validation import run_validation
    from json_schema_py_spark.sources.synth import (
        DOCUMENTS_RULESET,
        MEDIA_DEPENDENCY_RULESET,
        media_dim,
        spans_documents,
    )

    log = LineageLog(spark, f"{out_dir}/lineage")
    # durable partition identity: the input file path survives re-planning
    # (a resumed run under different core counts / maxPartitionBytes still
    # skips exactly the completed files — plans/checkpoint.py)
    full = spans_documents(spark, sf_dir, include_source_file=True)
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
    persisted = [
        run.rules.persist(StorageLevel.MEMORY_AND_DISK),
        keys.persist(StorageLevel.MEMORY_AND_DISK),
    ]
    try:
        run.violations.write.mode("append").parquet(f"{out_dir}/violations")
        log.append(run.verdicts)

        # cross-row checks (uniqueness, FK): only meaningful over the FULL
        # table — a resumed remainder can't see duplicates spanning
        # completed data, so these re-run table-wide every attempt and
        # overwrite their own output
        from json_schema_py_spark.operators.referential import spans_fk_violations
        from json_schema_py_spark.operators.uniqueness import uniqueness_violations

        cross = uniqueness_violations(keys, "doc_id").unionByName(
            spans_fk_violations(keys, media_dim(spark))
        )
        cross.write.mode("overwrite").parquet(f"{out_dir}/violations_cross")

        # distribution drift vs the LAST run's snapshot (plans/stats_history):
        # full-table like the other cross-row checks; a retried run_id never
        # baselines against its own appends
        from json_schema_py_spark.operators.drift import bucket_expr, psi_drift_violation
        from json_schema_py_spark.plans.stats_history import HistogramLog

        bounds = {"n_spans": (0.0, 10.0, 10)}
        hlog = HistogramLog(spark, f"{out_dir}/stats_history", bounds)
        # the streaming arm's watermark rows (see below)
        sentinel = F.col("src_id") % 997 == 0
        # one aggregate per watched column: ``cnt`` over every row (drift
        # and the log snapshot), ``cnt_live`` over the non-sentinel rows
        # (the streaming arm's batch comparison)
        hists = {
            col: keys.where(F.col(col).isNotNull())
            .groupBy(bucket_expr(col, lo, hi, nb).alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.count_if(~sentinel).alias("cnt_live"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
            for col, (lo, hi, nb) in bounds.items()
        }
        persisted += hists.values()
        watched = {col: h.select("bucket", "cnt") for col, h in hists.items()}
        drift_rows = 0
        baselines = hlog.latest_baselines(exclude_run=run_id)
        if baselines:
            drifts = [
                psi_drift_violation(watched[col], base, column=col)
                for col, base in baselines.items()
            ]
            d = drifts[0]
            for x in drifts[1:]:
                d = d.unionByName(x)
            d.write.mode("overwrite").parquet(f"{out_dir}/violations_drift")
            drift_rows = spark.read.parquet(f"{out_dir}/violations_drift").count()

            # The LIVE-INGEST arm of the same drift loop: an AvailableNow
            # streaming pass over the identical input against the identical
            # HistogramLog baseline must reach the identical verdict.
            # Synthetic event time puts every doc in ONE 10-minute window
            # except the sentinel rows, placed 20 minutes later purely to
            # advance the watermark and close the main window (append-mode
            # streams only emit finalized windows; a finite AvailableNow
            # replay gets no extra flush batch). The batch side of the
            # comparison is the shared aggregate's ``cnt_live``, so this arm
            # adds no batch scan. perfbench/layertrace.py starts this arm's
            # layer at the line holding
            # "from json_schema_py_spark.operators.drift import histogram as _hist".
            from json_schema_py_spark.operators.drift import psi as _psi
            from json_schema_py_spark.streaming.drift_stream import streaming_psi

            base_epoch = 1_767_261_600  # 2026-01-01 10:00:00 UTC
            raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
            # the file stream source requires a DIRECTORY; documents.parquet
            # is a single file inside sf_dir, so stream the dir with a glob
            # filter
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
                    F.timestamp_seconds(F.lit(base_epoch) + F.when(sentinel, 1200).otherwise(0)),
                )
            )
            pw = streaming_psi(
                sw, "n_spans", *hlog.bounds["n_spans"], baselines["n_spans"],
                window_duration="10 minutes", watermark="1 second",
            )
            # one windows path per run, beside its own checkpoint: a file
            # sink records committed batch ids at its path, and every new
            # query numbers its batches from 0, so a path shared across
            # runs would skip each later run's windows as already written
            windows = f"{out_dir}/drift_stream_windows/{run_id}"
            (
                pw.writeStream.format("parquet")
                .option("path", windows)
                .option("checkpointLocation", f"{out_dir}/drift_stream_ck/{run_id}")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
                .awaitTermination(600)
            )
            main = (
                spark.read.parquet(windows)
                .where(F.col("window_start") == F.timestamp_seconds(F.lit(base_epoch)))
                .collect()
            )
            live = hists["n_spans"].select("bucket", F.col("cnt_live").alias("cnt"))
            batch_psi = _psi(live, baselines["n_spans"]).collect()[0]["psi"]
            s_psi = main[0]["psi"] if main else None
            print(
                f"streaming drift arm: window psi={s_psi} "
                f"batch psi on same rows={batch_psi} identical={s_psi == batch_psi}"
            )
        hlog.append(watched, run_id)

        n = spark.read.parquet(f"{out_dir}/violations").count()
        nc = spark.read.parquet(f"{out_dir}/violations_cross").count()
        print(f"violations so far: {n} per-row + {nc} cross-row + {drift_rows} drift")
    finally:
        for df in persisted:
            df.unpersist()
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
