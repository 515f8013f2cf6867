"""Structured-Streaming validation: file source, AvailableNow micro-batches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def stream_dir(spark, tmp_path):
    """Events-like stream data with planted violations, written as parquet."""
    src = str(tmp_path / "in")
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "ts", "event_type", "value"
    )
    ev.write.parquet(src)
    return src


EVENTS_RULESET = {
    "type": "object",
    "properties": {
        "event_type": {"enum": ["click", "view", "purchase", "signup"]},
        "value": {"type": "number", "minimum": 1.0},
    },
}


def test_stream_validation_matches_batch(spark, stream_dir, tmp_path):
    from json_schema_py_spark.schema.compiler import validate
    from json_schema_py_spark.streaming.validate_stream import validate_stream

    batch_df = spark.read.parquet(stream_dir)
    expected = {
        (r["doc_id"], r["rule_id"], r["path"])
        for r in validate(batch_df, EVENTS_RULESET, key_col="event_id").collect()
    }
    assert expected, "ruleset should flag some events ('error' type, value<1)"

    stream = spark.readStream.schema(batch_df.schema).parquet(stream_dir)
    out = validate_stream(stream, EVENTS_RULESET, key_col="event_id")
    q = (
        out.writeStream.format("memory")
        .queryName("viol_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["rule_id"], r["path"])
        for r in spark.sql("select * from viol_stream").collect()
    }
    assert got == expected


def test_windowed_violation_counts(spark, stream_dir, tmp_path):
    from json_schema_py_spark.streaming.validate_stream import (
        validate_stream,
        windowed_violation_counts,
    )

    batch_df = spark.read.parquet(stream_dir)
    stream = spark.readStream.schema(batch_df.schema).parquet(stream_dir)
    v = validate_stream(stream, EVENTS_RULESET, key_col="event_id")
    w = windowed_violation_counts(v, ts_col="ts", window="1 hour", watermark="2 hours")
    q = (
        w.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from win_counts").collect()
    # append mode only emits closed windows; at least the early ones close
    assert all(r["cnt"] > 0 for r in rows)


def test_variant_path_binds_to_streams(spark, tmp_path):
    """The variant binder is pure Column expressions, so the SAME compiled
    plan validates a STREAM of raw-JSON payloads — AvailableNow micro-batches
    must equal the batch run row-for-row."""
    from json_schema_py_spark.plans.json_variant import validate_json_variant

    src = str(tmp_path / "vin")
    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "props")
    ev.write.parquet(src)
    schema = {"type": "object", "additionalProperties": {"type": "integer", "minimum": 50}}

    batch = {
        tuple(r)
        for r in validate_json_variant(ev, "props", schema, key_col="event_id").collect()
    }
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        validate_json_variant(stream, "props", schema, key_col="event_id")
        .writeStream.format("memory")
        .queryName("variant_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "vck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {tuple(r) for r in spark.sql("select * from variant_stream").collect()}
    assert streamed == batch and len(batch) > 0


def test_pii_scan_binds_to_streams(spark, tmp_path):
    """pii_scan is one stateless projection, so the same compiled plan
    scans a STREAM of documents — AvailableNow micro-batches equal the
    batch run row-for-row (the triage path for live ingest)."""
    from pyspark.sql import functions as F

    from json_schema_py_spark.operators.contamination import pii_scan

    src = str(tmp_path / "pin")
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(F.col("doc_id") % 5 == 0, F.lit(" mail x@y.io")).otherwise(F.lit("")),
            ).alias("text"),
        )
    )
    docs.write.parquet(src)
    batch = {tuple(r) for r in pii_scan(docs).collect()}
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        pii_scan(stream)
        .writeStream.format("memory")
        .queryName("pii_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "pck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {tuple(r) for r in spark.sql("select * from pii_stream").collect()}
    assert streamed == batch and any(r[1] > 0 for r in batch)


def test_streaming_psi_matches_batch_math(spark, tmp_path):
    """Per-window streaming PSI vs a static baseline equals the batch psi()
    math recomputed per window in Python (same eps clamp/rounding). The
    operator is deliberately ONE windowed aggregation — chained stateful
    aggs were probed and rejected: finite AvailableNow replays never get
    the extra flush batch each chained stage needs (see drift_stream
    module doc)."""
    import math
    from datetime import datetime

    from pyspark.sql import functions as F

    from json_schema_py_spark.operators.drift import histogram
    from json_schema_py_spark.streaming.drift_stream import streaming_psi

    # two 10-minute windows: the first mirrors the baseline distribution,
    # the second is shifted hard to the top bucket (drift)
    rows = []
    for i in range(200):
        rows.append((datetime(2026, 1, 1, 10, 1), float(i % 10)))
    for i in range(200):
        rows.append((datetime(2026, 1, 1, 10, 11), 9.0))
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    src = str(tmp_path / "dsrc")
    # watermark-driving sentinels must carry NON-NULL values: the null
    # filter is pushed below the watermark node into the scan (probed —
    # an all-null file never advances the watermark). They land in their
    # own [10:30,10:40) window, asserted separately below.
    df.coalesce(1).write.parquet(src)
    for m in (31, 41):
        spark.createDataFrame(
            [(datetime(2026, 1, 1, 10, m), 0.0)], "ts timestamp, v double"
        ).coalesce(1).write.mode("append").parquet(src)

    baseline = histogram(df.where(F.minute("ts") == 1), "v", 0.0, 10.0, 5)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        streaming_psi(
            stream, "v", 0.0, 10.0, 5, baseline.collect(), "10 minutes", watermark="1 second"
        )
        .writeStream.format("memory")
        .queryName("psi_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["window_start"].minute: (r["n_rows"], r["psi"])
        for r in spark.sql("select * from psi_stream").collect()
    }
    # the two data windows plus the first sentinel's own window (the last
    # sentinel's window stays open — nothing advances the watermark past it)
    assert {0, 10} <= set(got) <= {0, 10, 30}

    # python recomputation with the identical math
    def psi_py(cur_counts, base_counts, nbins=5, eps=1e-6):
        tc, tb = sum(cur_counts.values()), sum(base_counts.values())
        s = 0.0
        for b in range(nbins):
            p = max(cur_counts.get(b, 0) / tc, eps)
            qq = max(base_counts.get(b, 0) / tb, eps)
            s += (p - qq) * math.log(p / qq)
        return round(s, 6)

    base_counts = {r["bucket"]: r["cnt"] for r in baseline.collect()}
    w1 = {b: 40 for b in range(5)}          # 200 rows uniform over 10 values
    w2 = {4: 200}                            # all in the top bucket
    assert got[0] == (200, psi_py(w1, base_counts))
    assert got[10] == (200, psi_py(w2, base_counts))
    assert got[0][1] < 0.01 < got[10][1]     # stable vs drifted


def test_streaming_psi_baseline_with_duplicate_buckets(spark):
    """A baseline accidentally built as a UNION of two
    histograms carries duplicate bucket rows; the fold into proportions
    must sum them, not keep only the last row's count. A baseline unioned with
    itself has the identical distribution, so psi must be unchanged.
    (streaming_psi's plan is batch-executable — withWatermark and
    F.window are no-ops / plain exprs on a batch frame — which lets this
    pin the folding math without a stream.)"""
    from datetime import datetime

    from json_schema_py_spark.operators.drift import histogram
    from json_schema_py_spark.streaming.drift_stream import streaming_psi

    rows = [(datetime(2026, 1, 1, 10, 1), float(i % 10)) for i in range(100)]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    base = histogram(df, "v", 0.0, 10.0, 5)
    doubled = base.unionByName(base)  # same distribution, duplicate rows

    def run(b):
        out = streaming_psi(df, "v", 0.0, 10.0, 5, b.collect(), "10 minutes").collect()
        assert len(out) == 1
        return out[0]["psi"]

    assert run(base) == run(doubled)


def test_streaming_drift_loop_matches_batch_verdict(spark, tmp_path):
    """The HistogramLog's latest snapshot baselines streaming_psi, and
    each window's DISTRIBUTION_DRIFT verdict — drift_violations over its
    streaming_psi row — equals the batch verdict, drift_violations over
    histogram_psi of the same rows against the same counts. A drifted
    window emits the identical row on both sides; a mirror window emits
    nothing on both."""
    from datetime import datetime

    from json_schema_py_spark.operators.drift import (
        drift_violations,
        histogram,
        histogram_psi,
    )
    from json_schema_py_spark.plans.stats_history import HistogramLog
    from json_schema_py_spark.streaming.drift_stream import streaming_psi

    log = HistogramLog(spark, str(tmp_path / "hist"), bounds={"v": (0.0, 10.0, 5)})
    lo, hi, nbins = log.bounds["v"]

    # run-0 (batch): uniform snapshot becomes the baseline
    base_rows = [(float(i % 10),) for i in range(200)]
    log.append(spark.createDataFrame(base_rows, "v double"), "run-0")
    base = log.latest_counts()["v"]

    # stream: window 10:00 mirrors the baseline, window 10:10 is drifted hard
    rows = [(datetime(2026, 1, 1, 10, 1), float(i % 10)) for i in range(200)]
    rows += [(datetime(2026, 1, 1, 10, 11), 9.0) for _ in range(200)]
    sdf = spark.createDataFrame(rows, "ts timestamp, v double")
    src = str(tmp_path / "src")
    sdf.coalesce(1).write.parquet(src)
    for m in (31, 41):  # watermark-driving sentinels (non-null values)
        spark.createDataFrame(
            [(datetime(2026, 1, 1, 10, m), 0.0)], "ts timestamp, v double"
        ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(sdf.schema).parquet(src)
    q = (
        streaming_psi(
            stream, "v", lo, hi, nbins, base,
            window_duration="10 minutes", watermark="1 second",
        )
        .writeStream.format("memory").queryName("drift_loop")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    windows = spark.table("drift_loop")

    def verdict(p):
        return [tuple(r) for r in drift_violations(p, column="v").collect()]

    by_minute = {
        m: verdict(windows.where(F.minute("window_start") == m)) for m in (0, 10, 30)
    }
    # the drifted 10:10 window AND the 10:30 sentinel window (one row
    # concentrated in bucket 0 IS drifted vs the uniform baseline — a
    # correct verdict, not noise); the mirror 10:00 window emits nothing
    # and the final sentinel window never closes
    assert {m for m, v in by_minute.items() if v} == {10, 30}, by_minute
    assert by_minute[10][0][:3] == (None, "DISTRIBUTION_DRIFT", "/v")

    # batch verdicts on each data window's rows vs the same log baseline
    for m in (0, 10):
        cur = histogram(sdf.where(F.minute("ts") == m + 1), "v", lo, hi, nbins).collect()
        assert verdict(histogram_psi(spark, cur, base, nbins)) == by_minute[m]


def test_quality_and_repetition_metrics_bind_to_streams(spark, tmp_path):
    """Round-4: the text-metric projections (quality, repetition, PII
    totals, domains) are stateless Column expressions — they must bind to
    a streaming frame unchanged and produce batch-identical rows under
    AvailableNow."""
    from json_schema_py_spark.functions.text import quality_metrics, repetition_metrics
    from json_schema_py_spark.operators.contamination import pii_total_col, url_domains

    nl = chr(10)
    rows = [(i, f"the quick fox {i}{nl}dup line{nl}dup line{nl}visit https://ex{i % 3}.org/x")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "qsrc")
    df.coalesce(2).write.parquet(src)

    def project(frame):
        return frame.select(
            "doc_id",
            quality_metrics(F.col("text")).alias("q"),
            repetition_metrics(F.col("text")).alias("r"),
            pii_total_col(F.col("text")).alias("pii"),
            url_domains(F.col("text")).alias("doms"),
        )

    batch = {r["doc_id"]: (r["q"], r["r"], r["pii"], r["doms"])
             for r in project(df).collect()}
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        project(stream)
        .writeStream.format("memory").queryName("qmetrics")
        .option("checkpointLocation", str(tmp_path / "qck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: (r["q"], r["r"], r["pii"], r["doms"])
           for r in spark.sql("select * from qmetrics").collect()}
    assert got == batch
    assert all(r[1]["dup_line_fraction"] > 0 for r in got.values())
    assert all(len(r[3]) == 1 for r in got.values())
