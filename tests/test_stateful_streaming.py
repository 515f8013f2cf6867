"""Stateful streaming operators (applyInPandasWithState)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_streaming_first_seen_dedup(spark, tmp_path):
    """Planted duplicate fingerprints are emitted exactly once."""
    from json_schema_py_spark.functions.text import text_fingerprint
    from json_schema_py_spark.streaming.stateful import streaming_first_seen

    src = str(tmp_path / "in")
    d = spark.read.parquet(f"{SF}/documents.parquet").limit(100)
    dup = d.where(F.col("doc_id") < 10).withColumn("doc_id", F.col("doc_id") + 9000)
    d.unionByName(dup).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        text_fingerprint(F.col("text")).alias("fingerprint"),
    ).repartition(4).write.parquet(src)

    stream = spark.readStream.schema("doc_id string, fingerprint string").parquet(src)
    out = streaming_first_seen(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("first_seen")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from first_seen").collect()
    fps = [r["fingerprint"] for r in rows]
    assert len(fps) == 100  # 110 input rows, 10 dup fingerprints collapsed
    assert len(set(fps)) == 100


def test_violation_streaks(spark, tmp_path):
    from json_schema_py_spark.schema.compiler import validate
    from json_schema_py_spark.streaming.stateful import violation_streaks
    from json_schema_py_spark.streaming.validate_stream import validate_stream

    src = str(tmp_path / "in")
    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "event_type", "value")
    ev.write.parquet(src)
    schema = {"properties": {"value": {"minimum": 1.0}}}

    stream = spark.readStream.schema(ev.schema).parquet(src)
    v = validate_stream(stream, schema, key_col="event_id")
    streaks = violation_streaks(v, key_col="rule_id", min_streak=1)
    q = (
        streaks.writeStream.format("memory")
        .queryName("streaks")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {r["key"]: r for r in spark.sql("select * from streaks").collect()}
    expected = validate(ev, schema, key_col="event_id").count()
    assert "NUMBER_TOO_SMALL" in rows
    assert rows["NUMBER_TOO_SMALL"]["violations_in_batch"] == expected
