"""Violation sinks: partitioned writes, pruned reads, summaries."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_partitioned_sink_roundtrip_and_pruning(spark, tmp_path):
    from json_schema_py_spark.schema.compiler import validate
    from json_schema_py_spark.sinks import (
        read_violations,
        violation_summary,
        write_violations,
    )
    from json_schema_py_spark.sources.synth import DOCUMENTS_RULESET, spans_documents

    v = validate(spans_documents(spark, SF), DOCUMENTS_RULESET)
    out = str(tmp_path / "viol")
    write_violations(v, out)

    back = read_violations(spark, out)
    assert back.count() == v.count()

    one = read_violations(spark, out, rule_id="ENUM_MISMATCH")
    assert one.count() == 5
    # partition pruning must reach the scan
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "ENUM_MISMATCH" in plan

    summary = {r["rule_id"]: r for r in violation_summary(v).collect()}
    assert summary["ENUM_MISMATCH"]["n_violations"] == 5
    assert summary["ENUM_MISMATCH"]["n_docs"] == 5
    assert summary["ENUM_MISMATCH"]["sample_paths"] == ["/spans/0/kind"]

    # idempotent re-append doubles rows (append mode is the lineage-guarded
    # production default; exactly-once comes from the run_id dedup upstream)
    write_violations(v, out)
    assert read_violations(spark, out).count() == 2 * v.count()
