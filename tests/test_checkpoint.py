"""Lineage checkpoint / resume: idempotency under retry, durable partition
identity, layout guard, full-union verdicts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _annotated(spark):
    from json_schema_py_spark.schema.compiler import with_violations
    from json_schema_py_spark.sources.synth import DOCUMENTS_RULESET, spans_documents

    return with_violations(
        spans_documents(spark, SF).repartition(4), DOCUMENTS_RULESET
    )


def test_verdict_rollup(spark):
    from json_schema_py_spark.plans.validation import partition_verdicts

    v = partition_verdicts(_annotated(spark), run_id="r1").collect()
    assert len(v) == 4
    assert sum(r["docs"] for r in v) == 500
    assert any(not r["pass"] for r in v)


def test_checkpoint_resume_and_retry_dedup(spark, tmp_path):
    from json_schema_py_spark.plans.checkpoint import LineageLog
    from json_schema_py_spark.plans.validation import partition_verdicts

    log = LineageLog(spark, str(tmp_path / "lineage"))
    ann = _annotated(spark)
    verdicts = partition_verdicts(ann, run_id="r1")
    first_two = F.col("partition_key").isin(["0", "1"])

    # checkpoint only partitions 0 and 1 (simulate a killed run)
    log.append(verdicts.where(first_two))
    remaining = log.remaining(ann, "r1")
    done_docs = verdicts.where(first_two).agg(F.sum("docs")).collect()[0][0]
    assert remaining.count() == 500 - done_docs

    # retry appends the same partitions again → last-writer-wins dedup
    log.append(verdicts.where(first_two))
    assert log.completed("r1").count() == 2

    # finish the run; nothing remains
    log.append(verdicts.where(~first_two))
    assert log.remaining(ann, "r1").count() == 0
    assert log.completed("r1").count() == 4

    # a different run_id is unaffected
    assert log.remaining(ann, "r2").count() == 500


def test_checkpoint_durable_file_key(spark, tmp_path):
    """Resume keyed on the input FILE PATH: survives re-planning (the
    spark_partition_id failure mode from ADVICE r01)."""
    from json_schema_py_spark.plans.checkpoint import LineageLog
    from json_schema_py_spark.plans.validation import partition_verdicts, run_validation
    from json_schema_py_spark.schema.compiler import with_violations
    from json_schema_py_spark.sources.synth import DOCUMENTS_RULESET, spans_documents

    sd = spans_documents(spark, SF, include_source_file=True)
    assert "_source_file" in sd.columns
    ann = with_violations(sd, DOCUMENTS_RULESET)
    verdicts = partition_verdicts(ann, run_id="rf", partition_key="_source_file")
    rows = verdicts.collect()
    assert all(r["partition_key"].endswith(".parquet") for r in rows)
    assert sum(r["docs"] for r in rows) == 500

    log = LineageLog(spark, str(tmp_path / "lineage"))
    log.append(verdicts)
    # same data re-derived (fresh plan → potentially different partition ids)
    # still resolves to zero remaining under the durable key
    sd2 = spans_documents(spark, SF, include_source_file=True).repartition(7)
    assert log.remaining(sd2, "rf", partition_key="_source_file").count() == 0
    assert log.remaining(sd2, "other", partition_key="_source_file").count() == 500


def test_checkpoint_layout_guard(spark, tmp_path):
    """Volatile spark_partition_id resume under a CHANGED planning layout
    must raise, not silently skip unvalidated rows."""
    from json_schema_py_spark.plans.checkpoint import LineageLog
    from json_schema_py_spark.plans.validation import partition_verdicts

    log = LineageLog(spark, str(tmp_path / "lineage"))
    ann = _annotated(spark)
    log.append(partition_verdicts(ann, run_id="r1"))

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "12345678")
    try:
        with pytest.raises(ValueError, match="planning layout"):
            log.remaining(ann, "r1")
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    # restored layout resumes fine
    assert log.remaining(ann, "r1").count() == 0


def test_checkpoint_null_layout_is_stale(spark, tmp_path):
    """Checkpoint rows with a NULL layout (older writer / external tool)
    are STALE, not exempt: plain != evaluates to NULL for them and would
    silently bypass the resume-safety guard (ADVICE r02 — eqNullSafe)."""
    from json_schema_py_spark.plans.checkpoint import LineageLog
    from json_schema_py_spark.plans.validation import partition_verdicts

    import pyspark.sql.functions as F

    log = LineageLog(spark, str(tmp_path / "lineage"))
    ann = _annotated(spark)
    log.append(partition_verdicts(ann, run_id="r1"))
    # simulate an external/older writer: same rows, layout nulled out
    nulled = log.read().withColumn("layout", F.lit(None).cast("string"))
    log2 = LineageLog(spark, str(tmp_path / "lineage2"))
    nulled.write.mode("overwrite").parquet(log2.path)
    with pytest.raises(ValueError, match="planning layout"):
        log2.remaining(ann, "r1")


def test_run_validation_end_to_end(spark):
    from json_schema_py_spark.plans.validation import run_validation
    from json_schema_py_spark.sources.synth import (
        DOCUMENTS_RULESET,
        MEDIA_DEPENDENCY_RULESET,
        media_dim,
        spans_documents,
    )

    sd = spans_documents(spark, SF)
    run = run_validation(
        sd,
        {"structural": DOCUMENTS_RULESET, "dep": MEDIA_DEPENDENCY_RULESET},
        media_dim=media_dim(spark),
    )
    by_rule = {r["rule_id"]: r["cnt"] for r in
               run.violations.groupBy("rule_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    # 7 structural plants + anyOf + uniqueness(2 rows/pair) + referential
    assert by_rule["ANY_OF_NO_MATCH"] == 5
    assert by_rule["UNIQUENESS_VIOLATION"] == 10
    assert by_rule["REFERENTIAL_VIOLATION"] == 5
    assert run.verdicts.agg(F.sum("docs")).collect()[0][0] == 500


def test_verdicts_cover_all_rulesets_and_cross_row_checks(spark):
    """ADVICE r01: a partition whose ONLY violations come from the second
    ruleset or from cross-row checks must NOT be checkpointed as pass."""
    from json_schema_py_spark.plans.validation import run_validation
    from json_schema_py_spark.sources.synth import (
        DOCUMENTS_RULESET,
        MEDIA_DEPENDENCY_RULESET,
        media_dim,
        spans_documents,
    )

    sd = spans_documents(spark, SF)
    run = run_validation(
        sd,
        {"structural": DOCUMENTS_RULESET, "dep": MEDIA_DEPENDENCY_RULESET},
        media_dim=media_dim(spark),
    )
    # every violation row attributable to a key is reflected in the verdicts:
    # total verdict violations == per-row rows + cross-row rows (all keyed)
    n_viol = run.violations.count()
    verdict_total = run.verdicts.agg(F.sum("violations")).collect()[0][0]
    assert verdict_total == n_viol

    # second ruleset alone: drop structural, keep only the anyOf dependency
    dep_only = run_validation(
        sd, {"dep": MEDIA_DEPENDENCY_RULESET}, unique_key=None
    )
    assert dep_only.verdicts.agg(F.sum("violations")).collect()[0][0] == 5

    # cross-row only: clean ruleset, uniqueness must still fail the verdict
    clean_rules = {"noop": {"type": "object"}}
    cross_only = run_validation(sd, clean_rules, media_dim=media_dim(spark))
    assert cross_only.verdicts.agg(F.sum("violations")).collect()[0][0] == 15
    assert cross_only.verdicts.where(~F.col("pass")).count() >= 1


def test_histogram_log_drift_loop(spark, tmp_path):
    """The operational drift loop, latest_counts → histogram_psi →
    drift_violations: the first run has no baseline (no drift check), a
    run on identical data finds no drift, a shifted corpus trips
    DISTRIBUTION_DRIFT, and a retried run never baselines against its own
    snapshot."""
    from json_schema_py_spark.operators.drift import (
        drift_violations,
        histogram,
        histogram_psi,
    )
    from json_schema_py_spark.plans.stats_history import HistogramLog
    from json_schema_py_spark.sources.synth import spans_documents

    bounds = {"n_spans": (0.0, 10.0, 10)}
    log = HistogramLog(spark, str(tmp_path / "hist"), bounds)
    sd = spans_documents(spark, SF).withColumn("n_spans", F.size("spans"))
    shifted = sd.withColumn("n_spans", F.col("n_spans") + 4)

    def run(df, run_id):
        """One run: (its baselines, its drift rows); then its snapshot."""
        current = histogram(df, "n_spans", *bounds["n_spans"]).collect()
        baselines = log.latest_counts(exclude_run=run_id)
        rows = [
            tuple(r)
            for c, base in baselines.items()
            for r in drift_violations(
                histogram_psi(spark, current, base, bounds[c][2]), column=c
            ).collect()
        ]
        log.append({"n_spans": current}, run_id)
        return baselines, rows

    # run 1: empty history → no baseline → no drift check
    assert run(sd, "r1") == ({}, [])
    # run 2 on IDENTICAL data: a baseline exists, no drift
    b2, rows2 = run(sd, "r2")
    assert set(b2) == {"n_spans"} and rows2 == []
    # run 3 on a SHIFTED corpus: drift fires vs run 2's snapshot
    _, rows3 = run(shifted, "r3")
    assert len(rows3) == 1
    assert rows3[0][:3] == (None, "DISTRIBUTION_DRIFT", "/n_spans")

    # a retried run 3 excludes its own snapshot: its baseline is run 2's
    # histogram, while the unfiltered newest snapshot is run 3's shifted
    # one — so the retry reaches run 3's verdict again
    r2_hist = sorted(
        (r["bucket"], r["cnt"])
        for r in log.read().where(F.col("run_id") == "r2").collect()
    )
    assert sorted(log.latest_counts(exclude_run="r3")["n_spans"]) == r2_hist
    assert sorted(log.latest_counts()["n_spans"]) != r2_hist
    assert run(shifted, "r3")[1] == rows3


def test_cross_row_attribution_respects_unique_key_and_is_exact(spark):
    """Review findings r02: (a) attribution joins each cross-row part on its
    OWN source column — unique_key != key_col must still fail verdicts;
    (b) integer allocation sums EXACTLY to the violation-row count even when
    a key's violations aren't proportional to its row count."""
    from json_schema_py_spark.plans.validation import run_validation

    # (a) duplicate values in a secondary column, distinct primary keys
    df = spark.createDataFrame(
        [(1, "e1"), (2, "e1"), (3, "e2")], "doc_id long, event_id string"
    )
    run = run_validation(
        df, {"noop": {"type": "object"}}, key_col="doc_id", unique_key="event_id"
    )
    assert run.violations.where(F.col("rule_id") == "UNIQUENESS_VIOLATION").count() == 2
    assert run.verdicts.agg(F.sum("violations")).collect()[0][0] == 2
    assert run.verdicts.where(~F.col("pass")).count() >= 1

    # (b) a key duplicated across partitions with an ODD violation count:
    # 2 rows share doc_id 'd' in different partitions; uniqueness emits 2
    # rows (1 per offending row) + manual check that totals stay exact
    df2 = spark.createDataFrame(
        [(0, "d"), (1, "d"), (2, "x")], "pk long, doc_id string"
    ).repartition(2, "pk")
    run2 = run_validation(
        df2, {"noop": {"type": "object"}}, key_col="doc_id", unique_key="doc_id"
    )
    n_viol = run2.violations.count()
    assert run2.verdicts.agg(F.sum("violations")).collect()[0][0] == n_viol


def test_null_keyed_cross_row_violations_fail_a_nullkey_verdict(spark):
    """Review finding r02: an FK violation on a NULL-keyed row can't attach
    to a partition by key — it must surface on a failing __nullkey__ row,
    never silently vanish from the verdicts."""
    from json_schema_py_spark.plans.validation import run_validation

    dim = spark.createDataFrame([("m/0.png",)], "media_ref string")
    df = spark.createDataFrame(
        [(None, [("media", None, "m/ghost.png", 0)]),
         ("doc-a", [("media", None, "m/0.png", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    run = run_validation(df, {"noop": {"type": "object"}}, media_dim=dim, unique_key=None)
    assert run.violations.where(F.col("rule_id") == "REFERENTIAL_VIOLATION").count() == 1
    nk = run.verdicts.where(F.col("partition_key") == "__nullkey__").collect()
    assert len(nk) == 1 and not nk[0]["pass"] and nk[0]["violations"] == 1
    # verdict totals still cover the null-keyed violation
    assert run.verdicts.agg(F.sum("violations")).collect()[0][0] == 1


def test_histogram_log_prune_keeps_baseline_pair(spark, tmp_path):
    """Retention prune keeps each WATCHED column's
    two newest snapshots past any cutoff (an idempotent re-run excludes
    its own snapshot and still needs a baseline); unwatched columns age
    out by the cutoff alone; keep_newest=0 prunes unconditionally."""
    import time as _time

    from json_schema_py_spark.plans.stats_history import HistogramLog

    log = HistogramLog(spark, str(tmp_path / "h"), bounds={"v": (0.0, 10.0, 4)})
    df = spark.createDataFrame([(float(i % 10),) for i in range(50)], "v double")
    for rid in ("run-0", "run-1", "run-2"):
        log.append(df, rid)
        _time.sleep(0.05)

    # cutoff after everything: the two newest snapshots survive, run-0 goes
    removed = log.prune(_time.time() + 10)
    assert removed == 4
    assert {r["run_id"] for r in log.read().collect()} == {"run-1", "run-2"}
    # the idempotent-re-run flow still has a baseline after pruning
    assert "v" in log.latest_counts(exclude_run="run-2")

    # idempotent: nothing more to remove
    assert log.prune(_time.time() + 10) == 0

    # a column no longer watched ages out entirely
    log2 = HistogramLog(spark, str(tmp_path / "h"), bounds={"w": (0.0, 1.0, 2)})
    removed2 = log2.prune(_time.time() + 10)
    assert removed2 == 8 and log2.read().count() == 0

    # keep_newest=0 wipes unconditionally below the cutoff
    log.append(df, "run-3")
    assert log.prune(_time.time() + 10, keep_newest=0) == 4
    assert log.read().count() == 0
