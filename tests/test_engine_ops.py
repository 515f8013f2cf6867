"""Engine-level operators: uniqueness, referential, stats, drift, spans."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_uniqueness_salted_equals_plain(spark):
    from json_schema_py_spark.operators.uniqueness import duplicate_keys
    from json_schema_py_spark.sources.synth import spans_documents

    sd = spans_documents(spark, SF)
    salted = {(r["doc_id"], r["cnt"]) for r in duplicate_keys(sd, "doc_id", 64).collect()}
    plain = {(r["doc_id"], r["cnt"]) for r in duplicate_keys(sd, "doc_id", None).collect()}
    assert salted == plain and len(salted) > 0
    # every duplicate is a plant-9 copy of row i-2's id
    for did, cnt in salted:
        assert cnt == 2 and did.startswith("doc-")


def test_uniqueness_violation_rows(spark):
    from json_schema_py_spark.operators.uniqueness import uniqueness_violations
    from json_schema_py_spark.sources.synth import spans_documents

    sd = spans_documents(spark, SF)
    v = uniqueness_violations(sd, "doc_id").collect()
    assert len(v) > 0 and len(v) % 2 == 0  # both rows of each pair flagged
    assert all(r["rule_id"] == "UNIQUENESS_VIOLATION" and r["path"] == "/doc_id" for r in v)


def test_fk_broadcast_equals_salted_smj(spark):
    from json_schema_py_spark.operators.referential import spans_fk_violations
    from json_schema_py_spark.sources.synth import media_dim, spans_documents

    sd = spans_documents(spark, SF)
    md = media_dim(spark)
    bc = {tuple(r) for r in spans_fk_violations(sd, md, broadcast_dim=True).collect()}
    smj = {tuple(r) for r in spans_fk_violations(sd, md, broadcast_dim=False).collect()}
    assert bc == smj and len(bc) > 0
    assert all(obs.startswith("m/ghost-") for _, _, _, obs in bc)


def test_fk_salted_path(spark):
    from json_schema_py_spark.operators.referential import fk_violations
    from json_schema_py_spark.sources.synth import media_dim, spans_documents

    sd = spans_documents(spark, SF).select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", F.col("s.media_ref").alias("media_ref"))
    md = media_dim(spark)
    plain = {tuple(r) for r in fk_violations(sd, "media_ref", md, "media_ref", broadcast_dim=False).collect()}
    salted = {tuple(r) for r in fk_violations(sd, "media_ref", md, "media_ref", broadcast_dim=False, salt_buckets=8).collect()}
    assert plain == salted and len(plain) > 0


def test_column_stats_fused_single_pass(spark):
    from json_schema_py_spark.operators.stats import column_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    s = {r["column"]: r for r in column_stats(docs, ["n_chars", "lang"], exact_distinct=True).collect()}
    n = docs.count()
    assert s["n_chars"]["n_rows"] == n and s["n_chars"]["n_null"] == 0
    assert s["n_chars"]["min"] >= 0 and s["n_chars"]["max"] <= 1000
    assert s["lang"]["n_distinct"] == 5
    assert s["n_chars"]["quantiles"] is not None and len(s["n_chars"]["quantiles"]) == 3
    # single fused pass: exactly one Aggregate over one scan in the plan
    plan = column_stats(docs, ["n_chars", "lang"])._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") == 1


def test_psi_zero_for_identical_and_positive_for_shifted(spark):
    from json_schema_py_spark.operators.drift import histogram, psi

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    h = histogram(docs, "n_chars", 0.0, 600.0, 12)
    assert psi(h, h).collect()[0]["psi"] == 0.0
    shifted = histogram(
        docs.withColumn("n_chars", F.col("n_chars") + 150), "n_chars", 0.0, 600.0, 12
    )
    assert psi(shifted, h).collect()[0]["psi"] > 0.25


def test_psi_drift_violation_row(spark):
    from json_schema_py_spark.operators.drift import drift_violations, histogram, psi

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    h = histogram(docs, "n_chars", 0.0, 600.0, 12)
    shifted = histogram(docs.withColumn("n_chars", F.col("n_chars") + 200), "n_chars", 0.0, 600.0, 12)
    rows = drift_violations(psi(shifted, h), threshold=0.25, column="n_chars").collect()
    assert len(rows) == 1 and rows[0]["rule_id"] == "DISTRIBUTION_DRIFT"
    assert drift_violations(psi(h, h), threshold=0.25).count() == 0


def test_psi_of_an_empty_histogram_is_null(spark):
    """A histogram with no rows (an all-NULL watched column) has no
    distribution: PSI against it is NULL on either side and on both paths
    (psi, histogram_psi), so no drift row is written. Under ANSI, a zero
    total must not reach a division, and a NULL proportion must not be
    clamped up to eps."""
    from json_schema_py_spark.operators.drift import (
        drift_violations,
        histogram,
        histogram_psi,
        psi,
    )

    vals = spark.createDataFrame([(0.5,), (1.5,), (None,)], "v double")
    h = histogram(vals, "v", 0.0, 2.0, 2)
    empty = histogram(vals.where(F.col("v").isNull()), "v", 0.0, 2.0, 2)
    for p in (
        histogram_psi(spark, [], [(0, 5), (1, 5)], 2),
        histogram_psi(spark, [(0, 5)], [], 2),
        psi(empty, h),
        psi(h, empty),
    ):
        assert [r["psi"] for r in p.collect()] == [None]
        assert drift_violations(p).count() == 0


def test_span_sequence_preserved_through_validation(spark):
    """input_hint invariant: validation must not mutate/reorder spans."""
    from json_schema_py_spark.operators.spans import sequence_mismatches
    from json_schema_py_spark.schema.compiler import with_violations
    from json_schema_py_spark.sources.synth import DOCUMENTS_RULESET, spans_documents

    sd = spans_documents(spark, SF)
    after = with_violations(sd, DOCUMENTS_RULESET).select("doc_id", "spans")
    assert sequence_mismatches(sd, after).count() == 0


def test_sequence_mismatch_detects_reorder(spark):
    from json_schema_py_spark.operators.spans import sequence_mismatches
    from json_schema_py_spark.sources.synth import spans_documents

    sd = spans_documents(spark, SF)
    reordered = sd.withColumn("spans", F.reverse("spans"))
    # docs with >1 span change; single-span and empty docs don't
    assert sequence_mismatches(sd, reordered).count() > 0


def test_violations_diff_four_statuses(spark):
    """Round-4: cross-run regression diff — new/fixed/unchanged/changed,
    null-safe doc_id join (table-level rows), duplicate-key collapse is
    deterministic (max observed)."""
    from json_schema_py_spark.plans.validation import violations_diff

    prev = spark.createDataFrame(
        [
            ("d1", "NUMBER_TOO_SMALL", "/a", "1"),
            ("d2", "ENUM_MISMATCH", "/b", "x"),
            (None, "DISTRIBUTION_DRIFT", "/v", "0.4"),
            ("d3", "REQUIRED_PROPERTY_MISSING", "/c", "None"),
            ("d3", "REQUIRED_PROPERTY_MISSING", "/c", "None"),  # dup key
        ],
        "doc_id string, rule_id string, path string, observed string",
    )
    cur = spark.createDataFrame(
        [
            ("d1", "NUMBER_TOO_SMALL", "/a", "2"),          # changed
            (None, "DISTRIBUTION_DRIFT", "/v", "0.4"),       # unchanged (null key)
            ("d3", "REQUIRED_PROPERTY_MISSING", "/c", "None"),  # unchanged
            ("d9", "PATTERN_MISMATCH", "/d", "zz"),          # new
        ],
        "doc_id string, rule_id string, path string, observed string",
    )
    got = {(r["doc_id"], r["rule_id"]): (r["status"], r["observed_prev"], r["observed_cur"])
           for r in violations_diff(prev, cur).collect()}
    assert got == {
        ("d1", "NUMBER_TOO_SMALL"): ("changed", "1", "2"),
        ("d2", "ENUM_MISMATCH"): ("fixed", "x", None),
        (None, "DISTRIBUTION_DRIFT"): ("unchanged", "0.4", "0.4"),
        ("d3", "REQUIRED_PROPERTY_MISSING"): ("unchanged", "None", "None"),
        ("d9", "PATTERN_MISMATCH"): ("new", None, "zz"),
    }


def test_cms_estimate_contracts(spark):
    """Round-4: count-min sketch — est(v) >= true count always (min of
    per-row counts, each an overcount), overestimate bounded in practice,
    unseen values estimate small (collision mass only), sketches MERGE by
    union + re-agg, and guards reject degenerate shapes."""
    import pytest as _pytest

    from json_schema_py_spark.operators.stats import cms_estimates, cms_table

    rows = [(f"tok{i % 37}",) for i in range(2000)]
    rows += [("hot",)] * 500
    df = spark.createDataFrame(rows, "v string")
    true = {r["v"]: r["c"] for r in df.groupBy("v").agg(F.count("*").alias("c")).collect()}

    cms = cms_table(df, "v", width=64, depth=3).cache()
    qs = spark.createDataFrame([(v,) for v in true] + [("never-seen",)], "value string")
    est = {r["value"]: r["est"] for r in
           cms_estimates(cms, qs, width=64, depth=3).collect()}

    n = sum(true.values())
    for v, t in true.items():
        assert est[v] >= t, (v, est[v], t)           # never undercounts
        assert est[v] <= t + (2.72 * n) / 64 + 1, v  # e*N/width envelope
    assert est["hot"] >= 500
    assert est["never-seen"] <= (2.72 * n) / 64 + 1  # collision mass only

    # merge = union + re-agg equals the sketch of the whole
    a = spark.createDataFrame(rows[:1200], "v string")
    b = spark.createDataFrame(rows[1200:], "v string")
    merged = (
        cms_table(a, "v", width=64, depth=3)
        .unionByName(cms_table(b, "v", width=64, depth=3))
        .groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))
    )
    whole = {(r["row"], r["bucket"]): r["cnt"] for r in cms.collect()}
    got = {(r["row"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert got == whole
    cms.unpersist()

    with _pytest.raises(ValueError, match="width/depth"):
        cms_table(df, "v", width=0)


def test_schema_drift_statuses_and_violations(spark):
    """Schema-evolution check — four statuses incl. nested-type changes
    (a struct field's type change counts as type_changed)."""
    import pyspark.sql.types as T

    from json_schema_py_spark.plans.validation import schema_drift

    df = spark.createDataFrame(
        [(1, "x", [(1.0,)])],
        "a long, b string, nested array<struct<v:double>>",
    )
    expected = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.IntegerType()),  # type changed
            T.StructField(
                "nested",
                T.ArrayType(T.StructType([T.StructField("v", T.FloatType())])),
            ),  # nested field type changed
            T.StructField("gone", T.StringType()),  # missing
        ]
    )
    got = {r["column"]: (r["status"], r["expected_type"], r["actual_type"])
           for r in schema_drift(df, expected).collect()}
    assert got["a"] == ("ok", "bigint", "bigint")
    assert got["b"] == ("type_changed", "int", "string")
    assert got["nested"][0] == "type_changed"
    assert got["gone"] == ("missing", "string", None)
    assert set(got) == {"a", "b", "nested", "gone"}  # no spurious extras


def test_schema_drift_duplicate_columns_surface(spark):
    """Review r04b: duplicate column names (legal after joins) must emit a
    'duplicated' status, never silently keep the last copy's type."""
    import pyspark.sql.types as T

    from json_schema_py_spark.plans.validation import schema_drift

    dup = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("src", T.IntegerType()),
            T.StructField("src", T.StringType()),
        ]
    )
    df = spark.createDataFrame([], dup)
    exp = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("src", T.IntegerType())]
    )
    got = {r["column"]: (r["status"], r["actual_type"]) for r in
           schema_drift(df, exp).collect()}
    assert got["a"] == ("ok", "bigint")
    assert got["src"] == ("duplicated", "int,string")


def test_cms_estimates_guards(spark):
    from json_schema_py_spark.operators.stats import cms_estimates, cms_table
    import pytest as _pytest

    df = spark.createDataFrame([("x",)], "v string")
    cms = cms_table(df, "v", width=8, depth=2)
    q = spark.createDataFrame([("x",)], "value string")
    # a wrong explicit width now trips the metadata cross-check (round-6)
    with _pytest.raises(ValueError, match="does not match"):
        cms_estimates(cms, q, width=0, depth=2)
    # the degenerate-shape guard still fires when no metadata contradicts
    bare = cms.withMetadata("cnt", {})
    with _pytest.raises(ValueError, match="width/depth"):
        cms_estimates(bare, q, width=0, depth=2)


def test_violations_diff_null_rule_id_presence(spark):
    """ADVICE r04: side-presence uses a literal marker, not rule_id
    nullness — a NULL-rule_id row present in both runs is 'unchanged',
    and one present only in cur is 'new' (not misclassified)."""
    from json_schema_py_spark.plans.validation import violations_diff

    prev = spark.createDataFrame(
        [("d1", None, "/a", "1")],
        "doc_id string, rule_id string, path string, observed string",
    )
    cur = spark.createDataFrame(
        [("d1", None, "/a", "1"), ("d2", None, "/b", "2")],
        "doc_id string, rule_id string, path string, observed string",
    )
    got = {(r["doc_id"], r["status"]) for r in violations_diff(prev, cur).collect()}
    assert got == {("d1", "unchanged"), ("d2", "new")}
