"""Variant-path dynamic JSON validation: per-value runtime typing at JVM
speed, agreeing with the CPython exact evaluator (the parity bar)."""

from __future__ import annotations

import json
import os

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

SCHEMA = {
    "type": "object",
    "required": ["k", "name"],
    "properties": {
        "k": {"type": "integer", "minimum": 50},
        "name": {"type": "string", "minLength": 2},
        "tags": {"type": "array", "items": {"type": "string"}, "uniqueItems": True},
        "meta": {
            "type": "object",
            "propertyNames": {"pattern": "^[a-z]+$"},
            "additionalProperties": {"type": "integer", "minimum": 0},
        },
    },
}


def test_variant_matches_exact_on_heterogeneous_docs(spark):
    """Docs the TYPED path cannot represent (per-row type changes, JSON
    nulls, extra keys) — variant and exact paths must agree row-for-row."""
    from json_schema_py_spark.plans.json_docs import validate_json_exact
    from json_schema_py_spark.plans.json_variant import validate_json_variant

    docs = [
        (1, '{"k": 99, "name": "ab", "tags": ["x", "y"]}'),
        (2, '{"k": "oops", "name": "x"}'),
        (3, '{"k": 1.0, "tags": ["a", "a"]}'),
        (4, '{"k": 30, "name": null, "meta": {"ok": 1, "Bad": -2}}'),
        (5, 'not json'),
        (6, '{"k": true, "name": "ok", "meta": {"zz": "str"}}'),
        (7, '{"k": 50, "name": "ok", "tags": "not-an-array"}'),
        (8, "5"),
        (9, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, payload string")
    var = sorted(
        tuple(r) for r in validate_json_variant(df, "payload", SCHEMA).collect()
    )
    exact = sorted(
        tuple(r)[:3] for r in validate_json_exact(df, "payload", SCHEMA).collect()
    )
    assert [v[:3] for v in var] == exact


values = st.recursive(
    st.one_of(
        st.none(),
        st.booleans(),
        st.integers(-99, 99),
        st.floats(-99, 99, allow_nan=False).map(lambda x: round(x, 3)),
        st.text(alphabet="abxy Z", max_size=6),
        st.sampled_from(["1", "1.0", "-2", "True", "False", "None"]),
    ),
    lambda kids: st.one_of(
        st.lists(kids, max_size=3),
        st.dictionaries(st.sampled_from(["k", "name", "tags", "meta", "q"]), kids, max_size=3),
    ),
    max_leaves=6,
)
# uniqueItems compares by str(): 1 ≡ "1" and True ≡ "True", 1 ≢ 1.0. Flat
# arrays of scalars that collide (or nearly) under that rule
str_collisions = st.fixed_dictionaries({
    "tags": st.lists(
        st.sampled_from([1, 1.0, "1", "1.0", -2, "-2", True, "True", False, "False",
                         None, "None", 0.5, "0.5"]),
        max_size=4,
    ),
})
docs_strategy = st.lists(
    st.one_of(values, str_collisions, st.just(None)), min_size=1, max_size=8
)


@settings(max_examples=int(os.environ.get("FUZZ_EXAMPLES", "15")), deadline=None)
@given(batch=docs_strategy)
def test_variant_matches_pyeval_sequences(spark, batch):
    """Arbitrary JSON values: the variant binder emits the same (code, path)
    MULTISET as pyeval per document. Order is compared SORTED: variant
    objects store keys lexicographically (documented deviation in
    plans/json_variant.py), so open-object iteration order differs from the
    document order pyeval sees; within closed paths the deterministic test
    above pins sequences."""
    from json_schema_py_spark.plans.json_variant import validate_json_variant
    from json_schema_py_spark.schema.model import normalize_schema
    from json_schema_py_spark.schema.pyeval import evaluate

    data = [
        (i, None if d is None else json.dumps(d)) for i, d in enumerate(batch)
    ]
    df = spark.createDataFrame(data, "doc_id long, payload string")
    got: dict[int, list] = {}
    for r in validate_json_variant(df, "payload", SCHEMA).collect():
        got.setdefault(r["doc_id"], []).append((r["rule_id"], r["path"]))
    rule = normalize_schema(SCHEMA)
    for i, d in enumerate(batch):
        # a NULL payload evaluates as a JSON null document (exact-path
        # convention), which is exactly evaluate(rule, None)
        expected = sorted((c, p) for c, p, _ in evaluate(rule, d, ""))
        assert sorted(got.get(i, [])) == expected, f"doc={d!r}"


def test_variant_unique_items_compares_like_pyeval(spark):
    """uniqueItems duplicates follow pyeval's str() rule on scalars: a
    number or boolean and the string spelling it are duplicates, an int
    and the equal float are not."""
    from json_schema_py_spark.plans.json_variant import validate_json_variant
    from json_schema_py_spark.schema.model import normalize_schema
    from json_schema_py_spark.schema.pyeval import evaluate

    schema = {"type": "object", "properties": {"a": {"type": "array", "uniqueItems": True}}}
    arrays = [[1, "1"], [True, "True"], [None, "None"], [0.5, "0.5"], [1, 1.0], [2.0, 2],
              [1, True], [False, 0], ["x", 1, "1.0", 1.0]]
    df = spark.createDataFrame(
        [(i, json.dumps({"a": a})) for i, a in enumerate(arrays)], "doc_id long, payload string"
    )
    got: dict[int, list] = {}
    for r in validate_json_variant(df, "payload", schema).collect():
        got.setdefault(r["doc_id"], []).append((r["rule_id"], r["path"], r["observed"]))
    rule = normalize_schema(schema)
    for i, a in enumerate(arrays):
        assert got.get(i, []) == [tuple(v)[:3] for v in evaluate(rule, {"a": a}, "")], a
    assert sorted(got) == [0, 1, 2, 3, 8]


def test_variant_stays_jvm_side(spark):
    from json_schema_py_spark.plans.json_variant import validate_json_variant

    df = spark.createDataFrame([(1, '{"k": 1}')], "doc_id long, payload string")
    plan = (
        validate_json_variant(df, "payload", SCHEMA)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_variant_logical_ops(spark):
    from json_schema_py_spark.plans.json_variant import validate_json_variant

    schema = {
        "anyOf": [{"type": "string"}, {"type": "integer", "minimum": 10}],
    }
    df = spark.createDataFrame(
        [(1, '"s"'), (2, "15"), (3, "5"), (4, "1.5")], "doc_id long, payload string"
    )
    out = {
        (r["doc_id"], r["rule_id"]) for r in
        validate_json_variant(df, "payload", schema).collect()
    }
    assert out == {(3, "ANY_OF_NO_MATCH"), (4, "ANY_OF_NO_MATCH")}


def test_variant_bigint_and_precision_corners(spark):
    """Review finding r02: integers above int64 arrive as DECIMAL(p>=19, 0)
    and must classify as JSON integers (CPython json.loads keeps ints);
    decimal-pointed literals stay numbers."""
    from json_schema_py_spark.plans.json_variant import validate_json_variant

    df = spark.createDataFrame(
        [(1, '{"k": 9223372036854775808}'), (2, '{"k": 1.0}'), (3, '{"k": 7}')],
        "doc_id long, payload string",
    )
    out = {
        (r["doc_id"], r["rule_id"])
        for r in validate_json_variant(
            df, "payload", {"properties": {"k": {"type": "integer", "minimum": 2}}}
        ).collect()
    }
    assert out == {(2, "TYPE_ERROR")}

    # runtime keys escape in variant paths too
    df2 = spark.createDataFrame([(1, '{"a/b": 1}')], "doc_id long, payload string")
    out2 = {
        (r["rule_id"], r["path"])
        for r in validate_json_variant(
            df2, "payload",
            {"type": "object", "additionalProperties": {"minimum": 5}},
        ).collect()
    }
    assert out2 == {("NUMBER_TOO_SMALL", "/a~1b")}


def test_variant_invalid_pattern_properties_schema_invalid(spark):
    """Python-invalid patternProperties regex: SCHEMA_INVALID at the
    OBJECT's path, once per pattern per validated object (reference
    objects.py:147-152) — round-3 parity fix, matching pyeval and the
    static binder."""
    from json_schema_py_spark.plans.json_variant import validate_json_variant

    df = spark.createDataFrame(
        [(1, '{"a": 1}'), (2, "{}"), (3, "[1]")],
        "doc_id long, payload string",
    )
    out = {
        (r["doc_id"], r["rule_id"], r["path"], r["observed"])
        for r in validate_json_variant(
            df, "payload", {"patternProperties": {"[": {"type": "integer"}}}
        ).collect()
    }
    # objects (even empty) emit; the array doc is not an object (inferred
    # object type gate -> TYPE_ERROR)
    assert out == {
        (1, "SCHEMA_INVALID", "", "["),
        (2, "SCHEMA_INVALID", "", "["),
        (3, "TYPE_ERROR", "", "[1]"),
    }


def test_variant_unique_items_observed_matches_pyeval(spark):
    """ARRAY_ITEMS_NOT_UNIQUE renders the duplicate element like every
    other observed value (Python-ish scalars, compact JSON composites), so
    (code, path, observed) rows equal pyeval's."""
    from json_schema_py_spark.plans.json_variant import validate_json_variant
    from json_schema_py_spark.schema.model import normalize_schema
    from json_schema_py_spark.schema.pyeval import evaluate

    schema = {"type": "array", "uniqueItems": True}
    docs = [["a", "a"], [1, 2, 1], [{"x": 1}, {"x": 1}], [True, True], [None, None], [1.5, 1.5]]
    df = spark.createDataFrame(
        [(i, json.dumps(d)) for i, d in enumerate(docs)], "doc_id long, payload string"
    )
    got = sorted(tuple(r) for r in validate_json_variant(df, "payload", schema).collect())
    rule = normalize_schema(schema)
    assert got == sorted((i, *v) for i, d in enumerate(docs) for v in evaluate(rule, d, ""))


def test_variant_binder_on_shredded_parquet(spark, tmp_path):
    """Round-3 experiment pinned: the binder validates a SHREDDED variant
    parquet table (spark.sql.variant.forceShreddingSchemaForTest write
    hook + allowReadingShredded=true read path) identically to the plain
    encoding — lake-native variant columns, shredded or not, are
    first-class inputs (no re-serialization to JSON strings). Measured
    sf0.1: shredded ~6% faster than plain, both beat per-pass re-parsing;
    shredding pays most for direct '$.key' paths, which an
    additionalProperties full-object walk cannot exploit."""
    from json_schema_py_spark.plans.json_variant import bind_variant
    from json_schema_py_spark.schema.model import normalize_schema

    ev = spark.createDataFrame(
        [(1, '{"k": 99}'), (2, '{"k": 7}'), (3, '{"k": "oops"}'), (4, "{}")],
        "event_id long, props string",
    )
    v = ev.select("event_id", F.parse_json("props").alias("pv"))
    plain_p, shred_p = str(tmp_path / "plain"), str(tmp_path / "shred")
    v.write.mode("overwrite").parquet(plain_p)
    spark.conf.set("spark.sql.variant.forceShreddingSchemaForTest", "k bigint")
    try:
        v.write.mode("overwrite").parquet(shred_p)
    finally:
        spark.conf.set("spark.sql.variant.forceShreddingSchemaForTest", "")
    rule = normalize_schema(
        {"type": "object", "additionalProperties": {"type": "integer", "minimum": 50}}
    )
    viol, fires = bind_variant(rule)

    def out(path):
        df = spark.read.parquet(path)
        return sorted(
            (r["event_id"], tuple(x) if x else None)
            for r in df.select(
                "event_id",
                F.when(fires(F.col("pv")), viol(F.col("pv"), F.lit(""))).alias("x"),
            ).collect()
            for x in [r["x"] and [tuple(v) for v in r["x"]]]
        )

    assert out(plain_p) == out(shred_p)
    flagged = {e for e, x in out(plain_p) if x}
    assert flagged == {2, 3}


def test_property_names_string_fast_path_parity(spark):
    """propertyNames keys are statically strings, so every propertyNames
    rule binds them as a string-typed value: (rule_id, path, observed) rows
    must equal pyeval's across every keyword family — pattern,
    min/maxLength, enum (incl. non-string members), const (string and
    non-string), Python-invalid pattern, a type gate that excludes strings,
    and the four logical ops — including keys that need pointer escaping
    ('/' and '~')."""
    import json as _json

    from json_schema_py_spark.plans.json_variant import validate_json_variant
    from json_schema_py_spark.schema.model import normalize_schema
    from json_schema_py_spark.schema.pyeval import evaluate

    docs = [
        {"ok": 1, "Bad": 2, "toolongkey": 3},
        {"a": 1},
        {"": 5, "zz": 6},
        {"ok": None, "x9": [1, 2]},
        {"a/b": 1, "t~x": 2, "ab": 3},
    ]
    pn_schemas = [
        {"pattern": "^[a-z]+$"},
        {"minLength": 2, "maxLength": 5},
        {"enum": ["ok", "zz", 3, None, True]},
        {"enum": [1, 2]},                      # no string members: every key fails
        {"const": "ok"},
        {"const": 7},                          # non-string const: every key fails
        {"pattern": "(?P<n>a)(?P=n)"},         # Python-valid, Java-translated or invalid
        {"type": "integer"},                   # type gate excludes string: TYPE_ERROR per key
        {"type": "string", "pattern": "^o"},
        {"minLength": 1, "pattern": "^[a-z]", "enum": ["ok", "a", "zz", "x9", ""]},
        {"anyOf": [{"pattern": "^a"}]},
        {"not": {"pattern": "^a"}},
        {"allOf": [{"minLength": 1}]},
        {"oneOf": [{"pattern": "^a"}]},
    ]
    data = [(i, _json.dumps(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(data, "doc_id long, payload string")
    for pn in pn_schemas:
        schema = {"type": "object", "propertyNames": pn}
        rule = normalize_schema(schema)
        got: dict[int, list] = {}
        for r in validate_json_variant(df, "payload", schema).collect():
            got.setdefault(r["doc_id"], []).append((r["rule_id"], r["path"], r["observed"]))
        for i, d in enumerate(docs):
            expected = sorted((c, p, o) for c, p, o in evaluate(rule, d, ""))
            assert sorted(got.get(i, [])) == expected, (pn, d, got.get(i, []), expected)


def test_validate_variant_native_entry_parity(spark):
    """Round-5: validate_variant binds the binder to a VariantType column
    directly (the lake-native / shredded form) — byte-identical rows to
    the string entry on a hostile mixed corpus, with a NULL variant cell
    validated as a JSON null document (the string entry's NULL-payload
    convention). Shredding probe result (pinned knowledge, measured on
    this build): spark.sql.variant.writeShredding.enabled +
    pushVariantIntoScan exist and rewrite literal-path variant_get into
    the scan (3.5x on such plans), but the binder's per-value
    schema_of_variant dispatch reads whole values, so shredded and plain
    inputs time identically here — re-evaluate when per-key shredded
    binding is expressible."""
    from pyspark.sql import functions as F

    from json_schema_py_spark.plans.json_variant import (
        validate_json_variant,
        validate_variant,
    )

    rows = [
        (1, '{"a": 5, "b": "xq", "c": 3}'),
        (2, '{"a": -1, "b": "zz", "c": 200}'),
        (3, '{"a": true, "b": 7, "c": null}'),
        (4, None),
        (5, "[1, 2]"),
        (6, '{"a": 99999999999999999999999, "b": "x", "c": 1}'),
    ]
    df = spark.createDataFrame(rows, "event_id long, props string")
    schema = {
        "type": "object",
        "properties": {
            "a": {"type": "integer", "minimum": 0},
            "b": {"type": "string", "pattern": "^x"},
            "c": {"type": "integer", "maximum": 98},
        },
        "required": ["a", "b", "c"],
    }
    s = sorted(map(tuple, validate_json_variant(df, "props", schema, key_col="event_id").collect()))
    vdf = df.select("event_id", F.try_parse_json("props").alias("v"))
    n = sorted(map(tuple, validate_variant(vdf, "v", schema, key_col="event_id").collect()))
    assert s == n and len(s) == 8
