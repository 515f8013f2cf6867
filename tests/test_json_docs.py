"""Dynamic JSON-string validation: typed fast path vs exact pandas path vs
the Column engine vs the reference."""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

sys.path.insert(0, "/root/reference")

SCHEMA = {
    "type": "object",
    "required": ["id", "tags"],
    "properties": {
        "id": {"type": "integer", "minimum": 1},
        "name": {"type": "string", "minLength": 2},
        "tags": {"type": "array", "minItems": 1, "items": {"enum": ["a", "b", "c"]}},
        "score": {"type": "number", "maximum": 10},
    },
}

DOCS = [
    (1, '{"id": 3, "name": "ok", "tags": ["a"], "score": 5.5}'),
    (2, '{"id": 0, "name": "x", "tags": ["z"], "score": 11}'),
    (3, '{"name": "noid", "tags": []}'),
    (4, '{"id": 7, "tags": ["b", "c"]}'),
    (5, "not json at all"),
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, payload string")


def test_exact_path_matches_reference(spark):
    from json_schema.api import JsonValidator as RefValidator
    from json_schema_py_spark.plans.json_docs import validate_json_exact

    import json as _json
    import re as _re

    out = validate_json_exact(_df(spark), "payload", SCHEMA, key_col="doc_id")
    got: dict[int, set] = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], set()).add((r["rule_id"], r["path"]))

    ref = RefValidator()
    for key, raw in DOCS:
        try:
            doc = _json.loads(raw)
        except ValueError:
            assert got[key] == {("SCHEMA_INVALID", "")}
            continue
        expected = set()
        for e in ref.validate(doc, SCHEMA).errors:
            code = e.code.name
            if code == "REQUIRED_PROPERTY_MISSING":
                m = _re.search(r"'([^']+)'", e.message)
                expected.add((code, f"{e.path}/{m.group(1)}"))
            else:
                expected.add((code, e.path))
        assert got.get(key, set()) == expected, f"doc {key}"


def test_typed_path_matches_exact_on_well_typed_docs(spark):
    """Where typed parsing is lossless (well-typed values, no unknown keys),
    the fast path and the parity path agree."""
    from json_schema_py_spark.plans.json_docs import (
        validate_json_exact,
        validate_json_typed,
    )

    df = _df(spark).where(F.col("doc_id") != 5)  # drop the non-JSON row
    typed = {
        (r["doc_id"], r["rule_id"], r["path"])
        for r in validate_json_typed(df, "payload", SCHEMA).collect()
    }
    exact = {
        (r["doc_id"], r["rule_id"], r["path"])
        for r in validate_json_exact(df, "payload", SCHEMA).collect()
    }
    assert typed == exact


def test_typed_unique_items_over_map_elements(spark):
    """uniqueItems over array elements that hold a map: maps are not
    orderable, so array_distinct and <=> cannot compare them. The typed
    path compares the elements' JSON renderings instead and matches pyeval
    (code, path, observed) — including key order, which str() also sees."""
    import json

    from json_schema_py_spark.plans.json_docs import validate_json_typed
    from json_schema_py_spark.schema.model import normalize_schema
    from json_schema_py_spark.schema.pyeval import evaluate

    schema = {
        "type": "object",
        "properties": {
            "a": {
                "type": "array",
                "uniqueItems": True,
                "items": {"type": "object", "additionalProperties": {"type": "integer"}},
            }
        },
    }
    docs = [
        {"a": [{"x": 1}, {"x": 1}]},
        {"a": [{"x": 1}, {"x": 2}, {"y": 1}, {"x": 2}]},
        {"a": [{"x": 1, "y": 2}, {"y": 2, "x": 1}]},
        {"a": [{}, {}]},
        {"a": [{"x": 1}]},
    ]
    df = spark.createDataFrame(
        [(i, json.dumps(d)) for i, d in enumerate(docs)], "doc_id long, payload string"
    )
    got = sorted(tuple(r) for r in validate_json_typed(df, "payload", schema).collect())
    rule = normalize_schema(schema)
    expected = sorted((i, *v) for i, d in enumerate(docs) for v in evaluate(rule, d, ""))
    assert got == expected
    assert (0, "ARRAY_ITEMS_NOT_UNIQUE", "/a/1", '{"x":1}') in got


def test_rule_to_spark_type():
    from pyspark.sql import types as T

    from json_schema_py_spark.plans.json_docs import rule_to_spark_type
    from json_schema_py_spark.schema.model import normalize_schema

    t = rule_to_spark_type(normalize_schema(SCHEMA))
    assert isinstance(t, T.StructType)
    assert isinstance(t["tags"].dataType, T.ArrayType)
    assert isinstance(t["id"].dataType, T.LongType)
    m = rule_to_spark_type(
        normalize_schema({"type": "object", "additionalProperties": {"type": "integer"}})
    )
    assert isinstance(m, T.MapType) and isinstance(m.valueType, T.LongType)


def test_scalar_rooted_schema_typed(spark):
    """Scalar-rooted schemas on the typed path (ADVICE r01: from_json rejects
    non-struct/array/map roots — the raw text is wrapped as {"v": <raw>})."""
    from json_schema_py_spark.plans.json_docs import validate_json_typed

    df = spark.createDataFrame(
        [(1, "5"), (2, "3"), (3, "12"), (4, '"nope"')],
        "doc_id long, payload string",
    )
    out = {
        (r["doc_id"], r["rule_id"], r["path"])
        for r in validate_json_typed(
            df, "payload", {"type": "integer", "minimum": 5}
        ).collect()
    }
    # doc 2: below minimum at the ROOT path; doc 4: wrong type parses to null
    # under from_json (typed-path caveat: null == absent, skipped)
    assert out == {(2, "NUMBER_TOO_SMALL", "")}

    sout = {
        (r["doc_id"], r["rule_id"])
        for r in validate_json_typed(
            spark.createDataFrame([(1, '"ab"'), (2, '"abcdef"')], "doc_id long, payload string"),
            "payload",
            {"type": "string", "minLength": 3, "maxLength": 5},
        ).collect()
    }
    assert sout == {(1, "STRING_TOO_SHORT"), (2, "STRING_TOO_LONG")}

    # malformed raw text that would become VALID JSON only after wrapping
    # ('1,"x":2' -> {"v":1,"x":2}) must NOT validate (ADVICE r02); round-3
    # strengthening (review r03): malformed docs emit SCHEMA_INVALID at the
    # root, matching validate_json_exact, instead of silently nulling out
    mdf = spark.createDataFrame(
        [(1, '1,"x":2'), (2, "5"), (3, "1}")], "doc_id long, payload string"
    )
    mout = {
        (r["doc_id"], r["rule_id"])
        for r in validate_json_typed(
            mdf, "payload", {"type": "integer", "maximum": 0}
        ).collect()
    }
    assert mout == {
        (1, "SCHEMA_INVALID"),
        (2, "NUMBER_TOO_LARGE"),
        (3, "SCHEMA_INVALID"),
    }
    # struct root: same malformed contract
    sdf2 = spark.createDataFrame(
        [(1, '{"a": 1'), (2, '{"a": 1}')], "doc_id long, payload string"
    )
    sout2 = {
        (r["doc_id"], r["rule_id"])
        for r in validate_json_typed(
            sdf2, "payload",
            {"type": "object", "properties": {"a": {"type": "integer", "minimum": 5}}},
        ).collect()
    }
    assert sout2 == {(1, "SCHEMA_INVALID"), (2, "NUMBER_TOO_SMALL")}


def test_auto_router_picks_path_by_regex_dialect(spark):
    """validate_json_auto: Java-expressible patterns stay on the codegen
    typed path (no Python in the plan); a \\Z-style CPython-only pattern
    routes to the exact pandas path (SURVEY §9.5 → automatic)."""
    from json_schema_py_spark.plans.json_docs import (
        ruleset_needs_cpython_regex,
        validate_json_auto,
    )

    df = spark.createDataFrame(
        [(1, '{"name": "abc"}'), (2, '{"name": "zz"}')], "doc_id long, payload string"
    )
    portable = {"type": "object", "properties": {"name": {"pattern": "^a"}}}
    cpython_only = {"type": "object", "properties": {"name": {"pattern": "abc\\Z"}}}
    named_group = {"type": "object", "properties": {"name": {"pattern": "(?P<g>a)b"}}}

    assert not ruleset_needs_cpython_regex(portable)
    assert ruleset_needs_cpython_regex(cpython_only)
    # named groups translate mechanically → typed path is still exact
    assert not ruleset_needs_cpython_regex(named_group)

    typed_plan = validate_json_auto(df, "payload", portable)._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in typed_plan and "EvalPython" not in typed_plan
    exact_plan = validate_json_auto(df, "payload", cpython_only)._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" in exact_plan

    out = {
        (r["doc_id"], r["rule_id"])
        for r in validate_json_auto(df, "payload", cpython_only).collect()
    }
    assert out == {(2, "PATTERN_MISMATCH")}
