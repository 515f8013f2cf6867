"""Dynamic JSON-document validation: columns of raw JSON strings.

Two paths, chosen by how exact you need to be (SURVEY.md §7 "hard parts"):

* ``validate_json_typed`` — the FAST path. A Spark schema is derived from the
  rule tree, ``from_json`` parses into typed columns, and the Column engine
  validates — whole-stage codegen end to end. Caveats (documented, inherent
  to typed parsing): unknown keys are dropped (additionalProperties on
  closed structs is checked statically, open objects need the exact path),
  presence and null collapse, and regex runs under the Java dialect.

* ``validate_json_exact`` — the PARITY path. Arrow-batched ``mapInPandas``
  runs the driver-side evaluator per document: Python ``re``, ``str()``
  rendering, presence≠null, open-object additionalProperties — bit-for-bit
  the reference's verdicts. Python is entered once per BATCH (10k rows), not
  per row; this is the engine's only Python executor path besides the
  multimodal decode stub, reserved exactly for the semantics Column
  expressions cannot express (BASELINE.json input_hint mandate).
"""

from __future__ import annotations

import json
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_py_spark.errors import ErrorCode
from json_schema_py_spark.schema.compiler import VIOLATION_TYPE, compile_ruleset
from json_schema_py_spark.schema.model import Rule, normalize_schema


def rule_to_spark_type(rule: Rule) -> T.DataType:
    """Derive a Spark DataType from a rule tree (for from_json parsing)."""
    t = rule.types[0] if rule.types else None
    if t == "object" or rule.properties:
        if rule.properties:
            return T.StructType(
                [T.StructField(k, rule_to_spark_type(sub)) for k, sub in rule.properties.items()]
            )
        ap = rule.additional_properties
        val_t = rule_to_spark_type(ap) if isinstance(ap, Rule) else T.StringType()
        return T.MapType(T.StringType(), val_t)
    if t == "array" or rule.items is not None:
        el = rule_to_spark_type(rule.items) if rule.items is not None else T.StringType()
        return T.ArrayType(el)
    if t == "integer":
        return T.LongType()
    if t == "number":
        return T.DoubleType()
    if t == "boolean":
        return T.BooleanType()
    if t == "null":
        return T.NullType()
    return T.StringType()


def validate_json_typed(
    df: DataFrame, json_col: str, schema: Any, key_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, rule_id, path, observed) via from_json + the Column engine.

    MALFORMED raw text (fails try_parse_json) emits SCHEMA_INVALID at the
    root, matching validate_json_exact, instead of nulling out and silently
    passing — the typed path's documented null==absent caveat is for
    WELL-FORMED JSON whose type doesn't fit the frozen schema, not for
    parse failures."""
    from json_schema_py_spark.schema.compiler import (
        RuleBinder,
        Typed,
        _viol,
        explode_violations,
        gated_document,
    )

    rule = schema if isinstance(schema, Rule) else normalize_schema(schema)
    spark_t = rule_to_spark_type(rule)
    malformed = F.col(json_col).isNotNull() & F.try_parse_json(
        F.col(json_col)
    ).isNull()
    bad_viols = F.array(
        _viol(
            ErrorCode.SCHEMA_INVALID.value,
            F.lit(""),
            F.substring(F.col(json_col), 1, 256),
        )
    ).cast(VIOLATION_TYPE)
    if isinstance(spark_t, T.StructType):
        parsed = df.select(
            F.col(key_col).alias("doc_id"),
            F.from_json(F.col(json_col), spark_t).alias("d"),
            malformed.alias("__sg_bad"),
            F.when(malformed, bad_viols).alias("__sg_bad_viols"),
        )
        flat = parsed.select("doc_id", "__sg_bad", "__sg_bad_viols", "d.*")
        v = compile_ruleset(rule, T.StructType([f for f in spark_t.fields]))
        exploded = flat.withColumn(
            "violations",
            F.when(F.col("__sg_bad"), F.col("__sg_bad_viols")).otherwise(v),
        )
    else:
        # map/array/scalar-rooted schema: bind the rule to the parsed column
        # directly; root path stays "" so pointers match the exact path.
        # from_json only accepts struct/array/map roots, so a SCALAR root is
        # parsed by wrapping the raw text as {"v": <raw>} into struct<v:T>
        # and binding at the field (a bare {'type':'integer'} root handed to
        # from_json fails analysis with INVALID_JSON_SCHEMA).
        bound = RuleBinder().bind(rule, Typed(spark_t))
        if isinstance(spark_t, (T.ArrayType, T.MapType)):
            parsed_col = F.from_json(F.col(json_col), spark_t)
        else:
            wrapper = T.StructType([T.StructField("v", spark_t)])
            wrapped = F.concat(F.lit('{"v":'), F.col(json_col), F.lit("}"))
            # guard: raw text that is NOT valid standalone JSON can become
            # valid after wrapping ('1,"x":2' -> {"v":1,"x":2}), silently
            # validating malformed input. Only accept the
            # wrapped parse when the raw text parses on its own.
            parsed_col = F.when(
                F.try_parse_json(F.col(json_col)).isNotNull(),
                F.from_json(wrapped, wrapper)["v"],
            )
        parsed = df.select(
            F.col(key_col).alias("doc_id"),
            parsed_col.alias("d"),
            malformed.alias("__sg_bad"),
            F.when(malformed, bad_viols).alias("__sg_bad_viols"),
        )
        doc = F.col("d")
        v = F.get(F.transform(F.array(doc), lambda row: gated_document(bound, row)), 0)
        exploded = parsed.withColumn(
            "violations", F.when(F.col("__sg_bad"), F.col("__sg_bad_viols")).otherwise(v)
        )
    return explode_violations(exploded, "doc_id", "violations")


def _iter_patterns(rule: Rule):
    """Every regex the Column path would run under java.util.regex: string
    ``pattern`` keywords, patternProperties KEYS, recursively."""
    if rule.pattern is not None:
        yield rule.pattern
    for pat in rule.pattern_properties:
        yield pat
    subs = (
        list(rule.properties.values())
        + list(rule.pattern_properties.values())
        + rule.all_of
        + rule.any_of
        + rule.one_of
    )
    for opt in (rule.items, rule.not_, rule.property_names):
        if opt is not None:
            subs.append(opt)
    if isinstance(rule.additional_properties, Rule):
        subs.append(rule.additional_properties)
    for sub in subs:
        yield from _iter_patterns(sub)


def ruleset_needs_cpython_regex(schema: Any) -> bool:
    """True when any pattern in the ruleset is NOT faithfully expressible
    under java.util.regex even after mechanical translation (named groups
    etc. translate; \\Z, possessive quantifiers, inline a/L/u flags don't) —
    such rulesets must run on the CPython path for bit-exact semantics
    (SURVEY §9.5 audit, now an automatic router)."""
    from json_schema_py_spark.schema.regex_dialect import (
        java_compile_ok,
        portability_issues,
        to_java_pattern,
    )

    rule = schema if isinstance(schema, Rule) else normalize_schema(schema)
    for pat in _iter_patterns(rule):
        try:
            import re as _re

            _re.compile(pat)
        except _re.error:
            continue  # invalid under Python too → lazy SCHEMA_INVALID on either path
        translated = to_java_pattern(pat)
        if portability_issues(translated) or java_compile_ok(translated) is False:
            return True
    return False


def validate_json_auto(
    df: DataFrame, json_col: str, schema: Any, key_col: str = "doc_id"
) -> DataFrame:
    """Dialect-aware router: the typed Column path (whole-stage codegen)
    whenever every pattern survives the Java-regex audit, else the exact
    CPython pandas path — a ruleset can never silently validate differently
    because of a regex dialect corner."""
    if ruleset_needs_cpython_regex(schema):
        return validate_json_exact(df, json_col, schema, key_col)
    return validate_json_typed(df, json_col, schema, key_col)


def validate_json_exact(
    df: DataFrame, json_col: str, schema: Any, key_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, rule_id, path, observed) with reference-exact semantics via
    Arrow-batched mapInPandas over the pure-Python evaluator."""
    rule = schema if isinstance(schema, Rule) else normalize_schema(schema)

    out_schema = T.StructType(
        [
            T.StructField("doc_id", df.schema[key_col].dataType),
            T.StructField("rule_id", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("observed", T.StringType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # import inside the worker so the closure pickles only the rule tree
        from json_schema_py_spark.schema.pyeval import evaluate

        for pdf in it:
            rows: list[tuple] = []
            for key, raw in zip(pdf[key_col], pdf[json_col]):
                try:
                    doc = json.loads(raw) if raw is not None else None
                except (TypeError, ValueError):
                    rows.append((key, "SCHEMA_INVALID", "", str(raw)[:256]))
                    continue
                for code, path, obs in evaluate(rule, doc, ""):
                    rows.append((key, code, path, obs))
            yield pd.DataFrame(rows, columns=["doc_id", "rule_id", "path", "observed"])

    from json_schema_py_spark.util import ensure_parallelism

    # small/compacted parquet = 1-2 splits → 1-2 PYTHON WORKERS; the
    # round-robin repartition is a no-op at production partition counts
    # (streaming frames pass through untouched)
    return ensure_parallelism(df.select(key_col, json_col)).mapInPandas(
        batches, out_schema
    )
