"""Dynamic JSON validation over Spark 4 VariantType — the third path.

Where the TYPED path (from_json, plans/json_docs.py) freezes one Spark type
per field (wrong-typed values silently null out) and the EXACT path runs
CPython per Arrow batch, the VARIANT path keeps each value's own runtime
type (parse_json → open binary encoding) and validates with pure Column
expressions: per-value dynamic type dispatch, presence ≠ JSON null, and
wrong-typed values produce real TYPE_ERRORs — the exact path's dynamic-type
semantics entirely JVM-side. (reference analogue: the per-document dynamic
interpreter, json_schema/validator.py:31-108 — re-realized as expressions.)

The rule tree is walked by the same binder as the typed path
(schema/compiler.RuleBinder); this module supplies its value model,
``Variant``: a runtime ``schema_of_variant`` token bound once per node,
values read with ``try_variant_get``.

When to choose it: on a clean corpus the variant path runs at about the
speed of the exact pandas path; on violation-heavy corpora the exact path
is faster, because the HOF expression tree runs codegen-fallback
(interpreted) while CPython's per-doc walk of a small document is cheap.
The variant path wins operationally, not per-row: no Python workers (no
executor memory split, no Arrow hop), it composes into the same
whole-stage plan as adjacent Column work, reads Iceberg/Delta variant
columns natively (validate_variant: no re-serialization to JSON strings),
and its allocation-free boolean gate skips violation construction for
clean documents and for clean elements/entries inside flagged ones. For
CPython-regex/str()-corner parity the exact path remains the arbiter
(validate_json_auto routes).

Shredded variant parquet (pinned in test_variant_binder_on_shredded_parquet):
Spark reads shredded variants (spark.sql.variant.allowReadingShredded=true)
and the binder validates them identically to the plain encoding. Shredding
pays most for direct '$.key' accesses (pushed into the shredded columns) —
an additionalProperties full-object walk cannot exploit it.

Type mapping (CPython json.loads parity): variant BIGINT ⇔ int, DECIMAL/
DOUBLE ⇔ float (so ``1.0`` is a JSON number, never an integer — matching
py_type_of), STRING/BOOLEAN/OBJECT<…>/ARRAY<…>/VOID ⇔ str/bool/dict/list/
None. Presence: ``variant_get(v, '$.k', 'variant')`` is SQL-NULL when the
key is ABSENT and a VOID variant (``is_variant_null``) when the value is a
present JSON null.

Documented deviations from the exact path (use validate_json_exact when
they matter): regex runs under java.util.regex (route via
json_docs.validate_json_auto semantics if needed); observed values render
as compact JSON (variant to_json, object keys SORTED — variant objects
store fields lexicographically); uniqueItems compares those observed-value
renderings, the reference str() for scalars (``1`` ≡ ``"1"``,
``true`` ≡ ``"True"``, ``1`` ≢ ``1.0``) but compact JSON for composites,
where the reference compares Python reprs: composites differing only in
key order or in a nested 1 vs 1.0 (parse_json keeps no trailing ``.0``)
are duplicates here and not there, and a string spelling a composite's
Python repr duplicates it there and not here; open-object iteration order
is the variant's sorted key order, not document order; numeric comparisons (bounds/enum/const/multipleOf) run in
double precision, so integers beyond 2^53 may compare equal when CPython
would distinguish them (see _sch for the integer/number classification
corners above int64).
"""

from __future__ import annotations

from functools import reduce
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_py_spark.errors import ErrorCode
from json_schema_py_spark.schema.compiler import (
    VIOLATION_TYPE,
    Bound,
    RuleBinder,
    _assemble_fires,
    _assemble_viols,
    _cached_compile,
    _child,
    _compile_cache_key,
    _empty,
    _viol,
    explode_violations,
    gated_document,
)
from json_schema_py_spark.schema.model import Rule, normalize_schema


def _sch(v: Column) -> Column:
    """The variant's runtime schema string — the ONE type-dispatch token
    bound per node. The predicates below read it directly (one dispatch
    layer, no intermediate JSON-type-name token); the big-integer DECIMAL
    classifier is an isin over 20 literals.

    Numeric mapping (empirical, Spark 4.1 parse_json): integer literals
    ≤ int64 → BIGINT; integer literals ABOVE int64 → DECIMAL(p≥19, 0);
    decimal-pointed literals → DECIMAL(p≤18, 0..s) (1.0 normalizes to
    DECIMAL(1,0)); magnitudes beyond DECIMAL(38) → DOUBLE. Hence:
    scale-0 DECIMAL with precision ≥ 19 is a big INTEGER; any other
    DECIMAL/DOUBLE is a number. Documented corners vs CPython json.loads:
    a >int64 integral written WITH a decimal point classifies integer, and
    integers beyond 38 digits degrade to DOUBLE (classify number) — CPython
    keeps arbitrary-precision ints."""
    return F.schema_of_variant(v)


_D19_38_0 = tuple(f"DECIMAL({p},0)" for p in range(19, 39))


def _is_object(sch: Column) -> Column:
    return F.startswith(sch, F.lit("OBJECT"))


def _is_array(sch: Column) -> Column:
    return F.startswith(sch, F.lit("ARRAY"))


def _is_boolean(sch: Column) -> Column:
    return sch == "BOOLEAN"


def _is_null(sch: Column) -> Column:
    return sch == "VOID"


def _is_integer(sch: Column) -> Column:
    return (sch == "BIGINT") | sch.isin(*_D19_38_0)


def _is_numeric(sch: Column) -> Column:
    """integer OR number — the common keyword gate (bounds, multipleOf)."""
    return (
        (sch == "BIGINT")
        | F.startswith(sch, F.lit("DECIMAL"))
        | sch.isin("DOUBLE", "FLOAT")
    )


def _is_number(sch: Column) -> Column:
    """number strictly (never integer) — only _obs needs the distinction."""
    return (
        F.startswith(sch, F.lit("DECIMAL")) & ~sch.isin(*_D19_38_0)
    ) | sch.isin("DOUBLE", "FLOAT")


def _is_string(sch: Column) -> Column:
    """STRING plus the catch-all: unknown runtime schemas classify as
    string."""
    return ~(
        _is_object(sch)
        | _is_array(sch)
        | _is_boolean(sch)
        | _is_null(sch)
        | _is_numeric(sch)
    )


_TYPE_PREDS = {
    "object": _is_object,
    "array": _is_array,
    "boolean": _is_boolean,
    "null": _is_null,
    "integer": _is_integer,
    "number": _is_numeric,  # integer ⊆ number
    "string": _is_string,
}


def _type_ok(sch: Column, allowed: list[str]) -> Column:
    if not allowed:
        return F.lit(False)
    preds = [
        _TYPE_PREDS.get(t, lambda _s: F.lit(False))(sch) for t in allowed
    ]
    return reduce(lambda a, b: a | b, preds)


def _canon_json(value: Any) -> str:
    import json as _json

    return _json.dumps(value, separators=(",", ":"), sort_keys=True)


def _eq_value(v: Column, jt: Column, target: Any) -> Column:
    """Python == semantics per runtime type (1 == True, 1 == 1.0).
    ``jt`` is the bound runtime schema string (see _sch)."""
    if isinstance(target, bool):
        return _is_boolean(jt) & (
            F.try_variant_get(v, "$", "boolean") == F.lit(target)
        ) | (
            _is_numeric(jt)
            & (F.try_variant_get(v, "$", "double") == F.lit(1.0 if target else 0.0))
        )
    if isinstance(target, (int, float)):
        num = _is_numeric(jt) & (
            F.try_variant_get(v, "$", "double") == F.lit(float(target))
        )
        if target in (0, 1):
            num = num | (
                _is_boolean(jt)
                & (F.try_variant_get(v, "$", "boolean") == F.lit(bool(target)))
            )
        return num
    if isinstance(target, str):
        return _is_string(jt) & (
            F.try_variant_get(v, "$", "string") == F.lit(target)
        )
    if target is None:
        return _is_null(jt)
    # dict/list: compact sorted-key JSON equality (variant to_json renders
    # object keys sorted, so renderings align)
    return (_is_object(jt) | _is_array(jt)) & (
        F.to_json(v) == F.lit(_canon_json(target))
    )


class Variant:
    """Value model of a VARIANT value (schema/compiler.Typed is the other).

    The node's type token ``t`` is ``schema_of_variant``, bound ONCE per
    node as a lambda variable (expressions have no CSE); every family gate
    is a runtime predicate over it and values are read with
    ``try_variant_get``. A variant is never SQL-NULL inside the tree: a
    JSON null is a VOID value the child binding validates itself."""

    jt = None  # no static JSON type
    unroll_limit = 0  # each F.get would re-read the array from the variant
    gate_items = True  # a clean element skips violation construction

    def frame(self, types, entries: Callable[[], list]) -> Bound:
        seq = entries()

        def viol(v: Column, path: Column) -> Column:
            def at(t: Column) -> Column:
                body = _assemble_viols(seq, v, t, path)
                if types is None:
                    return body
                terr = F.array(_viol(ErrorCode.TYPE_ERROR.value, path, _obs(v, t)))
                return F.when(_type_ok(t, types), body).otherwise(terr.cast(VIOLATION_TYPE))

            return F.get(F.transform(F.array(_sch(v)), at), 0)

        def fires(v: Column) -> Column:
            def at(t: Column) -> Column:
                body = _assemble_fires(seq, v, t)
                return body if types is None else F.when(_type_ok(t, types), body).otherwise(F.lit(True))

            return F.get(F.transform(F.array(_sch(v)), at), 0)

        return Bound(viol, fires)

    def family(self, name: str) -> Callable[[Column], Column]:
        return _TYPE_PREDS[name]  # "number" admits integers; never booleans

    def string(self, v: Column) -> Column:
        return F.try_variant_get(v, "$", "string")

    def number(self, v: Column) -> Column:
        return F.try_variant_get(v, "$", "double")

    def array(self, v: Column) -> Column:
        return F.try_variant_get(v, "$", "array<variant>")

    def obs(self, v: Column, t: Any = None) -> Column:
        if t is None:  # a child value: bind its own token first
            return F.get(F.transform(F.array(_sch(v)), lambda jt: _obs(v, jt)), 0)
        return _obs(v, t)

    def miss(self, v: Column, t: Column, values: list) -> Column:
        if not values:
            return F.lit(True)
        return ~reduce(lambda a, b: a | b, [_eq_value(v, t, e) for e in values])

    def items(self) -> "Variant":
        return self

    values = items

    def fields(self) -> None:
        return None

    def comparable(self, arr: Column) -> Column:
        return F.transform(arr, lambda x: _obs(x, _sch(x)))

    def present(self, b: Bound, rule: Rule, verbose: bool):
        return b.viol, b.fires

    def object(self, oseq: list, gate) -> list:
        """The object's entries run over ``map<string,variant>``, bound once
        per side as a lambda variable (keys come back SORTED)."""

        def with_map(v: Column, fn: Callable[[Column], Column]) -> Column:
            m = F.try_variant_get(v, "$", "map<string,variant>")
            return F.get(F.transform(F.array(m), fn), 0)

        return [_child(
            lambda v, t, p: with_map(v, lambda o: _assemble_viols(oseq, o, None, p)),
            lambda v, t: with_map(v, lambda o: _assemble_fires(oseq, o, None)),
            gate,
        )]


def bind_variant(rule: Rule) -> Bound:
    """(viol(v, path), fires(v)) for a PRESENT variant value ``v``."""
    return RuleBinder().bind(rule, Variant())


def _obs(v: Column, jt: Column) -> Column:
    """Observed-value rendering: Python-ish for scalars, compact JSON for
    composites (variant objects render with sorted keys — documented).
    ``jt`` is the bound runtime schema string; branches are mutually
    exclusive, with the string branch as the catch-all (unknown schemas
    classify string, mirroring _is_string)."""
    return (
        F.when(_is_boolean(jt),
              F.when(F.try_variant_get(v, "$", "boolean"), F.lit("True")).otherwise(F.lit("False")))
        .when(_is_null(jt), F.lit("None"))
        .when(
            _is_integer(jt),
            # >int64 integers live in DECIMAL(p>=19,0) variants — the bigint
            # cast overflows to NULL, so fall back to a decimal rendering
            F.coalesce(
                F.try_variant_get(v, "$", "bigint").cast("string"),
                F.try_variant_get(v, "$", "decimal(38,0)").cast("string"),
            ),
        )
        .when(_is_number(jt), F.try_variant_get(v, "$", "double").cast("string"))
        .when(_is_object(jt) | _is_array(jt), F.to_json(v))
        .otherwise(F.try_variant_get(v, "$", "string"))
    )



def _cached_violations(
    schema: Any, struct: T.StructType, mode: str, document: Callable[[Bound], Column]
) -> Column:
    """The violations Column binds only the input column by NAME, so one
    build (driver-side py4j) serves every DataFrame in the process via the
    compiler's compiled-Column cache."""

    def build() -> Column:
        rule = schema if isinstance(schema, Rule) else normalize_schema(schema)
        return document(bind_variant(rule))

    return _cached_compile(_compile_cache_key(schema, struct, mode), build)


def validate_json_variant(
    df: DataFrame, json_col: str, schema: Any, key_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, rule_id, path, observed) via parse_json + the variant binder.

    Per-VALUE dynamic typing: heterogeneous payloads that the typed path
    nulls out produce real TYPE_ERRORs here, presence ≠ JSON null, and the
    whole thing stays JVM-side. Malformed JSON → SCHEMA_INVALID (exact-path
    convention)."""

    def document(b: Bound) -> Column:
        # a NULL payload is evaluated as a JSON null document (exact-path
        # convention: json.loads(raw) if raw is not None else None). The
        # parse is bound ONCE as a lambda variable for the whole when-chain
        # (expressions have no CSE).
        raw = F.col(json_col)
        parsed = F.try_parse_json(F.coalesce(raw, F.lit("null")))
        bad = F.array(
            _viol(ErrorCode.SCHEMA_INVALID.value, F.lit(""), F.substring(raw, 1, 256))
        ).cast(VIOLATION_TYPE)
        return F.get(
            F.transform(
                F.array(parsed),
                lambda v: F.when(raw.isNotNull() & v.isNull(), bad)
                .when(v.isNotNull(), gated_document(b, v))
                .otherwise(_empty()),
            ),
            0,
        )

    vstruct = T.StructType([T.StructField(json_col, T.StringType())])
    violations = _cached_violations(schema, vstruct, "variant", document)
    return _explode(df, key_col, violations)


def validate_variant(
    df: DataFrame, variant_col: str, schema: Any, key_col: str = "doc_id"
) -> DataFrame:
    """validate_json_variant for a column that already IS VariantType —
    the lake-native form: tables store VARIANT columns directly, often
    SHREDDED on disk (typed per-key sub-columns; Spark 4.1 writes them
    under spark.sql.variant.writeShredding.enabled and rewrites
    literal-path variant_get into the scan under
    spark.sql.variant.pushVariantIntoScan). Routing such a column through
    the string entry costs a to_json → try_parse_json round trip of every
    payload; this entry binds the binder to the variant value directly.

    Semantics: a NULL variant cell is validated as a JSON null document
    (the string entry's convention for NULL payloads); there is no
    malformed-JSON arm — parsing happened upstream at write time.

    Scale note: the binder's per-value schema_of_variant dispatch reads the
    WHOLE value, so the shredded reader must reassemble full variants — the
    typed-sub-column scan win does not reach this plan. Binding
    schema-stable keys to shredded columns without the dispatch needs
    per-key presence/type metadata the Column API doesn't expose (SURVEY §9)."""

    def document(b: Bound) -> Column:
        parsed = F.coalesce(F.col(variant_col), F.parse_json(F.lit("null")))
        return F.get(F.transform(F.array(parsed), lambda v: gated_document(b, v)), 0)

    vstruct = T.StructType([T.StructField(variant_col, T.VariantType())])
    violations = _cached_violations(schema, vstruct, "variant:native", document)
    return _explode(df, key_col, violations)


def _explode(df: DataFrame, key_col: str, violations: Column) -> DataFrame:
    # The heavy projection fuses into the SCAN stage and is codegen-fallback,
    # CPU-bound per byte — a case AQE's size-based coalescing misjudges, so
    # a small/compacted input (1-2 splits) is spread over the cores first.
    # A no-op at production scale (splits >> cores).
    from json_schema_py_spark.util import ensure_parallelism

    return explode_violations(ensure_parallelism(df), key_col, violations)
