"""Bind a normalized Rule tree to a Spark schema → Column violation expressions.

The engine's physical layer. Where the reference walks each document with a
per-row recursive CPython interpreter (reference: json_schema/validator.py:31-108),
this binder emits per ruleset:

* a **boolean fast path** — one pure-predicate Column (`fires`) that tells
  whether ANY constraint fails for the row. ANDs/ORs/`exists` only: no
  structs, no strings, no arrays are built. This is what scans 10^12 mostly-
  clean documents: allocation-free, fully inside codegen.
* a **violation constructor** — the full
  ``array<struct<rule_id:string, path:string, observed:string>>`` with
  RFC-6901 paths and stringified observed values, evaluated ONLY for rows
  the fast path flagged (typically a few percent).

``compile_ruleset`` stitches them: ``when(fires, build_array).otherwise([])``.

Presence convention: a NULL value is an ABSENT property (Parquet/Iceberg
structs always carry every field). ``required`` = IS NOT NULL; all other
checks skip null values — mirroring the reference, which only validates keys
that are present (reference: json_schema/constraints/objects.py:132-140).

PERF invariants this file maintains (each was measured, see git history):
* never reference an outer EXPRESSION inside a higher-order-function lambda
  when it's per-element-loop-invariant — HOF lambdas have no CSE and re-
  evaluate it per element; bind it as a lambda variable via a single-element
  ``transform`` instead;
* never build the same expensive expression into N sibling projections —
  projection collapse duplicates the tree (the row itself is bound once as a
  lambda variable in compile_ruleset for this reason);
* closure factories, never `lambda x, k=k:` default args — PySpark counts
  declared parameters to decide whether to pass the element index.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_py_spark.errors import ErrorCode
from json_schema_py_spark.schema.model import Rule, normalize_schema

VIOLATION_STRUCT = T.StructType(
    [
        T.StructField("rule_id", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("observed", T.StringType()),
    ]
)
VIOLATION_TYPE = T.ArrayType(VIOLATION_STRUCT)

FLOAT_TOLERANCE = 1e-10  # reference: json_schema/constraints/numbers.py:97-113

# boolean fast path: arrays with maxItems <= this unroll into per-index
# codegen-able predicates instead of an interpreted HOF exists (see the
# items binding); bounded to keep generated code size sane
ARRAY_UNROLL_LIMIT = 16


def _empty() -> Column:
    return F.array().cast(VIOLATION_TYPE)


def _viol(code: str, path: Column, observed: Column) -> Column:
    return F.struct(
        F.lit(code).alias("rule_id"),
        path.alias("path"),
        # null observed renders as Python str(None) for parity
        F.coalesce(observed.cast("string"), F.lit("None")).alias("observed"),
    )


def _null_value_viols(rule: Rule, verbose: bool = False) -> list:
    """Violations a NULL JSON value produces under ``rule`` — a pure
    compile-time constant (no data dependency), folded via the Python
    evaluator. Used where null means a PRESENT null VALUE (array elements,
    map values) rather than an absent struct field."""
    from json_schema_py_spark.schema.pyeval import evaluate

    return evaluate(rule, None, "", verbose)


def _java_double_str(v: float) -> str:
    """Render a double the way Java's Double.toString (Jackson) does:
    plain decimal in [1e-3, 1e7), otherwise shortest-round-trip mantissa E
    exponent ('1.23456789E7'). The mantissa digits come from Python's repr
    (also shortest-round-trip) renormalized to scientific form — the old
    f'{v:E}' path TRUNCATED to 7 significant digits, so any enum/const
    double with more digits could never match to_json (review r03).
    Documented corner: Java 17's legacy algorithm is not always shortest
    at subnormal extremes (probed: 5e-324 → Java '4.9E-324', Python
    '5E-324'); values beyond ±1e±308 are out of practical schema range."""
    if v != v or v in (float("inf"), float("-inf")):
        return str(v)
    av = abs(v)
    if av != 0.0 and (av < 1e-3 or av >= 1e7):
        r = repr(av)
        if "e" in r:
            mant_s, exp_s = r.split("e")
            exp = int(exp_s)
        else:
            mant_s, exp = r, 0
        digits = mant_s.replace(".", "")
        point = mant_s.index(".") if "." in mant_s else len(mant_s)
        stripped = digits.lstrip("0")
        lead_zeros = len(digits) - len(stripped)
        e10 = point - 1 - lead_zeros + exp
        stripped = stripped.rstrip("0") or "0"
        mant = stripped[0] + "." + (stripped[1:] or "0")
        s = f"{mant}E{e10}"
        return "-" + s if v < 0 else s
    r = repr(v)
    if "." not in r and "e" not in r and "E" not in r:
        r += ".0"
    return r


def _canonical_json_col(col: Column, dtype: T.DataType) -> Column:
    """to_json rendering made comparable with _to_json_literal: MAP columns
    sort entries by key first (to_json renders maps in document order, which
    a schema literal cannot predict); structs/arrays render as-is (field
    order is the schema's). Maps NESTED inside the value keep data order —
    a documented deviation for composite enum/const on such shapes."""
    if isinstance(dtype, T.MapType):
        # sort entries by KEY with an explicit comparator: the default
        # array_sort needs a fully ORDERABLE element, which a map-valued
        # entry struct is not (review finding r02c)
        entries = F.array_sort(
            F.map_entries(col),
            lambda a, b: F.when(a["key"] < b["key"], F.lit(-1))
            .when(a["key"] > b["key"], F.lit(1))
            .otherwise(F.lit(0)),
        )
        return F.to_json(F.map_from_entries(entries))
    return F.to_json(col)


def _prefix_viols(arr: Column, prefix: str) -> Column:
    """Re-emit a violations array with ``prefix`` prepended to every rule_id
    (the reference prefixes branch-error MESSAGES, logical.py:98-103; rule_id
    is this engine's message carrier — api.JsonValidator splits it back).
    Paths stay DEEP (documented deviation: the reference truncates to the op
    node; see pyeval.evaluate docstring)."""
    return F.transform(
        arr,
        lambda x: F.struct(
            F.concat(F.lit(prefix), x["rule_id"]).alias("rule_id"),
            x["path"].alias("path"),
            x["observed"].alias("observed"),
        ),
    ).cast(VIOLATION_TYPE)


def _const_viols(vs: list, path: Column) -> Column:
    if not vs:
        return _empty()
    return F.array(
        *[_viol(c, F.concat(path, F.lit(p)), F.lit(o)) for c, p, o in vs]
    ).cast(VIOLATION_TYPE)


def _maybe(cond: Column, code: str, path: Column, observed: Column) -> Column:
    """A nullable violation struct: the struct when cond else NULL."""
    return F.when(cond, _viol(code, path, observed))


def json_type_of(dtype: T.DataType) -> str:
    """Spark static type → JSON type name (reference: json_schema/utils.py:126-134,174-201).

    bool is NOT a number/integer; integer IS a number — both enforced at the
    type-dispatch below (reference: json_schema/utils.py:137-139,186-191)."""
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "integer"
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "number"
    if isinstance(dtype, T.ArrayType):
        return "array"
    if isinstance(dtype, (T.StructType, T.MapType)):
        return "object"
    if isinstance(dtype, T.NullType):
        return "null"
    return "string"  # temporal columns validate as strings (engine extension)


def _type_matches(json_type: str, allowed: list[str]) -> bool:
    if json_type in allowed:
        return True
    # one-way hierarchy: integer ⊆ number (reference: json_schema/utils.py:137-139)
    return json_type == "integer" and "number" in allowed


def py_str(col: Column, dtype: T.DataType) -> Column:
    """Stringify an observed value, approximating Python str() rendering
    (booleans and composites handled; float scientific-notation corners are
    documented deviations — SURVEY.md §7)."""
    if isinstance(dtype, T.BooleanType):
        return F.when(col, F.lit("True")).otherwise(F.lit("False"))
    if isinstance(dtype, (T.ArrayType, T.StructType, T.MapType)):
        return F.to_json(col)
    return col.cast("string")


def _escape_pointer_token(key: str) -> str:
    """RFC-6901 escaping (reference: json_schema/utils.py:8-119)."""
    return key.replace("~", "~0").replace("/", "~1")


def _child_path(path: Column, key: str) -> Column:
    return F.concat(path, F.lit("/" + _escape_pointer_token(key)))


def _index_path(path: Column, idx: Column) -> Column:
    return F.concat(path, F.lit("/"), idx.cast("string"))


def _key_path(path: Column, k: Column) -> Column:
    """Pointer segment for a RUNTIME key (map/variant object keys): RFC-6901
    escaping applied per row, mirroring pyeval._escape — a key containing
    '/' or '~' must not produce an ambiguous pointer (static keys go
    through _child_path, which escapes at compile time)."""
    esc = F.replace(F.replace(k, F.lit("~"), F.lit("~0")), F.lit("/"), F.lit("~1"))
    return F.concat(path, F.lit("/"), esc)


def _py_regex_search(pattern: str, s: str) -> bool:
    try:
        return re.search(pattern, s) is not None
    except re.error:
        return False


def _py_string_rule_ok(rule: Rule, s: str) -> bool:
    """Driver-side evaluation of a string-only rule against a static key name
    (propertyNames over StructType: keys are compile-time constants).
    reference: json_schema/constraints/objects.py:118-123."""
    if rule.types is not None and "string" not in rule.types:
        return False
    if rule.min_length is not None and len(s) < rule.min_length:
        return False
    if rule.max_length is not None and len(s) > rule.max_length:
        return False
    if rule.pattern is not None and not _py_regex_search(rule.pattern, s):
        return False
    if rule.enum is not None and s not in rule.enum:
        return False
    if rule.const_set and s != rule.const:
        return False
    return True


def _enum_compatible(dtype: T.DataType, values: list[Any]) -> list[Any]:
    """Enum values comparable with the column's static type under Python ==
    semantics (1 == True, 1 == 1.0 — reference: json_schema/constraints/enums.py:36-39)."""
    jt = json_type_of(dtype)
    out: list[Any] = []
    for v in values:
        if jt == "string" and isinstance(v, str):
            out.append(v)
        elif jt == "boolean" and isinstance(v, (bool, int, float)) and v in (0, 1):
            out.append(bool(v))
        elif jt in ("integer", "number") and isinstance(v, (bool, int, float)):
            out.append(float(v) if jt == "number" else v)
        elif jt == "array" and isinstance(v, list):
            out.append(v)
        elif jt == "object" and isinstance(v, dict):
            out.append(v)
    return out


def _to_json_literal(v: Any, dtype: T.DataType) -> str:
    """Render a Python value the way ``F.to_json`` renders a column of
    ``dtype`` — struct fields in SCHEMA order, null/absent fields omitted,
    numerics coerced to the column type — so composite enum/const values
    compare as plain string equality against ``to_json(col)``. A value the
    dtype cannot represent renders faithfully anyway; it then never equals
    any to_json output, which is the correct always-mismatch semantics.
    (Float scientific-notation corners follow the documented py_str
    deviation, SURVEY.md §7.)"""
    import json as _json

    if v is None:
        return "null"
    if isinstance(dtype, T.StructType) and isinstance(v, dict):
        parts = [
            _json.dumps(f.name, ensure_ascii=False) + ":" + _to_json_literal(v[f.name], f.dataType)
            for f in dtype.fields
            if f.name in v and v[f.name] is not None
        ]
        known = {f.name for f in dtype.fields}
        parts += [  # unmatchable keys: rendered for faithfulness, never equal
            _json.dumps(k, ensure_ascii=False) + ":" + _json.dumps(x, ensure_ascii=False)
            for k, x in v.items()
            if k not in known
        ]
        return "{" + ",".join(parts) + "}"
    if isinstance(dtype, T.MapType) and isinstance(v, dict):
        # map columns render via _canonical_json_col (entries sorted by key),
        # so the literal sorts too — map DATA order is document order and
        # cannot be assumed (probe-confirmed review finding r02)
        parts = [
            _json.dumps(k, ensure_ascii=False) + ":" + _to_json_literal(v[k], dtype.valueType)
            for k in sorted(v, key=str)
        ]
        return "{" + ",".join(parts) + "}"
    if isinstance(dtype, T.ArrayType) and isinstance(v, list):
        return "[" + ",".join(_to_json_literal(x, dtype.elementType) for x in v) + "]"
    if isinstance(dtype, T.BooleanType) and isinstance(v, (bool, int)):
        return "true" if v else "false"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(dtype, (T.FloatType, T.DoubleType)) and isinstance(v, (int, float)):
        # to_json renders doubles Jackson/Java-style (0.0001 -> "1.0E-4",
        # 1e30 -> "1.0E30"); Python repr would never match outside
        # [1e-3, 1e7), yielding false ENUM/CONST mismatches (ADVICE r02).
        return _java_double_str(float(v))
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)) and isinstance(
        v, (int, float)
    ):
        return str(int(v))
    if isinstance(dtype, T.StringType) and not isinstance(v, str):
        # string-typed column (e.g. from_json's map<string,string> collapse):
        # scalars coerce to their JSON-text rendering, matching from_json's
        # own coercion (1 -> "1", true -> "true", 1e30 -> "1.0E30" — Jackson
        # renders doubles Java-style, not Python-repr-style)
        if isinstance(v, bool):
            return _json.dumps("true" if v else "false")
        if isinstance(v, (int, float)):
            return _json.dumps(
                _java_double_str(float(v)) if isinstance(v, float) else str(v)
            )
    return _json.dumps(v, ensure_ascii=False, separators=(",", ":"), sort_keys=True)


@dataclass
class Check:
    """One leaf constraint: a pure predicate + a violation constructor."""

    cond: Callable[[Column], Column]  # value non-null is assumed
    emit: Callable[[Column, Column], Column]  # (col, path) -> nullable struct


@dataclass
class Bound:
    """A compiled rule node."""

    viol: Callable[[Column, Column], Column]  # (col, path) -> array<violation>
    fires: Callable[[Column], Column]  # (col) -> boolean


def _never(col: Column) -> Column:
    return F.lit(False)


class RuleBinder:
    """Compiles a Rule tree against a Spark DataType into Bound closures.

    ``verbose=True`` reproduces the reference's branch-detail reporting
    (allOf[i]:/anyOf[i]: rule_id prefixes — see pyeval.evaluate docstring;
    both engine paths emit identical verbose sequences)."""

    def __init__(self, verbose: bool = False):
        self.verbose = verbose

    def bind(self, rule: Rule, dtype: T.DataType) -> Bound:
        jt = json_type_of(dtype)

        # --- type gate: static mismatch short-circuits everything, exactly as
        # the reference's type gate skips type-specific checks
        # (reference: json_schema/constraints/base.py:284-289) ---
        if rule.types is not None and not _type_matches(jt, rule.types):
            if jt == "null":
                # NullType column: every value is null == absent
                return Bound(lambda col, path: _empty(), _never)
            return Bound(
                lambda col, path, dt=dtype: F.filter(
                    F.array(
                        _maybe(
                            col.isNotNull(),
                            ErrorCode.TYPE_ERROR.value,
                            path,
                            py_str(col, dt),
                        )
                    ).cast(VIOLATION_TYPE),
                    lambda x: x.isNotNull(),
                ),
                lambda col: col.isNotNull(),
            )

        # ordered emitter sequence — Check (leaf) and Bound (child) entries
        # interleave in the REFERENCE's emission order (pyeval.evaluate is
        # the executable spec), so the violations array is order-exact, not
        # just set-equal (reference: objects.py:74-187 fixed sequence)
        seq: list[Any] = []

        def add(cond_fn, code: str, path_fn, obs_fn) -> None:
            seq.append(
                Check(
                    cond=cond_fn,
                    emit=lambda col, path, c=cond_fn, pf=path_fn, of=obs_fn, cd=code: _maybe(
                        c(col), cd, pf(col, path), of(col)
                    ),
                )
            )

        def self_path(col: Column, path: Column) -> Column:
            return path

        # --- enum / const (reference: enums.py:11-56, consts.py:11-55) ---
        if rule.enum is not None:
            vals = _enum_compatible(dtype, rule.enum)
            if isinstance(dtype, (T.ArrayType, T.StructType, T.MapType)):
                jvals = [_to_json_literal(v, dtype) for v in vals]
                add(
                    (lambda col, j=jvals, dt=dtype: ~_canonical_json_col(col, dt).isin(j)
                     if j else F.lit(True)),
                    ErrorCode.ENUM_MISMATCH.value,
                    self_path,
                    lambda col, dt=dtype: py_str(col, dt),
                )
            else:
                add(
                    (lambda col, v=vals: ~col.isin(v) if v else F.lit(True)),
                    ErrorCode.ENUM_MISMATCH.value,
                    self_path,
                    lambda col, dt=dtype: py_str(col, dt),
                )
        if rule.const_set:
            cvals = _enum_compatible(dtype, [rule.const])
            if isinstance(dtype, (T.ArrayType, T.StructType, T.MapType)):
                # composite const: F.lit can't take dict/list — compare the
                # to_json rendering against the value rendered the same way
                cjs = [_to_json_literal(v, dtype) for v in cvals]
                add(
                    (lambda col, j=cjs, dt=dtype: (_canonical_json_col(col, dt) != F.lit(j[0]))
                     if j else F.lit(True)),
                    ErrorCode.CONST_MISMATCH.value,
                    self_path,
                    lambda col, dt=dtype: py_str(col, dt),
                )
            else:
                add(
                    (lambda col, v=cvals: (col != F.lit(v[0])) if v else F.lit(True)),
                    ErrorCode.CONST_MISMATCH.value,
                    self_path,
                    lambda col, dt=dtype: py_str(col, dt),
                )

        # --- string (reference: json_schema/constraints/strings.py:12-118) ---
        if jt == "string":
            sstr = lambda col: col.cast("string")  # noqa: E731
            if rule.min_length is not None:
                add(
                    lambda col, n=rule.min_length: F.length(col) < n,
                    ErrorCode.STRING_TOO_SHORT.value,
                    self_path,
                    sstr,
                )
            if rule.max_length is not None:
                add(
                    lambda col, n=rule.max_length: F.length(col) > n,
                    ErrorCode.STRING_TOO_LONG.value,
                    self_path,
                    sstr,
                )
            if rule.pattern is not None:
                from json_schema_py_spark.schema.regex_dialect import (
                    checked_java_pattern,
                )

                # one shared gate for every rlike site: translate or fail
                # fast at compile time, never a per-row PatternSyntaxException
                java_pattern = checked_java_pattern(rule.pattern)
                if java_pattern is not None:
                    # rlike is search-anchored like re.search
                    # (reference: json_schema/constraints/strings.py:93)
                    add(
                        lambda col, p=java_pattern: ~col.rlike(p),
                        ErrorCode.PATTERN_MISMATCH.value,
                        self_path,
                        sstr,
                    )
                else:
                    # invalid regex: lazily detected per value
                    # (reference: json_schema/constraints/strings.py:81-91)
                    add(
                        lambda col: F.lit(True),
                        ErrorCode.SCHEMA_INVALID.value,
                        self_path,
                        sstr,
                    )

        # --- number (reference: json_schema/constraints/numbers.py:11-137) ---
        if jt in ("integer", "number"):
            pstr = lambda col, dt=dtype: py_str(col, dt)  # noqa: E731
            if rule.minimum is not None:
                lo = float(rule.minimum)
                if rule.exclusive_minimum:  # draft-04 boolean exclusives
                    add(lambda col, v=lo: col.cast("double") <= v,
                        ErrorCode.NUMBER_TOO_SMALL.value, self_path, pstr)
                else:
                    add(lambda col, v=lo: col.cast("double") < v,
                        ErrorCode.NUMBER_TOO_SMALL.value, self_path, pstr)
            if rule.maximum is not None:
                hi = float(rule.maximum)
                if rule.exclusive_maximum:
                    add(lambda col, v=hi: col.cast("double") >= v,
                        ErrorCode.NUMBER_TOO_LARGE.value, self_path, pstr)
                else:
                    add(lambda col, v=hi: col.cast("double") > v,
                        ErrorCode.NUMBER_TOO_LARGE.value, self_path, pstr)
            if rule.multiple_of is not None:
                k = rule.multiple_of
                if jt == "integer" and isinstance(k, int):
                    add(lambda col, v=k: F.pmod(col, F.lit(v)) != 0,
                        ErrorCode.NUMBER_NOT_MULTIPLE.value, self_path, pstr)
                else:
                    # exact float-tolerance branch
                    # (reference: json_schema/constraints/numbers.py:97-113);
                    # pmod matches Python %'s sign-of-divisor convention
                    def mult_cond(col: Column, v=float(k)) -> Column:
                        m = F.pmod(col.cast("double"), F.lit(v))
                        return ~((m < FLOAT_TOLERANCE) | (F.abs(m - F.lit(v)) < FLOAT_TOLERANCE))

                    add(mult_cond, ErrorCode.NUMBER_NOT_MULTIPLE.value, self_path, pstr)

        # --- array (reference: json_schema/constraints/arrays.py:52-105) ---
        if jt == "array" and isinstance(dtype, T.ArrayType):
            el_dtype = dtype.elementType
            sz = lambda col: F.size(col).cast("string")  # noqa: E731
            if rule.min_items is not None:
                add(lambda col, n=rule.min_items: F.size(col) < n,
                    ErrorCode.ARRAY_TOO_SHORT.value, self_path, sz)
            if rule.max_items is not None:
                add(lambda col, n=rule.max_items: F.size(col) > n,
                    ErrorCode.ARRAY_TOO_LONG.value, self_path, sz)
            if rule.unique_items:
                # fast path: native distinct-size comparison (equality ==
                # str()-repr equality for typed data; the 1 vs "1" collision
                # cannot occur — reference: arrays.py:72-98)
                def unique_cond(col: Column) -> Column:
                    return F.size(F.array_distinct(col)) < F.size(col)

                def unique_emit(col: Column, path: Column, el=el_dtype) -> Column:
                    # slow path (only for flagged rows): locate the first
                    # duplicate index. The array is bound as a lambda variable
                    # (single-element transform) so the quadratic probe never
                    # re-evaluates it — HOF lambdas have no CSE.
                    def find_dup(rs: Column) -> Column:
                        idxs = F.filter(
                            F.transform(rs, lambda x, i: i),
                            lambda i: F.exists(
                                F.slice(rs, F.lit(1), i),
                                lambda y: y.eqNullSafe(F.get(rs, i)),
                            ),
                        )
                        return F.get(idxs, 0)  # null-safe under ANSI mode

                    dup_i = F.get(F.transform(F.array(col), find_dup), 0)
                    return _maybe(
                        dup_i.isNotNull(),
                        ErrorCode.ARRAY_ITEMS_NOT_UNIQUE.value,
                        _index_path(path, dup_i),
                        py_str(F.get(col, dup_i), el),
                    )

                seq.append(Check(cond=unique_cond, emit=unique_emit))
            if rule.items is not None:
                item = self.bind(rule.items, el_dtype)
                # a NULL array element is a present null VALUE (arrays are
                # positional — no absence), validated per JSON semantics;
                # its violations are compile-time constants
                nv = _null_value_viols(rule.items, self.verbose)

                # PERF: when maxItems bounds the array, the boolean fast
                # path UNROLLS per-index element checks instead of an
                # interpreted HOF `exists` — F.get + struct-field predicates
                # stay inside whole-stage codegen (measured 2.0x on the
                # headline fires gate at 2M docs). The violation constructor
                # keeps the HOF transform: it runs only on flagged rows and
                # must preserve emission order/paths.
                unroll = (
                    rule.max_items
                    if rule.max_items is not None and 0 < rule.max_items <= ARRAY_UNROLL_LIMIT
                    else None
                )

                def items_fires(col: Column, b=item, nv=nv, unroll=unroll) -> Column:
                    if unroll:
                        sz = F.size(col)
                        any_c: Optional[Column] = None
                        for i in range(unroll):
                            e = F.get(col, i)
                            c = (F.lit(i) < sz) & F.when(
                                e.isNull(), F.lit(bool(nv))
                            ).otherwise(b.fires(e))
                            any_c = c if any_c is None else (any_c | c)
                        # elements past maxItems need no check: the size
                        # bound itself already fires for such rows
                        return any_c
                    return F.exists(
                        col,
                        lambda x: F.when(x.isNull(), F.lit(bool(nv))).otherwise(
                            b.fires(x)
                        ),
                    )

                seq.append(
                    Bound(
                        viol=lambda col, path, b=item, nv=nv: F.flatten(
                            F.transform(
                                col,
                                lambda x, i: F.when(
                                    x.isNull(), _const_viols(nv, _index_path(path, i))
                                ).otherwise(b.viol(x, _index_path(path, i))),
                            )
                        ),
                        fires=items_fires,
                    )
                )

        # --- object on StructType (fixed keys) ---
        if jt == "object" and isinstance(dtype, T.StructType):
            self._bind_object_struct(rule, dtype, seq, add)

        # --- object on MapType (open keys) ---
        if jt == "object" and isinstance(dtype, T.MapType):
            self._bind_object_map(rule, dtype, seq, add)

        # --- logical combinators (reference: json_schema/constraints/logical.py) ---
        if rule.all_of:
            branches = [self.bind(b, dtype) for b in rule.all_of]
            for i, br in enumerate(branches):  # all branches accumulate (logical.py:13-113)
                if self.verbose:
                    # reference prefixes each branch error (logical.py:98-103)
                    seq.append(
                        Bound(
                            viol=lambda col, path, b=br, p=f"allOf[{i}]:": _prefix_viols(
                                b.viol(col, path), p
                            ),
                            fires=br.fires,
                        )
                    )
                else:
                    seq.append(br)

        if rule.any_of:
            branches = [self.bind(b, dtype) for b in rule.any_of]

            def any_of_cond(col: Column, bs=branches) -> Column:
                all_fail = None
                for b in bs:
                    f = b.fires(col)
                    all_fail = f if all_fail is None else (all_fail & f)
                return all_fail

            # success is silent; total failure emits one ANY_OF_NO_MATCH
            # (reference short-circuit: logical.py:187-192)
            add(any_of_cond, ErrorCode.ANY_OF_NO_MATCH.value, self_path, lambda col: F.lit(""))

            if self.verbose:
                # per-branch failure detail AFTER the no-match error
                # (reference: logical.py:206-222)
                def any_detail_viol(col: Column, path: Column, bs=branches) -> Column:
                    parts = [
                        _prefix_viols(b.viol(col, path), f"anyOf[{i}]:")
                        for i, b in enumerate(bs)
                    ]
                    body = parts[0] if len(parts) == 1 else F.concat(*parts)
                    return F.when(any_of_cond(col), body).otherwise(_empty())

                seq.append(Bound(viol=any_detail_viol, fires=_never))

        if rule.one_of:
            branches = [self.bind(b, dtype) for b in rule.one_of]

            def match_count(col: Column, bs=branches) -> Column:
                n = None
                for b in bs:
                    m = (~b.fires(col)).cast("int")
                    n = m if n is None else (n + m)
                return n

            def one_of_viol(col: Column, path: Column, bs=branches) -> Column:
                # exactly-1 match; >1 emits TWO errors, the second listing the
                # matching branch indices (reference: logical.py:319-363)
                n = match_count(col)
                idx_list = F.concat_ws(
                    ",",
                    F.filter(
                        F.array(
                            *[F.when(~b.fires(col), F.lit(str(i))) for i, b in enumerate(bs)]
                        ),
                        lambda x: x.isNotNull(),
                    ),
                )
                return F.filter(
                    F.array(
                        _maybe(n == 0, ErrorCode.ONE_OF_NO_MATCH.value, path, F.lit("")),
                        _maybe(n > 1, ErrorCode.ONE_OF_MULTIPLE_MATCHES.value, path, F.lit("")),
                        _maybe(n > 1, ErrorCode.ONE_OF_MULTIPLE_MATCHES.value, path, idx_list),
                    ).cast(VIOLATION_TYPE),
                    lambda x: x.isNotNull(),
                )

            seq.append(
                Bound(viol=one_of_viol, fires=lambda col: match_count(col) != 1)
            )

        if rule.not_ is not None:
            inner = self.bind(rule.not_, dtype)
            # inner errors swallowed; inner success = violation
            # (reference: logical.py:377-462)
            add(
                lambda col, b=inner: ~b.fires(col),
                ErrorCode.NOT_SCHEMA_MATCHED.value,
                self_path,
                lambda col: F.lit(""),
            )

        # ---- assemble this node (emission order == pyeval order): runs of
        # consecutive leaf checks collapse into ONE array+filter, child
        # arrays concat in place ----
        def viol(col: Column, path: Column) -> Column:
            arrs: list[Column] = []
            pending: list[Check] = []

            def flush() -> None:
                if pending:
                    arrs.append(
                        F.filter(
                            F.array(*[c.emit(col, path) for c in pending]).cast(
                                VIOLATION_TYPE
                            ),
                            lambda x: x.isNotNull(),
                        )
                    )
                    pending.clear()

            for item in seq:
                if isinstance(item, Check):
                    pending.append(item)
                else:
                    flush()
                    arrs.append(item.viol(col, path))
            flush()
            body = arrs[0] if len(arrs) == 1 else (F.concat(*arrs) if arrs else _empty())
            return F.when(col.isNull(), _empty()).otherwise(body)

        def fires(col: Column) -> Column:
            any_c: Optional[Column] = None
            for item in seq:
                f = item.cond(col) if isinstance(item, Check) else item.fires(col)
                any_c = f if any_c is None else (any_c | f)
            if any_c is None:
                return F.lit(False)
            return col.isNotNull() & any_c

        return Bound(viol=viol, fires=fires)

    # ------------------------------------------------------------------ #

    def _bind_object_struct(
        self,
        rule: Rule,
        dtype: T.StructType,
        seq: list[Any],
        add,
    ) -> None:
        """Object keywords over a fixed StructType. Keys are compile-time
        constants, so patternProperties / additionalProperties / propertyNames
        partially constant-fold (the reference evaluates all per row,
        json_schema/constraints/objects.py:74-187). Validation order mirrors
        the reference: min/max properties → required → dependencies →
        propertyNames → properties → patternProperties → additionalProperties."""
        fields = {f.name: f.dataType for f in dtype.fields}

        def present_count(col: Column) -> Column:
            cnt = F.lit(0)
            for k in fields:
                cnt = cnt + col.getField(k).isNotNull().cast("int")
            return cnt

        cstr = lambda col: present_count(col).cast("string")  # noqa: E731
        if rule.min_properties is not None:
            add(lambda col, n=rule.min_properties: present_count(col) < n,
                ErrorCode.OBJECT_TOO_FEW_PROPERTIES.value,
                lambda col, path: path, cstr)
        if rule.max_properties is not None:
            add(lambda col, n=rule.max_properties: present_count(col) > n,
                ErrorCode.OBJECT_TOO_MANY_PROPERTIES.value,
                lambda col, path: path, cstr)

        for req in rule.required:
            cond = (
                (lambda col, k=req: col.getField(k).isNull())
                if req in fields
                else (lambda col: F.lit(True))
            )
            add(cond, ErrorCode.REQUIRED_PROPERTY_MISSING.value,
                lambda col, path, k=req: _child_path(path, k),
                lambda col: F.lit("None"))

        for dep_key, dep_reqs in rule.dependencies.items():
            if dep_key not in fields:
                continue  # trigger key can never be present
            for needed in dep_reqs:
                cond = (
                    (lambda col, a=dep_key, b=needed: col.getField(a).isNotNull()
                     & col.getField(b).isNull())
                    if needed in fields
                    else (lambda col, a=dep_key: col.getField(a).isNotNull())
                )
                add(cond, ErrorCode.DEPENDENCY_MISSING.value,
                    lambda col, path, k=needed: _child_path(path, k),
                    lambda col: F.lit("None"))

        if rule.property_names is not None:
            # static keys → fold driver-side via pyeval; the reference emits
            # the UNDERLYING code (e.g. PATTERN_MISMATCH) at the key's path,
            # not a dedicated propertyNames code
            from json_schema_py_spark.schema.pyeval import string_rule_violations

            for k in fields:
                for code, _vp, obs in string_rule_violations(rule.property_names, k):
                    add(lambda col, k=k: col.getField(k).isNotNull(),
                        code,
                        lambda col, path, k=k: _child_path(path, k),
                        lambda col, o=obs: F.lit(o))

        matched_keys: set[str] = set()
        # entries: ("sub", key, rule) to bind a child, or ("bad_pat", pattern,
        # error) for a Python-invalid patternProperties regex — kept in
        # EMISSION order (properties first, then per-pattern in pattern
        # order) so the sequence stays pyeval/reference-exact
        entries: list[tuple] = []
        for k, sub in rule.properties.items():
            matched_keys.add(k)
            if k in fields:
                entries.append(("sub", k, sub))
        for pat, sub in rule.pattern_properties.items():
            try:
                cre = re.compile(pat)
            except re.error as e:
                # reference emits SCHEMA_INVALID at the object's path, once
                # per invalid pattern per validated object (objects.py:147-152)
                entries.append(("bad_pat", pat, str(e)))
                continue
            for k in fields:
                if cre.search(k):
                    if k not in matched_keys:
                        entries.append(("sub", k, sub))
                    matched_keys.add(k)

        for kind, a, b_ in entries:
            if kind == "bad_pat":
                add(lambda col: F.lit(True),
                    ErrorCode.SCHEMA_INVALID.value,
                    lambda col, path: path,
                    lambda col, p=a: F.lit(p))
                continue
            k, sub = a, b_
            b = self.bind(sub, fields[k])
            seq.append(
                Bound(
                    viol=lambda col, path, k=k, b=b: b.viol(
                        col.getField(k), _child_path(path, k)
                    ),
                    fires=lambda col, k=k, b=b: b.fires(col.getField(k)),
                )
            )

        ap = rule.additional_properties
        if ap is not None:
            matched_keys |= set(rule.exempt_properties)  # sibling-branch escape hatch
            extra_keys = [k for k in fields if k not in matched_keys]
            if ap is False:
                for k in extra_keys:
                    add(lambda col, k=k: col.getField(k).isNotNull(),
                        ErrorCode.ADDITIONAL_PROPERTY_NOT_ALLOWED.value,
                        lambda col, path, k=k: _child_path(path, k),
                        lambda col, k=k, dt=fields[k]: py_str(col.getField(k), dt))
            elif isinstance(ap, Rule):
                for k in extra_keys:
                    b = self.bind(ap, fields[k])
                    seq.append(
                        Bound(
                            viol=lambda col, path, k=k, b=b: b.viol(
                                col.getField(k), _child_path(path, k)
                            ),
                            fires=lambda col, k=k, b=b: b.fires(col.getField(k)),
                        )
                    )

    # ------------------------------------------------------------------ #

    def _bind_object_map(
        self,
        rule: Rule,
        dtype: T.MapType,
        seq: list[Any],
        add,
    ) -> None:
        """Object keywords over an open-keyed MapType — the dynamic-document
        case (reference: json_schema/constraints/objects.py:74-187). All
        checks are runtime expressions over map_keys/map entries."""
        val_dtype = dtype.valueType

        szstr = lambda col: F.size(col).cast("string")  # noqa: E731
        if rule.min_properties is not None:
            add(lambda col, n=rule.min_properties: F.size(col) < n,
                ErrorCode.OBJECT_TOO_FEW_PROPERTIES.value,
                lambda col, path: path, szstr)
        if rule.max_properties is not None:
            add(lambda col, n=rule.max_properties: F.size(col) > n,
                ErrorCode.OBJECT_TOO_MANY_PROPERTIES.value,
                lambda col, path: path, szstr)

        for req in rule.required:
            add(lambda col, k=req: ~F.map_contains_key(col, F.lit(k)),
                ErrorCode.REQUIRED_PROPERTY_MISSING.value,
                lambda col, path, k=req: _child_path(path, k),
                lambda col: F.lit("None"))

        for dep_key, dep_reqs in rule.dependencies.items():
            for needed in dep_reqs:
                add(lambda col, a=dep_key, b=needed: F.map_contains_key(col, F.lit(a))
                    & ~F.map_contains_key(col, F.lit(b)),
                    ErrorCode.DEPENDENCY_MISSING.value,
                    lambda col, path, k=needed: _child_path(path, k),
                    lambda col: F.lit("None"))

        if rule.property_names is not None:
            # runtime keys: validate each key AS a string value; underlying
            # codes surface at the key's path (reference behavior)
            nb = self.bind(rule.property_names, T.StringType())
            seq.append(
                Bound(
                    viol=lambda col, path, b=nb: F.flatten(
                        F.transform(
                            F.filter(F.map_keys(col), lambda k: b.fires(k)),
                            lambda k: b.viol(k, _key_path(path, k)),
                        )
                    ),
                    fires=lambda col, b=nb: F.exists(F.map_keys(col), lambda k: b.fires(k)),
                )
            )

        matched_static = list(rule.properties.keys())
        for k, sub in rule.properties.items():
            b = self.bind(sub, val_dtype)
            # map values follow JSON semantics: a null VALUE under a present
            # key is validated as null (compile-time folded), unlike absent
            # struct fields
            nv = _null_value_viols(sub, self.verbose)
            seq.append(
                Bound(
                    viol=lambda col, path, k=k, b=b, nv=nv: F.when(
                        F.map_contains_key(col, F.lit(k))
                        & F.try_element_at(col, F.lit(k)).isNull(),
                        _const_viols(nv, _child_path(path, k)),
                    )
                    .when(
                        F.map_contains_key(col, F.lit(k)),
                        b.viol(F.try_element_at(col, F.lit(k)), _child_path(path, k)),
                    )
                    .otherwise(_empty()),
                    fires=lambda col, k=k, b=b, nv=nv: F.map_contains_key(col, F.lit(k))
                    & F.when(
                        F.try_element_at(col, F.lit(k)).isNull(), F.lit(bool(nv))
                    ).otherwise(b.fires(F.try_element_at(col, F.lit(k)))),
                )
            )

        # patternProperties keys: mirror the `pattern` keyword path —
        # Python-invalid patterns emit SCHEMA_INVALID at the object's path
        # (reference objects.py:147-152), valid ones are mechanically
        # translated to the Java dialect and fail fast if untranslatable;
        # keys already matched by static `properties` are EXCLUDED
        # (pyeval: `if k not in rule.properties`)
        pattern_list: list[str] = []
        for pat, sub in rule.pattern_properties.items():
            from json_schema_py_spark.schema.regex_dialect import checked_java_pattern

            jpat = checked_java_pattern(pat, "patternProperties")
            if jpat is None:
                # Python-invalid: the reference emits SCHEMA_INVALID at the
                # object's path, once per invalid pattern per validated
                # object (objects.py:147-152) — silently skipping was a
                # round-3 parity find, fixed with pyeval in lockstep
                add(lambda col: F.lit(True),
                    ErrorCode.SCHEMA_INVALID.value,
                    lambda col, path: path,
                    lambda col, p=pat: F.lit(p))
                continue
            pattern_list.append(jpat)
            b = self.bind(sub, val_dtype)
            nv = _null_value_viols(sub, self.verbose)
            static_keys = tuple(rule.properties.keys())

            def pat_keys(col: Column, p=jpat, sk=static_keys) -> Column:
                def match(k: Column) -> Column:
                    cond = k.rlike(p)
                    if sk:
                        cond = cond & ~k.isin(list(sk))
                    return cond

                return F.filter(F.map_keys(col), match)

            seq.append(
                Bound(
                    viol=lambda col, path, b=b, pk=pat_keys, nv=nv: F.flatten(
                        F.transform(
                            pk(col),
                            lambda k: F.when(
                                F.try_element_at(col, k).isNull(),
                                _const_viols(nv, _key_path(path, k)),
                            ).otherwise(
                                b.viol(
                                    F.try_element_at(col, k), _key_path(path, k)
                                )
                            ),
                        )
                    ),
                    fires=lambda col, b=b, pk=pat_keys, nv=nv: F.exists(
                        pk(col),
                        lambda k: F.when(
                            F.try_element_at(col, k).isNull(), F.lit(bool(nv))
                        ).otherwise(b.fires(F.try_element_at(col, k))),
                    ),
                )
            )

        ap = rule.additional_properties
        if ap is not None:

            def extra_keys(col: Column) -> Column:
                ks = F.map_keys(col)
                skip = list(set(matched_static) | set(rule.exempt_properties))
                if skip:
                    ks = F.filter(ks, lambda k: ~k.isin(skip))

                def _not_matching(p: str):  # closure factory (see module doc)
                    return lambda k: ~k.rlike(p)

                for p in pattern_list:
                    ks = F.filter(ks, _not_matching(p))
                return ks

            if ap is False:
                seq.append(
                    Bound(
                        viol=lambda col, path: F.transform(
                            extra_keys(col),
                            lambda k: _viol(
                                ErrorCode.ADDITIONAL_PROPERTY_NOT_ALLOWED.value,
                                _key_path(path, k),
                                py_str(F.try_element_at(col, k), val_dtype),
                            ),
                        ).cast(VIOLATION_TYPE),
                        fires=lambda col: F.size(extra_keys(col)) > 0,
                    )
                )
            elif isinstance(ap, Rule):
                b = self.bind(ap, val_dtype)
                nv = _null_value_viols(ap, self.verbose)
                seq.append(
                    Bound(
                        viol=lambda col, path, b=b, nv=nv: F.flatten(
                            F.transform(
                                extra_keys(col),
                                lambda k: F.when(
                                    F.try_element_at(col, k).isNull(),
                                    _const_viols(nv, _key_path(path, k)),
                                ).otherwise(
                                    b.viol(
                                        F.try_element_at(col, k),
                                        _key_path(path, k),
                                    )
                                ),
                            )
                        ),
                        fires=lambda col, b=b, nv=nv: F.exists(
                            extra_keys(col),
                            lambda k: F.when(
                                F.try_element_at(col, k).isNull(), F.lit(bool(nv))
                            ).otherwise(b.fires(F.try_element_at(col, k))),
                        ),
                    )
                )


# ---------------------------------------------------------------------- #
# public API
# ---------------------------------------------------------------------- #


# Compiled-Column cache, per process. Building the expression tree is
# driver-side Python crossing py4j once per Column op (~1.3 s for the
# documents ruleset), far more than executing it. A Column is an immutable
# unresolved-expression tree bound only to column NAMES, so one build serves
# every DataFrame with a matching schema, across session restarts within the
# process (the py4j gateway is per-process). Keys are content (schema JSON +
# struct type + flags), never id(). Rule-instance schemas are not cached (no
# stable content key). A hit returns the very Column the first build made;
# compile-time diagnostics (RegexDialectWarning) are emitted by that build only.
_COMPILE_CACHE: dict = {}
_COMPILE_CACHE_MAX = 256


def _cached_compile(key: Optional[tuple], build: Callable[[], Column]) -> Column:
    """The one lookup → build → store path for every compiled-Column
    producer (compile_ruleset, compile_fires, the variant binder)."""
    if key is not None:
        cached = _COMPILE_CACHE.get(key)
        if cached is not None:
            return cached
    col = build()
    if key is not None:
        if len(_COMPILE_CACHE) >= _COMPILE_CACHE_MAX:
            _COMPILE_CACHE.clear()
        _COMPILE_CACHE[key] = col
    return col


def _compile_cache_key(schema: Any, struct_type: T.StructType, mode: str) -> Optional[tuple]:
    if isinstance(schema, Rule):
        return None
    import json as _json

    try:
        # key order is PRESERVED (no sort_keys): properties order drives the
        # engine's order-exact violation emission, so two schemas differing
        # only in key order must compile separately (review finding r03)
        skey = _json.dumps(schema, default=str)
    except (TypeError, ValueError):
        return None
    return (skey, struct_type.json(), mode)


def compile_ruleset(
    schema: Any,
    struct_type: T.StructType,
    verbose: bool = False,
    bind_row: bool = True,
) -> Column:
    """Compile a JSON-Schema-subset ruleset against a DataFrame schema.

    Returns a Column producing ``array<struct<rule_id,path,observed>>`` for a
    row treated as the document (root path = ""). Compilation happens
    driver-side ONCE per (schema, struct_type) per process — cached, since
    the py4j expression build costs ~10x the 2M-row execution (see
    _COMPILE_CACHE) — unlike the reference's recompile-per-validate
    (json_schema/api.py:115-119).

    Execution shape: the allocation-free boolean `fires` predicate gates the
    violation-array construction, so clean rows (the overwhelming majority at
    10^12 scale) never allocate a struct, a path string, or an array.

    ``bind_row`` (round-7): with True (default, the r6 form) the row is
    bound once as a transform() lambda variable — that binding makes the
    whole ruleset a higher-order function (CodegenFallback, interpreted)
    but guarantees DERIVED input columns are evaluated once even after a
    filter pushdown substitutes the whole expression into a scan-level
    Filter. With False the row is a bare struct-of-columns whose field
    references simplify to direct column reads (SimplifyExtractValueOps)
    and the ruleset runs in whole-stage codegen — measured 1.22s → 0.68s
    on the 2M fused pass, bit-identical output — but on a DERIVED input
    (e.g. spans_documents) the same pushdown inlines the derivation per
    field reference and the oversized stage drops out of codegen (no
    subexpression elimination): measured 0.27s → 4.5s. with_violations
    picks the form from the input's plan shape; both forms are
    value-identical."""
    key = _compile_cache_key(schema, struct_type, f"viol:{verbose}:bind{bind_row}")

    def build() -> Column:
        rule = schema if isinstance(schema, Rule) else normalize_schema(schema)
        bound = RuleBinder(verbose=verbose).bind(rule, struct_type)
        root = F.struct(*[F.col(f.name) for f in struct_type.fields])
        if not bind_row:
            return F.when(
                bound.fires(root), bound.viol(root, F.lit(""))
            ).otherwise(_empty())
        return F.get(
            F.transform(
                F.array(root),
                lambda row: F.when(
                    bound.fires(row), bound.viol(row, F.lit(""))
                ).otherwise(_empty()),
            ),
            0,
        )

    return _cached_compile(key, build)


def compile_fires(
    schema: Any, struct_type: T.StructType, bind_row: bool = True
) -> Column:
    """Just the boolean fast path: does ANY rule fire for the row? Useful for
    pass/fail filtering and partition verdicts without violation details.
    ``bind_row``: see compile_ruleset."""
    key = _compile_cache_key(schema, struct_type, f"fires:bind{bind_row}")

    def build() -> Column:
        rule = schema if isinstance(schema, Rule) else normalize_schema(schema)
        bound = RuleBinder().bind(rule, struct_type)
        root = F.struct(*[F.col(f.name) for f in struct_type.fields])
        if not bind_row:
            return bound.fires(root)
        return F.get(F.transform(F.array(root), lambda row: bound.fires(row)), 0)

    return _cached_compile(key, build)


def _is_plain_relation(df: DataFrame) -> bool:
    """True when the frame is a bare materialized relation (parquet scan,
    cached table): its columns are storage attributes, so the unbound
    (whole-stage-codegen) ruleset form is safe and ~2x faster. Anything
    derived (Project/Filter/...) keeps the r6 lambda binding — see
    compile_ruleset's bind_row note."""
    try:
        return df._jdf.queryExecution().analyzed().nodeName() in (  # noqa: SLF001
            "LogicalRelation",
            "DataSourceV2Relation",
            "InMemoryRelation",
            "LogicalRDD",
            "HiveTableRelation",
        )
    except Exception:
        return False


def with_violations(
    df: DataFrame, schema: Any, col_name: str = "violations", verbose: bool = False
) -> DataFrame:
    """Attach the violations array + per-row ``valid`` flag. Plain-scan
    inputs get the whole-stage-codegen ruleset form; derived inputs keep
    the row-bound form (value-identical — see compile_ruleset)."""
    relevant = T.StructType([f for f in df.schema.fields])
    bind = not _is_plain_relation(df)
    v = compile_ruleset(schema, relevant, verbose=verbose, bind_row=bind)
    return df.withColumn(col_name, v).withColumn("valid", F.size(F.col(col_name)) == 0)


def validate(
    df: DataFrame, schema: Any, key_col: str = "doc_id", verbose: bool = False
) -> DataFrame:
    """Exploded violation rows ``(doc_id, rule_id, path, observed)`` —
    the engine's golden-output shape (FIXTURES.md §5). ``verbose`` adds the
    reference's allOf[i]:/anyOf[i]: branch detail (rule_id-prefixed)."""
    vdf = with_violations(df, schema, verbose=verbose)
    return (
        vdf.select(F.col(key_col).alias("doc_id"), F.explode("violations").alias("v"))
        .select(
            "doc_id",
            F.col("v.rule_id").alias("rule_id"),
            F.col("v.path").alias("path"),
            F.col("v.observed").alias("observed"),
        )
    )
