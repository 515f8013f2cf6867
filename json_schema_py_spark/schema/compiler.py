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

One walker (``RuleBinder``) owns the keyword order, the entry list and its
assembly, the combinators and the open-object (map) keywords. It reads
values through a value model: ``Typed`` (a Spark column of static type —
gates fold at compile time) here, ``plans.json_variant.Variant`` (a
VARIANT value with a runtime type token) for dynamic JSON.

Presence convention (Typed): a NULL value is an ABSENT property (Parquet/
Iceberg structs always carry every field). ``required`` = IS NOT NULL; all
other checks skip null values — mirroring the reference, which only
validates keys that are present (reference: objects.py:132-140).

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

import operator
import re
from functools import reduce
from typing import Any, Callable, NamedTuple, Optional

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


def _java_double_str(v: float) -> str:
    """Render a double the way Java's Double.toString (Jackson) does:
    plain decimal in [1e-3, 1e7), otherwise shortest-round-trip mantissa E
    exponent ('1.23456789E7'). The mantissa digits come from Python's repr
    (also shortest-round-trip) renormalized to scientific form, so an
    enum/const double of any precision matches to_json (a fixed-width
    format such as f'{v:E}' would truncate to 7 significant digits).
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
        # entry struct is not
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
        # cannot be assumed
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
        # [1e-3, 1e7), yielding false ENUM/CONST mismatches.
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


class Bound(NamedTuple):
    """A compiled rule node over one value ``v`` at pointer ``path``."""

    viol: Callable[[Column, Column], Column]  # (v, path) -> array<violation>
    fires: Callable[[Column], Column]  # (v) -> boolean


class Entry(NamedTuple):
    """One step of a node's ordered entry list. ``t`` is the node's type
    token (None for a typed value, whose type is static)."""

    leaf: bool  # leaf checks of one run share a single array+filter
    viol: Callable  # (v, t, path) -> nullable struct (leaf) | array<violation>
    fires: Callable  # (v, t) -> boolean


def _here(v: Column, t: Any, path: Column) -> Column:
    return path


def _none_obs(v: Column, t: Any) -> Column:
    return F.lit("None")


def _blank_obs(v: Column, t: Any) -> Column:
    return F.lit("")


def _nonnull(x: Column) -> Column:
    return x.isNotNull()


def _gated(gate, cond: Callable) -> Callable:
    """``cond`` behind a family gate: a folded True leaves it as is, a
    runtime gate (a predicate over the type token) ANDs in front."""
    if gate is True:
        return cond
    return lambda v, t: gate(t) & cond(v, t)


def _check(cond: Callable, code: str, obs: Callable, path=_here, gate=True) -> Entry:
    c = _gated(gate, cond)
    return Entry(True, lambda v, t, p: _maybe(c(v, t), code, path(v, t, p), obs(v, t)), c)


def _child(viol: Callable, fires: Callable, gate=True) -> Entry:
    if gate is not True:
        inner = viol
        viol = lambda v, t, p: F.when(gate(t), inner(v, t, p)).otherwise(_empty())  # noqa: E731
    return Entry(False, viol, _gated(gate, fires))


def _each_entry(select: Callable, part: str, cv: Callable, cf: Callable) -> Entry:
    """Validate ``part`` ("key" or "value") of every map entry ``select``
    keeps, at the entry key's pointer. Only firing entries build violation
    structs; filter keeps entry order, so emission order is unchanged."""
    return Entry(
        False,
        lambda o, t, p: F.flatten(
            F.transform(
                F.filter(select(o), lambda e: cf(e[part])),
                lambda e: cv(e[part], _key_path(p, e["key"])),
            )
        ),
        lambda o, t: F.exists(select(o), lambda e: cf(e[part])),
    )


def _assemble_viols(seq: list, v: Column, t: Any, path: Column) -> Column:
    """Emission order == entry order: runs of consecutive leaf checks
    collapse into ONE array+filter, child arrays concat in place."""
    arrs: list[Column] = []
    pending: list[Column] = []

    def flush() -> None:
        if pending:
            arrs.append(F.filter(F.array(*pending).cast(VIOLATION_TYPE), _nonnull))
            pending.clear()

    for e in seq:
        if e.leaf:
            pending.append(e.viol(v, t, path))
        else:
            flush()
            arrs.append(e.viol(v, t, path))
    flush()
    return arrs[0] if len(arrs) == 1 else (F.concat(*arrs) if arrs else _empty())


def _assemble_fires(seq: list, v: Column, t: Any) -> Column:
    conds = [e.fires(v, t) for e in seq]
    return reduce(operator.or_, conds) if conds else F.lit(False)


def _contains_map(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.MapType):
        return True
    if isinstance(dtype, T.ArrayType):
        return _contains_map(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return any(_contains_map(f.dataType) for f in dtype.fields)
    return False


class Typed:
    """Value model of a Spark column with static type ``dtype``.

    The JSON type is known at compile time, so the type gate and every
    per-family gate fold to Python bools. A NULL is an ABSENT value
    (struct fields), except where ``present`` says it is a present JSON
    null (array elements, map values). A value model answers the walker's
    questions: ``frame`` (NULL handling + type gate), ``family`` (per-family
    gate), the ``string``/``number``/``array`` accessors, ``miss``
    (enum/const), ``obs`` (observed rendering), the child models
    (``items``, ``values``, ``fields``), ``comparable`` (uniqueItems keys),
    ``present`` and ``object`` (how object entries attach)."""

    unroll_limit = ARRAY_UNROLL_LIMIT
    gate_items = False  # element viols need no fires gate: a NULL is cheap

    def __init__(self, dtype: T.DataType):
        self.dtype = dtype
        self.jt: Optional[str] = json_type_of(dtype)

    def frame(self, types: Optional[list[str]], entries: Callable[[], list]) -> Bound:
        # static mismatch short-circuits everything, as the reference's type
        # gate skips type-specific checks (reference: constraints/base.py:284-289)
        if types is not None and not _type_matches(self.jt, types):
            if self.jt == "null":  # NullType column: every value is absent
                return Bound(lambda v, path: _empty(), lambda v: F.lit(False))
            return Bound(
                lambda v, path: F.filter(
                    F.array(
                        _maybe(v.isNotNull(), ErrorCode.TYPE_ERROR.value, path, self.obs(v))
                    ).cast(VIOLATION_TYPE),
                    _nonnull,
                ),
                lambda v: v.isNotNull(),
            )
        seq = entries()
        return Bound(
            lambda v, path: F.when(v.isNull(), _empty()).otherwise(
                _assemble_viols(seq, v, None, path)
            ),
            lambda v: (v.isNotNull() & _assemble_fires(seq, v, None)) if seq else F.lit(False),
        )

    def family(self, name: str) -> bool:
        return self.jt in ("integer", "number") if name == "number" else self.jt == name

    def string(self, v: Column) -> Column:
        return v

    def number(self, v: Column) -> Column:
        return v.cast("double")

    def array(self, v: Column) -> Column:
        return v

    def obs(self, v: Column, t: Any = None) -> Column:
        return py_str(v, self.dtype)

    def miss(self, v: Column, t: Any, values: list) -> Column:
        """True when ``v`` equals none of ``values`` (Python == semantics)."""
        vals = _enum_compatible(self.dtype, values)
        if not vals:
            return F.lit(True)
        if isinstance(self.dtype, (T.ArrayType, T.StructType, T.MapType)):
            # composite: F.lit can't take dict/list — compare the to_json
            # rendering against each value rendered the same way
            canon = _canonical_json_col(v, self.dtype)
            return ~canon.isin([_to_json_literal(x, self.dtype) for x in vals])
        return ~v.isin(vals)

    def items(self) -> "Typed":
        return Typed(self.dtype.elementType)

    def values(self) -> "Typed":
        return Typed(self.dtype.valueType)

    def fields(self) -> Optional[dict]:
        if isinstance(self.dtype, T.StructType):
            return {f.name: f.dataType for f in self.dtype.fields}
        return None

    def comparable(self, arr: Column) -> Column:
        """Elements rendered so array_distinct and <=> can compare them:
        themselves, or their to_json text when they hold a map (maps are
        not orderable)."""
        if _contains_map(self.dtype):
            return F.transform(arr, lambda x: F.to_json(x))
        return arr

    def present(self, b: Bound, rule: Rule, verbose: bool):
        """(viol, fires) for a value that is present: a NULL there is a JSON
        null, whose violations are compile-time constants (folded by the
        Python evaluator)."""
        from json_schema_py_spark.schema.pyeval import evaluate

        nv = evaluate(rule, None, "", verbose)

        def viol(x: Column, path: Column) -> Column:
            return F.when(x.isNull(), _const_viols(nv, path)).otherwise(b.viol(x, path))

        def fires(x: Column) -> Column:
            return F.when(x.isNull(), F.lit(bool(nv))).otherwise(b.fires(x))

        return viol, fires

    def object(self, oseq: list, gate) -> list:
        return oseq  # the struct/map column is the node value itself


class RuleBinder:
    """The one rule-tree walker: owns the reference's keyword order
    (type gate → enum/const → string → number → array → object →
    allOf/anyOf/oneOf/not; pyeval.evaluate is the executable spec) and
    binds every keyword through a value model (``Typed`` here,
    ``json_variant.Variant`` for VARIANT values). One ordered entry list
    per node feeds BOTH the boolean fast path and the violation
    constructor, so their parity is structural.

    ``verbose=True`` reproduces the reference's branch-detail reporting
    (allOf[i]:/anyOf[i]: rule_id prefixes — see pyeval.evaluate)."""

    def __init__(self, verbose: bool = False):
        self.verbose = verbose

    def bind(self, rule: Rule, m) -> Bound:
        return m.frame(rule.types, lambda: self._entries(rule, m))

    def _entries(self, rule: Rule, m) -> list:
        from json_schema_py_spark.schema.regex_dialect import checked_java_pattern

        seq: list[Entry] = []

        def check(cond, code: str, obs=m.obs, gate=True) -> None:
            seq.append(_check(cond, code, obs, gate=gate))

        # --- enum / const (reference: enums.py:11-56, consts.py:11-55) ---
        if rule.enum is not None:
            check(lambda v, t, e=rule.enum: m.miss(v, t, e), ErrorCode.ENUM_MISMATCH.value)
        if rule.const_set:
            check(lambda v, t, c=rule.const: m.miss(v, t, [c]), ErrorCode.CONST_MISMATCH.value)

        # --- string (reference: json_schema/constraints/strings.py:12-118) ---
        g = m.family("string")
        if g is not False:
            s = m.string

            def s_obs(v, t):
                return s(v).cast("string")

            if rule.min_length is not None:
                check(lambda v, t, n=rule.min_length: F.length(s(v)) < n,
                      ErrorCode.STRING_TOO_SHORT.value, s_obs, g)
            if rule.max_length is not None:
                check(lambda v, t, n=rule.max_length: F.length(s(v)) > n,
                      ErrorCode.STRING_TOO_LONG.value, s_obs, g)
            if rule.pattern is not None:
                # one shared gate for every rlike site: translate or fail
                # fast at compile time, never a per-row PatternSyntaxException
                jp = checked_java_pattern(rule.pattern)
                if jp is not None:  # rlike is search-anchored like re.search
                    check(lambda v, t, p=jp: ~s(v).rlike(p),
                          ErrorCode.PATTERN_MISMATCH.value, s_obs, g)
                else:  # Python-invalid regex: lazy SCHEMA_INVALID per value
                    check(lambda v, t: F.lit(True), ErrorCode.SCHEMA_INVALID.value, s_obs, g)

        # --- number (reference: json_schema/constraints/numbers.py:11-137) ---
        g = m.family("number")
        if g is not False:
            d = m.number
            if rule.minimum is not None:  # draft-04 boolean exclusives
                check(lambda v, t, lo=float(rule.minimum), ex=rule.exclusive_minimum:
                      (d(v) <= lo) if ex else (d(v) < lo),
                      ErrorCode.NUMBER_TOO_SMALL.value, gate=g)
            if rule.maximum is not None:
                check(lambda v, t, hi=float(rule.maximum), ex=rule.exclusive_maximum:
                      (d(v) >= hi) if ex else (d(v) > hi),
                      ErrorCode.NUMBER_TOO_LARGE.value, gate=g)
            k = rule.multiple_of
            if k is not None and m.jt == "integer" and isinstance(k, int):
                check(lambda v, t, k=k: F.pmod(v, F.lit(k)) != 0,
                      ErrorCode.NUMBER_NOT_MULTIPLE.value, gate=g)
            elif k is not None:
                # float-tolerance branch (reference: numbers.py:97-113);
                # pmod matches Python %'s sign-of-divisor convention
                def mult_miss(v, t, k=float(k)):
                    r = F.pmod(d(v), F.lit(k))
                    return ~((r < FLOAT_TOLERANCE) | (F.abs(r - F.lit(k)) < FLOAT_TOLERANCE))

                check(mult_miss, ErrorCode.NUMBER_NOT_MULTIPLE.value, gate=g)

        # --- array (reference: json_schema/constraints/arrays.py:52-105) ---
        g = m.family("array")
        if g is not False:
            self._array(rule, m, g, seq)

        # --- object (reference: json_schema/constraints/objects.py:74-187) ---
        g = m.family("object")
        if g is not False:
            fields = m.fields()
            if fields is not None:
                oseq = self._struct_entries(rule, fields)
            else:
                oseq = self._map_entries(rule, m.values())
            if oseq:
                seq.extend(m.object(oseq, g))

        # --- logical combinators (reference: json_schema/constraints/logical.py) ---
        for i, b in enumerate([self.bind(x, m) for x in rule.all_of]):
            # all branches accumulate (logical.py:13-113); verbose prefixes
            # each branch error (logical.py:98-103)
            pre = f"allOf[{i}]:" if self.verbose else None
            seq.append(_child(
                lambda v, t, p, b=b, pre=pre: (
                    _prefix_viols(b.viol(v, p), pre) if pre else b.viol(v, p)
                ),
                lambda v, t, b=b: b.fires(v),
            ))

        if rule.any_of:
            bs = [self.bind(x, m) for x in rule.any_of]

            def none_match(v, t, bs=bs):
                return reduce(operator.and_, [b.fires(v) for b in bs])

            # success is silent; total failure emits one ANY_OF_NO_MATCH
            # (reference short-circuit: logical.py:187-192)
            check(none_match, ErrorCode.ANY_OF_NO_MATCH.value, _blank_obs)
            if self.verbose:
                # per-branch failure detail AFTER the no-match error
                # (reference: logical.py:206-222)
                def any_detail(v, t, p, bs=bs):
                    parts = [_prefix_viols(b.viol(v, p), f"anyOf[{i}]:") for i, b in enumerate(bs)]
                    body = parts[0] if len(parts) == 1 else F.concat(*parts)
                    return F.when(none_match(v, t), body).otherwise(_empty())

                seq.append(_child(any_detail, lambda v, t: F.lit(False)))

        if rule.one_of:
            bs = [self.bind(x, m) for x in rule.one_of]

            def match_count(v, bs=bs):
                return reduce(operator.add, [(~b.fires(v)).cast("int") for b in bs])

            def one_of_viol(v, t, p, bs=bs):
                # exactly-1 match; >1 emits TWO errors, the second listing the
                # matching branch indices (reference: logical.py:319-363)
                n = match_count(v)
                idx_list = F.concat_ws(
                    ",",
                    F.filter(
                        F.array(*[F.when(~b.fires(v), F.lit(str(i))) for i, b in enumerate(bs)]),
                        _nonnull,
                    ),
                )
                return F.filter(
                    F.array(
                        _maybe(n == 0, ErrorCode.ONE_OF_NO_MATCH.value, p, F.lit("")),
                        _maybe(n > 1, ErrorCode.ONE_OF_MULTIPLE_MATCHES.value, p, F.lit("")),
                        _maybe(n > 1, ErrorCode.ONE_OF_MULTIPLE_MATCHES.value, p, idx_list),
                    ).cast(VIOLATION_TYPE),
                    _nonnull,
                )

            seq.append(_child(one_of_viol, lambda v, t: match_count(v) != 1))

        if rule.not_ is not None:
            # inner errors swallowed; inner success = violation
            # (reference: logical.py:377-462)
            check(lambda v, t, b=self.bind(rule.not_, m): ~b.fires(v),
                  ErrorCode.NOT_SCHEMA_MATCHED.value, _blank_obs)

        return seq

    # ------------------------------------------------------------------ #

    def _array(self, rule: Rule, m, g, seq: list) -> None:
        a, em = m.array, m.items()

        def size_obs(v, t):
            return F.size(a(v)).cast("string")

        if rule.min_items is not None:
            seq.append(_check(lambda v, t, n=rule.min_items: F.size(a(v)) < n,
                              ErrorCode.ARRAY_TOO_SHORT.value, size_obs, gate=g))
        if rule.max_items is not None:
            seq.append(_check(lambda v, t, n=rule.max_items: F.size(a(v)) > n,
                              ErrorCode.ARRAY_TOO_LONG.value, size_obs, gate=g))
        if rule.unique_items:
            # fires: a distinct-size comparison; viol (flagged rows only):
            # locate the first duplicate. The array is bound as a lambda
            # variable so the quadratic probe never re-evaluates it.
            # Comparable elements keep reference str()-repr equality classes
            # (reference: arrays.py:72-98).
            keys = em.comparable

            def unique_miss(v, t):
                ks = keys(a(v))
                return F.size(F.array_distinct(ks)) < F.size(ks)

            def first_dup(rs: Column) -> Column:
                ks = keys(rs)
                idxs = F.filter(
                    F.transform(ks, lambda x, i: i),
                    lambda i: F.exists(F.slice(ks, F.lit(1), i), lambda y: y.eqNullSafe(F.get(ks, i))),
                )
                return F.get(idxs, 0)  # null-safe under ANSI mode

            def unique_viol(v, t, p):
                arr = a(v)
                dup = F.get(F.transform(F.array(arr), first_dup), 0)
                found = dup.isNotNull() if g is True else g(t) & dup.isNotNull()
                return _maybe(found, ErrorCode.ARRAY_ITEMS_NOT_UNIQUE.value,
                              _index_path(p, dup), em.obs(F.get(arr, dup)))

            seq.append(Entry(True, unique_viol, _gated(g, unique_miss)))
        if rule.items is not None:
            # a NULL array element is a present null VALUE (arrays are
            # positional — no absence), validated per JSON semantics
            cv, cf = em.present(self.bind(rule.items, em), rule.items, self.verbose)
            # PERF: a maxItems-bounded typed array UNROLLS the boolean fast
            # path into per-index element checks instead of an interpreted
            # HOF `exists` — F.get + struct-field predicates stay inside
            # whole-stage codegen. Elements past maxItems need no check: the
            # size bound itself already fires for such rows.
            unroll = rule.max_items if rule.max_items is not None and 0 < rule.max_items <= m.unroll_limit else 0

            def items_viol(v, t, p):
                def elem(x, i):
                    ip = _index_path(p, i)
                    if m.gate_items:  # a clean element builds no violation
                        return F.when(cf(x), cv(x, ip)).otherwise(_empty())
                    return cv(x, ip)

                return F.flatten(F.transform(a(v), elem))

            def items_fires(v, t):
                arr = a(v)
                if unroll:
                    sz = F.size(arr)
                    return reduce(operator.or_, [(F.lit(i) < sz) & cf(F.get(arr, i)) for i in range(unroll)])
                return F.exists(arr, cf)

            seq.append(_child(items_viol, items_fires, g))

    def _struct_entries(self, rule: Rule, fields: dict) -> list:
        """Object keywords over a closed-key StructType (typed only): keys are
        compile-time constants, so patternProperties / additionalProperties /
        propertyNames partially constant-fold (the reference evaluates all
        per row). Order: min/max properties → required → dependencies →
        propertyNames → properties → patternProperties → additionalProperties."""
        seq: list[Entry] = []

        def check(cond, code, obs, path=_here):
            seq.append(_check(cond, code, obs, path))

        def at_key(k):
            return lambda v, t, p: _child_path(p, k)

        def present_count(v):
            cnt = F.lit(0)
            for k in fields:
                cnt = cnt + v.getField(k).isNotNull().cast("int")
            return cnt

        def count_obs(v, t):
            return present_count(v).cast("string")

        if rule.min_properties is not None:
            check(lambda v, t, n=rule.min_properties: present_count(v) < n,
                  ErrorCode.OBJECT_TOO_FEW_PROPERTIES.value, count_obs)
        if rule.max_properties is not None:
            check(lambda v, t, n=rule.max_properties: present_count(v) > n,
                  ErrorCode.OBJECT_TOO_MANY_PROPERTIES.value, count_obs)
        for req in rule.required:
            check((lambda v, t, k=req: v.getField(k).isNull()) if req in fields
                  else (lambda v, t: F.lit(True)),
                  ErrorCode.REQUIRED_PROPERTY_MISSING.value, _none_obs, at_key(req))
        for dep_key, dep_reqs in rule.dependencies.items():
            if dep_key not in fields:
                continue  # trigger key can never be present
            for needed in dep_reqs:
                check((lambda v, t, a=dep_key, b=needed: v.getField(a).isNotNull() & v.getField(b).isNull())
                      if needed in fields else (lambda v, t, a=dep_key: v.getField(a).isNotNull()),
                      ErrorCode.DEPENDENCY_MISSING.value, _none_obs, at_key(needed))
        if rule.property_names is not None:
            # static keys fold driver-side via pyeval; the reference emits the
            # UNDERLYING code (e.g. PATTERN_MISMATCH) at the key's path
            from json_schema_py_spark.schema.pyeval import string_rule_violations

            for k in fields:
                for code, _vp, obs in string_rule_violations(rule.property_names, k):
                    check(lambda v, t, k=k: v.getField(k).isNotNull(), code,
                          lambda v, t, o=obs: F.lit(o), at_key(k))

        matched: set[str] = set()
        # ("sub", key, rule) binds a child; ("bad_pat", pattern) is a
        # Python-invalid patternProperties regex — in EMISSION order
        # (properties first, then per-pattern in pattern order)
        todo: list[tuple] = []
        for k, sub in rule.properties.items():
            matched.add(k)
            if k in fields:
                todo.append(("sub", k, sub))
        for pat, sub in rule.pattern_properties.items():
            try:
                cre = re.compile(pat)
            except re.error:
                todo.append(("bad_pat", pat, None))
                continue
            for k in fields:
                if cre.search(k):
                    if k not in matched:
                        todo.append(("sub", k, sub))
                    matched.add(k)
        ap = rule.additional_properties
        if ap is not None:
            matched |= set(rule.exempt_properties)  # sibling-branch escape hatch
            extra = [k for k in fields if k not in matched]
            if isinstance(ap, Rule):
                todo += [("sub", k, ap) for k in extra]

        for kind, k, sub in todo:
            if kind == "bad_pat":
                # SCHEMA_INVALID at the object's path, once per invalid
                # pattern per validated object (reference objects.py:147-152)
                check(lambda v, t: F.lit(True), ErrorCode.SCHEMA_INVALID.value,
                      lambda v, t, p_=k: F.lit(p_))
                continue
            b = self.bind(sub, Typed(fields[k]))
            seq.append(_child(lambda v, t, p, k=k, b=b: b.viol(v.getField(k), _child_path(p, k)),
                              lambda v, t, k=k, b=b: b.fires(v.getField(k))))
        if ap is False:
            for k in extra:
                check(lambda v, t, k=k: v.getField(k).isNotNull(),
                      ErrorCode.ADDITIONAL_PROPERTY_NOT_ALLOWED.value,
                      lambda v, t, k=k: Typed(fields[k]).obs(v.getField(k)), at_key(k))
        return seq

    def _map_entries(self, rule: Rule, vm) -> list:
        """Object keywords over an open-keyed map value ``o`` — a typed
        MapType column or a VARIANT object read as map<string,variant>;
        ``vm`` models the map's values. Keys are runtime strings, so
        propertyNames binds them as Typed(StringType()); entries iterate
        once (no per-key lookup scan)."""
        from json_schema_py_spark.schema.regex_dialect import checked_java_pattern

        seq: list[Entry] = []

        def has(o, k):
            return F.map_contains_key(o, F.lit(k))

        def size_obs(o, t):
            return F.size(o).cast("string")

        if rule.min_properties is not None:
            seq.append(_check(lambda o, t, n=rule.min_properties: F.size(o) < n,
                              ErrorCode.OBJECT_TOO_FEW_PROPERTIES.value, size_obs))
        if rule.max_properties is not None:
            seq.append(_check(lambda o, t, n=rule.max_properties: F.size(o) > n,
                              ErrorCode.OBJECT_TOO_MANY_PROPERTIES.value, size_obs))
        for req in rule.required:
            seq.append(_check(lambda o, t, k=req: ~has(o, k), ErrorCode.REQUIRED_PROPERTY_MISSING.value,
                              _none_obs, lambda o, t, p, k=req: _child_path(p, k)))
        for dep_key, dep_reqs in rule.dependencies.items():
            for needed in dep_reqs:
                seq.append(_check(lambda o, t, a=dep_key, b=needed: has(o, a) & ~has(o, b),
                                  ErrorCode.DEPENDENCY_MISSING.value, _none_obs,
                                  lambda o, t, p, k=needed: _child_path(p, k)))
        if rule.property_names is not None:
            # keys are statically strings; underlying codes surface at the
            # key's path (reference behavior)
            kb = self.bind(rule.property_names, Typed(T.StringType()))
            seq.append(_each_entry(F.map_entries, "key", kb.viol, kb.fires))
        for k, sub in rule.properties.items():
            # a present-but-CLEAN property builds no violation
            cv, cf = vm.present(self.bind(sub, vm), sub, self.verbose)
            seq.append(_child(
                lambda o, t, p, k=k, cv=cv, cf=cf: F.when(
                    has(o, k) & cf(F.try_element_at(o, F.lit(k))),
                    cv(F.try_element_at(o, F.lit(k)), _child_path(p, k)),
                ).otherwise(_empty()),
                lambda o, t, k=k, cf=cf: has(o, k) & cf(F.try_element_at(o, F.lit(k))),
            ))
        # Python-invalid patterns emit SCHEMA_INVALID at the object's path
        # (reference objects.py:147-152); valid ones translate to the Java
        # dialect or fail fast; keys matched by static `properties` are
        # excluded (pyeval: `if k not in rule.properties`)
        static = list(rule.properties)
        patterns: list[str] = []
        for pat, sub in rule.pattern_properties.items():
            jpat = checked_java_pattern(pat, "patternProperties")
            if jpat is None:
                seq.append(_check(lambda o, t: F.lit(True), ErrorCode.SCHEMA_INVALID.value,
                                  lambda o, t, p_=pat: F.lit(p_)))
                continue
            patterns.append(jpat)
            cv, cf = vm.present(self.bind(sub, vm), sub, self.verbose)

            def matching(o, jp=jpat):
                def match(e: Column) -> Column:
                    c = e["key"].rlike(jp)
                    return c & ~e["key"].isin(static) if static else c

                return F.filter(F.map_entries(o), match)

            seq.append(_each_entry(matching, "value", cv, cf))

        ap = rule.additional_properties
        if ap is not None:
            skip = static + sorted(set(rule.exempt_properties) - set(static))

            def is_extra(key: Column) -> Column:
                c = ~key.isin(skip) if skip else F.lit(True)
                for jp in patterns:
                    c = c & ~key.rlike(jp)
                return c

            def extras(o):
                if skip or patterns:
                    return F.filter(F.map_entries(o), lambda e: is_extra(e["key"]))
                return F.map_entries(o)  # fully open: every entry is extra

            if ap is False:
                seq.append(Entry(
                    False,
                    lambda o, t, p: F.transform(
                        extras(o),
                        lambda e: _viol(ErrorCode.ADDITIONAL_PROPERTY_NOT_ALLOWED.value,
                                        _key_path(p, e["key"]), vm.obs(e["value"])),
                    ).cast(VIOLATION_TYPE),
                    # exists short-circuits on the first extra key
                    lambda o, t: F.exists(F.map_keys(o), is_extra),
                ))
            elif isinstance(ap, Rule):
                cv, cf = vm.present(self.bind(ap, vm), ap, self.verbose)
                seq.append(_each_entry(extras, "value", cv, cf))
        return seq


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
        # only in key order must compile separately
        skey = _json.dumps(schema, default=str)
    except (TypeError, ValueError):
        return None
    return (skey, struct_type.json(), mode)


def _bind_root(schema: Any, struct_type: T.StructType, verbose: bool) -> Bound:
    rule = schema if isinstance(schema, Rule) else normalize_schema(schema)
    return RuleBinder(verbose=verbose).bind(rule, Typed(struct_type))


def gated_document(b: Bound, doc: Column) -> Column:
    """The document's violations at the root pointer: the allocation-free
    boolean gate runs first, so clean documents build nothing."""
    return F.when(b.fires(doc), b.viol(doc, F.lit(""))).otherwise(_empty())


def _on_row(struct_type: T.StructType, bind_row: bool, body: Callable[[Column], Column]) -> Column:
    """``body`` over the row as one struct value; ``bind_row`` binds it
    once as a transform() lambda variable (see compile_ruleset)."""
    root = F.struct(*[F.col(f.name) for f in struct_type.fields])
    if not bind_row:
        return body(root)
    return F.get(F.transform(F.array(root), lambda row: body(row)), 0)


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

    ``bind_row``: with True (the default) the row is
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
        bound = _bind_root(schema, struct_type, verbose)
        return _on_row(struct_type, bind_row, lambda row: gated_document(bound, row))

    return _cached_compile(key, build)


def compile_fires(
    schema: Any, struct_type: T.StructType, bind_row: bool = True
) -> Column:
    """Just the boolean fast path: does ANY rule fire for the row? Useful for
    pass/fail filtering and partition verdicts without violation details.
    ``bind_row``: see compile_ruleset."""
    key = _compile_cache_key(schema, struct_type, f"fires:bind{bind_row}")

    def build() -> Column:
        return _on_row(struct_type, bind_row, _bind_root(schema, struct_type, False).fires)

    return _cached_compile(key, build)


def _is_plain_relation(df: DataFrame) -> bool:
    """True when the frame is a bare materialized relation (parquet scan,
    cached table): its columns are storage attributes, so the unbound
    (whole-stage-codegen) ruleset form is safe and ~2x faster. Anything
    derived (Project/Filter/...) keeps the row-bound lambda form — see
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
    return explode_violations(vdf, key_col, "violations")


def explode_violations(df: DataFrame, key_col: str, violations: Any) -> DataFrame:
    """One ``(doc_id, rule_id, path, observed)`` row per violation of the
    ``violations`` array column (name or Column), keyed by ``key_col``."""
    return df.select(
        F.col(key_col).alias("doc_id"), F.explode(violations).alias("v")
    ).select("doc_id", "v.rule_id", "v.path", "v.observed")
