"""Pure-Python evaluator over the SAME normalized Rule model the Spark binder
compiles — reference-exact semantics for dynamic JSON documents.

Three consumers:

* ``api.JsonValidator`` — drop-in single-document validation (the reference's
  public API surface, json_schema/api.py:82-119) with no Spark session;
* the **exact-parity pandas path** (``plans.json_docs.validate_json_exact``):
  Arrow-batched mapInPandas for JSON-string columns where Column expressions
  can't reproduce CPython semantics exactly — Python ``re`` dialect,
  ``str()`` value rendering, presence-vs-null distinction, open-object
  additionalProperties (SURVEY.md §7 "hard parts");
* static propertyNames folding in the Column binder (struct keys are
  compile-time constants).

Semantics reproduced from the reference (NOT ported code — re-derived from
SURVEY.md's semantic analysis; file:line cites mark the behavior pinned):

* bool is not a number/integer; integer is a number; float is never integer
  (json_schema/utils.py:137-139,186-191)
* presence ≠ null: JSON ``{"a": null}`` HAS key a with null value
  (type-checked as 'null'); required checks key membership
  (json_schema/constraints/objects.py:94-103)
* re.search pattern semantics; invalid regex → SCHEMA_INVALID lazily
  (json_schema/constraints/strings.py:81-93)
* multipleOf float tolerance 1e-10 (json_schema/constraints/numbers.py:97-113)
* uniqueItems duplicates by str() repr (json_schema/constraints/arrays.py:72-98)
* enum/const by Python == (1 == True, 1 == 1.0)
  (json_schema/constraints/enums.py:36-39)
* anyOf silent success / single ANY_OF_NO_MATCH; oneOf double error on
  multiple match; not swallows inner errors (json_schema/constraints/logical.py)

One DELIBERATE deviation, shared with the Column engine: at a MIXED schema
node (logical op + sibling keywords) the reference compiles only
[bare type (+ required when type=='object'), first logical op by
allOf>anyOf>oneOf>not priority] and SILENTLY DROPS every other sibling
keyword — enum, bounds, properties subschemas
(json_schema/schema_compiler.py:745-784; validator.py:46-48 dispatches pure
logical roots). Both engine paths instead validate EVERY keyword at the
node — a strict superset of the reference's verdicts. The relationship is
exact and fuzz-asserted (test_fuzz_differential._strip_mixed): rewriting a
mixed node to the reference's compiled shape makes this engine reproduce
the reference bit-for-bit, mixed nodes included — no carve-out.
"""

from __future__ import annotations

import json
import re
from typing import Any, Optional

from json_schema_py_spark.errors import ErrorCode
from json_schema_py_spark.schema.model import Rule

Violation = tuple[str, str, str]  # (rule_id, path, observed)

_FLOAT_TOLERANCE = 1e-10


class V(tuple):
    """A violation triple that compares/hashes as a plain (rule_id, path,
    observed) tuple, plus a ``.msg`` attribute carrying the reference's
    exact message phrasing — rendered HERE at the emission site, where the
    raw value and the schema parameters are both in scope (the reference
    renders in each constraint's validate(), e.g. strings.py:60-97,
    numbers.py:59-113, objects.py:74-187). Consumers that only know
    triples (the fuzz sequence-equality harness, the Column-parity
    comparisons) are unaffected; api.JsonValidator reads ``.msg``.
    (No __slots__: CPython forbids nonempty slots on tuple subtypes —
    the per-instance dict is fine; violations are rare relative to docs.)"""

    def __new__(cls, code: str, path: str, obs: str, msg: Optional[str] = None):
        self = super().__new__(cls, (code, path, obs))
        self.msg = msg
        return self


def py_type_of(v: Any) -> str:
    """reference: json_schema/utils.py:174-201 (bool checked before int)."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "integer"
    if isinstance(v, float):
        return "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "array"
    if isinstance(v, dict):
        return "object"
    return "string"


def _type_ok(t: str, allowed: list[str]) -> bool:
    return t in allowed or (t == "integer" and "number" in allowed)


def py_repr(v: Any) -> str:
    """Python str() rendering for observed values, composites via compact
    JSON to match the Column engine's to_json (null members omitted never
    arise: JSON input carries explicit nulls, rendered as null)."""
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(",", ":"))
    return str(v)


def _escape(k: str) -> str:
    return str(k).replace("~", "~0").replace("/", "~1")


def evaluate(
    rule: Rule,
    value: Any,
    path: str = "",
    verbose: bool = False,
    truncate_branch_paths: bool = False,
) -> list[Violation]:
    """All violations of ``rule`` for ``value`` (present, possibly-null).

    ``verbose`` reproduces the reference's branch-detail reporting: allOf
    branch errors re-emit with an ``allOf[i]:`` rule_id prefix (the
    reference prefixes the MESSAGE, logical.py:98-103 — rule_id is this
    engine's message carrier; api.JsonValidator splits the prefix back into
    the message and keeps the code pure). A failed anyOf emits per-branch
    details prefixed ``anyOf[i]:`` after ANY_OF_NO_MATCH (logical.py:206-222).
    Prefixes chain for nested combinators. ONE default deviation: the
    reference's re-emission truncates branch-error paths to the op node
    (add_error stamps the CONTEXT path, discarding the deeper pointer);
    this engine keeps the DEEP pointer by default — strictly more
    informative, and the reference path is always a prefix of ours
    (asserted in test_api_cli). ``truncate_branch_paths=True`` opts into
    the reference's exact truncating behavior for bit-identical paths.

    Multi-failure branches re-emit ALL of the branch's errors — exact
    parity, not a superset: the reference's CombinedConstraint never
    short-circuits (combined.py:38-43), and its break-at-first-failing
    branch path (logical.py:78-84) requires a ``validation_order``
    attribute that the compiler attaches only to the ROOT constraint
    (schema_compiler.py:84-87), never to a logical branch — probed and
    pinned in test_api_cli::test_verbose_multi_failure_branch_emits_all_errors."""
    out: list[Violation] = []
    t = py_type_of(value)

    # type gate (reference: json_schema/constraints/base.py:284-289)
    if rule.types is not None and not _type_ok(t, rule.types):
        if rule.types_from_list:
            # list-form type routes through TypeConstraintImpl: sorted JSON
            # names + JSON actual type (reference types.py:55-58)
            msg = f"Expected {', '.join(sorted(rule.types))}, got {t}"
        else:
            # string-form / inferred: base.py gate, Python __name__ actual
            # (reference base.py:306-356)
            msg = f"Expected {rule.types[0]}, got {type(value).__name__}"
        return [V(ErrorCode.TYPE_ERROR.value, path, py_repr(value), msg)]

    # enum / const
    if rule.enum is not None and not _py_eq_in(value, rule.enum):
        out.append(
            V(ErrorCode.ENUM_MISMATCH.value, path, py_repr(value),
              f"Value '{value}' not in enumeration: {rule.enum}")
        )
    if rule.const_set and not _py_eq(value, rule.const):
        out.append(
            V(ErrorCode.CONST_MISMATCH.value, path, py_repr(value),
              f"Expected constant value {rule.const}, got {value}")
        )

    if t == "string":
        out.extend(_eval_string(rule, value, path))
    if t in ("integer", "number") and not isinstance(value, bool):
        out.extend(_eval_number(rule, value, path))
    if t == "array":
        out.extend(_eval_array(rule, value, path, verbose, truncate_branch_paths))
    if t == "object":
        out.extend(_eval_object(rule, value, path, verbose, truncate_branch_paths))

    # logical combinators
    _NO_MATCH_MSG = "Value does not match any of the required schemas"
    for i, branch in enumerate(rule.all_of):
        errs = evaluate(branch, value, path, verbose, truncate_branch_paths)
        if verbose:
            errs = [
                V(f"allOf[{i}]:{e[0]}", path if truncate_branch_paths else e[1],
                  e[2], getattr(e, "msg", None))
                for e in errs
            ]
        out.extend(errs)
    if rule.any_of:
        if verbose:
            branch_errs = [
                evaluate(b, value, path, verbose, truncate_branch_paths)
                for b in rule.any_of
            ]
            if all(branch_errs):
                out.append(V(ErrorCode.ANY_OF_NO_MATCH.value, path, "", _NO_MATCH_MSG))
                for i, errs in enumerate(branch_errs):
                    out.extend(
                        V(f"anyOf[{i}]:{e[0]}", path if truncate_branch_paths else e[1],
                          e[2], getattr(e, "msg", None))
                        for e in errs
                    )
        # non-verbose: short-circuit on the first matching branch — this is
        # the exact-path per-row hot loop
        elif all(evaluate(b, value, path) for b in rule.any_of):
            out.append(V(ErrorCode.ANY_OF_NO_MATCH.value, path, "", _NO_MATCH_MSG))
    if rule.one_of:
        matches = [i for i, b in enumerate(rule.one_of) if not evaluate(b, value, path)]
        if len(matches) == 0:
            out.append(V(ErrorCode.ONE_OF_NO_MATCH.value, path, "", _NO_MATCH_MSG))
        elif len(matches) > 1:
            out.append(
                V(ErrorCode.ONE_OF_MULTIPLE_MATCHES.value, path, "",
                  f"Value matches {len(matches)} schemas, but should match exactly one")
            )
            out.append(
                V(ErrorCode.ONE_OF_MULTIPLE_MATCHES.value, path,
                  ",".join(str(i) for i in matches),
                  f"Matching schema indices: {matches}")
            )
    if rule.not_ is not None and not evaluate(rule.not_, value, path):
        out.append(
            V(ErrorCode.NOT_SCHEMA_MATCHED.value, path, "",
              "Value should not validate against the schema, but it does")
        )

    return out


def _py_eq(a: Any, b: Any) -> bool:
    """Python == with the reference's cross-type quirks kept (1 == True)."""
    return a == b


def _py_eq_in(v: Any, values: list[Any]) -> bool:
    return any(_py_eq(v, e) for e in values)


def _eval_string(rule: Rule, v: str, path: str) -> list[Violation]:
    out: list[Violation] = []
    if rule.min_length is not None and len(v) < rule.min_length:
        out.append(
            V(ErrorCode.STRING_TOO_SHORT.value, path, v,
              f"String length is {len(v)}, but minimum is {rule.min_length}")
        )
    if rule.max_length is not None and len(v) > rule.max_length:
        out.append(
            V(ErrorCode.STRING_TOO_LONG.value, path, v,
              f"String length is {len(v)}, but maximum is {rule.max_length}")
        )
    if rule.pattern is not None:
        try:
            if not re.search(rule.pattern, v):
                out.append(
                    V(ErrorCode.PATTERN_MISMATCH.value, path, v,
                      f"String '{v}' does not match pattern '{rule.pattern}'")
                )
        except re.error as e:
            out.append(
                V(ErrorCode.SCHEMA_INVALID.value, path, v,
                  f"Invalid regex pattern: {e}")
            )
    return out


def _eval_number(rule: Rule, v: float, path: str) -> list[Violation]:
    out: list[Violation] = []
    if rule.minimum is not None:
        bad = v <= rule.minimum if rule.exclusive_minimum else v < rule.minimum
        if bad:
            rel = (
                "greater than"
                if rule.exclusive_minimum
                else "greater than or equal to"
            )
            out.append(
                V(ErrorCode.NUMBER_TOO_SMALL.value, path, py_repr(v),
                  f"Value {v} must be {rel} {rule.minimum}")
            )
    if rule.maximum is not None:
        bad = v >= rule.maximum if rule.exclusive_maximum else v > rule.maximum
        if bad:
            rel = "less than" if rule.exclusive_maximum else "less than or equal to"
            out.append(
                V(ErrorCode.NUMBER_TOO_LARGE.value, path, py_repr(v),
                  f"Value {v} must be {rel} {rule.maximum}")
            )
    if rule.multiple_of is not None:
        k = rule.multiple_of
        if isinstance(v, int) and isinstance(k, int) and not isinstance(v, bool):
            ok = v % k == 0
        else:
            m = float(v) % float(k)  # Python %: sign of divisor, like pmod
            ok = m < _FLOAT_TOLERANCE or abs(m - float(k)) < _FLOAT_TOLERANCE
        if not ok:
            out.append(
                V(ErrorCode.NUMBER_NOT_MULTIPLE.value, path, py_repr(v),
                  f"Value {v} is not a multiple of {k}")
            )
    return out


def _eval_array(
    rule: Rule, v: list, path: str, verbose: bool = False, tbp: bool = False
) -> list[Violation]:
    out: list[Violation] = []
    if rule.min_items is not None and len(v) < rule.min_items:
        out.append(
            V(ErrorCode.ARRAY_TOO_SHORT.value, path, str(len(v)),
              f"Array has {len(v)} items, but minimum is {rule.min_items}")
        )
    if rule.max_items is not None and len(v) > rule.max_items:
        out.append(
            V(ErrorCode.ARRAY_TOO_LONG.value, path, str(len(v)),
              f"Array has {len(v)} items, but maximum is {rule.max_items}")
        )
    if rule.unique_items:
        seen: dict[str, int] = {}
        for i, item in enumerate(v):
            r = str(item)  # str()-repr equality (reference: arrays.py:72-98)
            if r in seen:
                out.append(
                    V(ErrorCode.ARRAY_ITEMS_NOT_UNIQUE.value, f"{path}/{i}", py_repr(item),
                      f"Array items must be unique (duplicate at index {i})")
                )
                break
            seen[r] = i
    if rule.items is not None:
        for i, item in enumerate(v):
            out.extend(evaluate(rule.items, item, f"{path}/{i}", verbose, tbp))
    return out


def _eval_object(
    rule: Rule, v: dict, path: str, verbose: bool = False, tbp: bool = False
) -> list[Violation]:
    out: list[Violation] = []
    n = len(v)
    # reference order: min/max properties → required → dependencies →
    # propertyNames → properties → patternProperties → additionalProperties
    # (json_schema/constraints/objects.py:74-187)
    if rule.min_properties is not None and n < rule.min_properties:
        out.append(
            V(ErrorCode.OBJECT_TOO_FEW_PROPERTIES.value, path, str(n),
              f"Object has {n} properties, but minimum is {rule.min_properties}")
        )
    if rule.max_properties is not None and n > rule.max_properties:
        out.append(
            V(ErrorCode.OBJECT_TOO_MANY_PROPERTIES.value, path, str(n),
              f"Object has {n} properties, but maximum is {rule.max_properties}")
        )
    for req in rule.required:
        if req not in v:
            out.append(
                V(ErrorCode.REQUIRED_PROPERTY_MISSING.value, f"{path}/{_escape(req)}",
                  "None", f"Missing required property '{req}'")
            )
    for dep_key, needed in rule.dependencies.items():
        if dep_key in v:
            for b in needed:
                if b not in v:
                    out.append(
                        V(ErrorCode.DEPENDENCY_MISSING.value, f"{path}/{_escape(b)}",
                          "None",
                          f"Property '{dep_key}' depends on '{b}', which is missing")
                    )
    if rule.property_names is not None:
        for k in v:
            out.extend(evaluate(rule.property_names, k, f"{path}/{_escape(k)}", verbose, tbp))
    matched: set = set()
    for k, sub in rule.properties.items():
        matched.add(k)
        if k in v:
            out.extend(evaluate(sub, v[k], f"{path}/{_escape(k)}", verbose, tbp))
    for pat, sub in rule.pattern_properties.items():
        try:
            cre = re.compile(pat)
        except re.error as e:
            # the reference emits SCHEMA_INVALID at the OBJECT's path, once
            # per invalid pattern per validated object (objects.py:147-152);
            # skipping the pattern silently would drop that error
            out.append(
                V(ErrorCode.SCHEMA_INVALID.value, path, pat,
                  f"Invalid regex pattern '{pat}': {e}")
            )
            continue
        for k in v:
            if cre.search(str(k)):
                matched.add(k)
                if k not in rule.properties:
                    out.extend(evaluate(sub, v[k], f"{path}/{_escape(k)}", verbose, tbp))
    ap = rule.additional_properties
    if ap is not None:
        matched |= set(rule.exempt_properties)  # sibling-branch escape hatch
        extras = [k for k in v if k not in matched]
        if ap is False:
            for k in extras:
                out.append(
                    V(
                        ErrorCode.ADDITIONAL_PROPERTY_NOT_ALLOWED.value,
                        f"{path}/{_escape(k)}",
                        py_repr(v[k]),
                        f"Additional property '{k}' not allowed",
                    )
                )
        elif isinstance(ap, Rule):
            for k in extras:
                out.extend(evaluate(ap, v[k], f"{path}/{_escape(k)}", verbose, tbp))
    return out


def string_rule_violations(rule: Rule, key: str) -> list[Violation]:
    """Violations of a propertyNames rule for one static key (used by the
    Column binder; reference emits the UNDERLYING code at the key's path —
    e.g. PATTERN_MISMATCH, not a dedicated code)."""
    return evaluate(rule, key, "")
