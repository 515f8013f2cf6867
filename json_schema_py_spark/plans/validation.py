"""End-to-end validation plan: ruleset(s) + engine checks → violations +
per-partition verdicts (the reference's ValidationResult lifted to a table;
reference: json_schema/api.py:42-79, json_schema/validator.py:31-60).

Plan shape (every ruleset evaluated once per row, in one projection):

    scan ─┬─ rules frame (doc_id, partition_key, violations: the concat
          │  of every ruleset's arrays)
          │    ├── explode ───────────────────────────────── violations
          │    └── rollup by partition_key ───────────────── verdicts
          ├─ uniqueness: salted 2-stage agg + join back ──── violations
          ├─ FK: posexplode + broadcast/salted anti-join ─── violations
          └─ key columns (key, partition_key)
               └── cross-row attribution by violating key ── verdicts

``run_validation`` builds all of it lazily and persists nothing. Both
outputs read the rules frame (``ValidationRun.rules``) and cross-row
attribution reads key columns only, never the rules column; a caller that
runs both outputs persists the rules frame first and unpersists it after,
so the rules run once per row (scripts/run_validation_job.py also shares
one key projection of the full table between uniqueness, FK and drift).

Per-row rulesets never shuffle; the only shuffles are the engine-level
cross-row checks, each individually skew-hardened (see their modules).

Verdict semantics: a partition's pass/fail covers BOTH the
per-row rulesets (all of them, not just the first) AND the cross-row engine
checks attributable to its rows — cross-row violation counts are joined back
by key, so a partition carrying a duplicate or FK miss can no longer be
checkpointed as ``pass``. A duplicate spanning two partitions fails both
(each must be reprocessed). Table-level checks (distribution drift,
operators/drift) have no partition to fail and are written beside the
verdicts, not in them. Cross-row checks are only meaningful
over the FULL table: on a checkpoint-resumed remainder they see only the
remaining rows, so resumed runs must re-run uniqueness/FK table-wide (see
plans/checkpoint.py docstring).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Any, Mapping, Optional, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_py_spark.operators.referential import spans_fk_violations
from json_schema_py_spark.operators.uniqueness import uniqueness_violations
from json_schema_py_spark.schema.compiler import compile_ruleset


def _partition_key_col(partition_key: Union[str, Column, None]) -> Column:
    """Resolve the partition identity. Default is ``spark_partition_id()`` —
    valid ONLY within a single planning layout (ids depend on split planning:
    maxPartitionBytes, core count, file layout, AQE). For durable
    checkpoint/resume identity pass a stable column: the input file path
    (``sources.synth.spans_documents(include_source_file=True)`` →
    ``_source_file``) or an Iceberg partition value."""
    if partition_key is None:
        return F.spark_partition_id().cast("string")
    # NULL partition values coalesce to a sentinel: verdict grouping, cross-
    # row attribution joins, and lineage anti-joins all use plain (non-null-
    # safe) equality — a NULL key would silently drop attributed violations
    # and never match on resume
    expr = (
        F.col(partition_key) if isinstance(partition_key, str) else partition_key
    )
    return F.coalesce(expr.cast("string"), F.lit("__nullpartition__"))


def partition_verdicts(
    df_with_valid: DataFrame,
    run_id: str = "run-0",
    partition_key: Union[str, Column, None] = None,
) -> DataFrame:
    """Per-partition pass/fail rollup over per-ROW violations: one row per
    partition key — (run_id, partition_key, pass, docs, violations). For the
    full verdict (cross-row checks included) use ``run_validation``."""
    return (
        df_with_valid.groupBy(_partition_key_col(partition_key).alias("partition_key"))
        .agg(
            # explicit int64 on both counters: the DuckDB oracle SUM() would
            # otherwise return HUGEINT (int128) where Spark emits BIGINT, and
            # the driver's value-hash canonicalization distinguishes the
            # physical types even when values agree
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum(F.size("violations")).cast("long").alias("violations"),
            (F.sum(F.size("violations")) == 0).alias("pass"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_key",
            "pass",
            "docs",
            "violations",
        )
    )


@dataclass
class ValidationRun:
    violations: DataFrame  # (doc_id, rule_id, path, observed)
    verdicts: DataFrame  # (run_id, partition_key, pass, docs, violations)
    rules: DataFrame  # (doc_id, partition_key, violations): every ruleset, once per row


def run_validation(
    df: DataFrame,
    rulesets: Mapping[str, Any],
    key_col: str = "doc_id",
    unique_key: Optional[str] = "doc_id",
    media_dim: Optional[DataFrame] = None,
    run_id: str = "run-0",
    partition_key: Union[str, Column, None] = None,
) -> ValidationRun:
    """Validate ``df`` against every ruleset plus the cross-row checks
    (uniqueness on ``unique_key``, span FKs into ``media_dim``).

    Lazy: building the run submits no Spark job and persists nothing.
    ``violations`` and ``verdicts`` both read ``rules``; a caller that
    runs both persists ``run.rules`` first (and unpersists it after), so
    the rules are evaluated once per row — see scripts/run_validation_job.py.

    Scale note: cross-row verdict attribution broadcast-joins the violating
    KEYS back onto the table — it assumes violating keys ≪ table size (the
    normal regime; a table where half the keys violate has bigger problems
    than verdict bookkeeping)."""
    struct_type = T.StructType([f for f in df.schema.fields])
    arrays = [compile_ruleset(schema, struct_type) for schema in rulesets.values()]
    combined = arrays[0] if len(arrays) == 1 else F.concat(*arrays)
    pkey = _partition_key_col(partition_key)
    rules = df.select(
        F.col(key_col).alias("doc_id"),
        pkey.alias("partition_key"),
        combined.alias("violations"),
    )
    row_viols = rules.select("doc_id", F.explode("violations").alias("v")).select(
        "doc_id",
        F.col("v.rule_id").alias("rule_id"),
        F.col("v.path").alias("path"),
        F.col("v.observed").alias("observed"),
    )

    # (violation rows, the DF column their doc_id values came from) — the
    # uniqueness check keys on unique_key, the spans FK check on the df's
    # doc_id column; attribution must join each part back on ITS OWN source
    # column (joining everything on key_col silently loses cross-row
    # verdicts whenever unique_key != key_col)
    cross_specs: list[tuple[DataFrame, str]] = []
    if unique_key is not None:
        cross_specs.append((uniqueness_violations(df, unique_key), unique_key))
    if media_dim is not None and "spans" in df.columns:
        cross_specs.append((spans_fk_violations(df, media_dim), "doc_id"))
    violations = reduce(
        lambda a, b: a.unionByName(b), [row_viols] + [p for p, _ in cross_specs]
    )

    # ---- verdicts: per-row rollup + cross-row attribution by key ----
    rollup = rules.groupBy("partition_key").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size("violations")).alias("_row_viols"),
    )
    if cross_specs:
        # each key's cross-row violations are distributed over the rows
        # carrying that key (a dup pair split across two partitions fails
        # both), with an EXACT integer allocation: floor shares first, the
        # remainder to the lowest partition_keys — per-partition totals sum
        # precisely to the violation-row count (round() would double-count
        # when a key's violations aren't proportional to its rows). Only
        # VIOLATING keys leave the map side: the broadcast inner join
        # filters the big table down to the tiny hit set before any
        # shuffle; the window functions below run on that hit set only.
        allocs: list[DataFrame] = []
        null_counts: list[DataFrame] = []
        for part, src_col in cross_specs:
            # ONE aggregation per part serves both the keyed attribution and
            # the null-key count — nulls retained here, split below (the
            # prior shape re-unioned every part a second time, doubling the
            # uniqueness/FK shuffles in the verdicts plan)
            counts = part.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_kviols"))
            null_counts.append(
                counts.where(F.col("doc_id").isNull()).select("_kviols")
            )
            by_key = counts.where(F.col("doc_id").isNotNull())
            # key columns only: attribution never reads the rules column
            keyed = df.select(
                F.col(src_col).cast("string").alias("doc_id"),
                pkey.alias("partition_key"),
            )
            per_pk = (
                keyed.join(F.broadcast(by_key), "doc_id")
                .groupBy("doc_id", "partition_key")
                .agg(F.count(F.lit(1)).alias("_rows_pk"), F.first("_kviols").alias("_kviols"))
            )
            w_tot = Window.partitionBy("doc_id")
            w_rank = Window.partitionBy("doc_id").orderBy("partition_key")
            alloc = (
                per_pk.withColumn("_rows_total", F.sum("_rows_pk").over(w_tot))
                .withColumn(
                    "_base",
                    F.floor(
                        F.col("_kviols") * F.col("_rows_pk") / F.col("_rows_total")
                    ).cast("long"),
                )
                .withColumn("_base_sum", F.sum("_base").over(w_tot))
                .withColumn("_rn", F.row_number().over(w_rank))
                .withColumn(
                    "_alloc",
                    F.col("_base")
                    + (F.col("_rn") <= F.col("_kviols") - F.col("_base_sum")).cast("long"),
                )
            )
            allocs.append(alloc.select("partition_key", "_alloc"))
        attributed = (
            reduce(lambda a, b: a.unionByName(b), allocs)
            .groupBy("partition_key")
            .agg(F.sum("_alloc").alias("_cross_viols"))
        )
        rollup = rollup.join(attributed, "partition_key", "left")
    else:
        rollup = rollup.withColumn("_cross_viols", F.lit(None).cast("long"))

    total = F.col("_row_viols") + F.coalesce(F.col("_cross_viols"), F.lit(0))
    verdicts = rollup.select(
        F.lit(run_id).alias("run_id"),
        "partition_key",
        (total == 0).alias("pass"),
        "docs",
        total.alias("violations"),
    )
    if cross_specs:
        # cross-row violations on NULL-keyed rows cannot be attributed to a
        # partition by key; they surface on a failing __nullkey__ pseudo-
        # partition row so no checkpoint/resume can mark them pass (the
        # synth corpus deliberately plants NULL doc_ids)
        nullkey = (
            reduce(lambda a, b: a.unionByName(b), null_counts)
            .agg(F.coalesce(F.sum("_kviols"), F.lit(0)).alias("violations"))
            .where(F.col("violations") > 0)
            .select(
                F.lit(run_id).alias("run_id"),
                F.lit("__nullkey__").alias("partition_key"),
                F.lit(False).alias("pass"),
                F.lit(0).cast("long").alias("docs"),
                F.col("violations").cast("long"),
            )
        )
        verdicts = verdicts.unionByName(nullkey)
    return ValidationRun(violations=violations, verdicts=verdicts, rules=rules)


def violations_diff(prev: DataFrame, cur: DataFrame) -> DataFrame:
    """Cross-run regression diff over two violation sets: one
    row per (doc_id, rule_id, path) seen in EITHER run —

    * ``new``       — fires now, didn't before (a regression)
    * ``fixed``     — fired before, clean now
    * ``unchanged`` — fires in both with the same observed value
    * ``changed``   — fires in both, observed value moved

    The operational question after every run is "what broke since the
    last accepted run" — this answers it as a plain DataFrame op. Inputs
    are the (doc_id, rule_id, path, observed) frames run_validation /
    validate emit; duplicates are collapsed first (a diff is over the
    violation SET). Scale shape: one distinct + one full-outer shuffle
    join on the violation sets, which are ≪ the corpus by the normal-
    regime assumption; doc_id NULL (table-level rows, e.g.
    DISTRIBUTION_DRIFT) joins null-safely so drift rows diff like any
    other."""
    keys = ["doc_id", "rule_id", "path"]
    # deterministic key collapse (max(observed), not dropDuplicates' arbitrary
    # pick — several rows can share a key, e.g. REQUIRED rows with NULL
    # doc_id), then rename EVERY column per side: prev and cur often share
    # lineage (cur derived from prev), and frame-qualified refs (p[k]) are
    # ambiguous on a self-join
    def _side(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.groupBy(*keys)
            .agg(F.max("observed").alias("observed"))
            .select(
                *[F.col(k).alias(f"_{tag}_{k}") for k in keys + ["observed"]],
                # literal presence marker: rule_id IS NOT NULL would
                # misclassify a (schema-permitted) NULL-rule_id row as
                # absent from its own side
                F.lit(True).alias(f"_{tag}_present"),
            )
        )

    p = _side(prev, "p")
    c = _side(cur, "c")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"_p_{k}").eqNullSafe(F.col(f"_c_{k}")) for k in keys],
    )
    joined = p.join(c, cond, "full_outer")
    in_prev = F.col("_p_present").isNotNull() & F.col("_p_present")
    in_cur = F.col("_c_present").isNotNull() & F.col("_c_present")
    return joined.select(
        *[F.coalesce(F.col(f"_p_{k}"), F.col(f"_c_{k}")).alias(k) for k in keys],
        F.col("_p_observed").alias("observed_prev"),
        F.col("_c_observed").alias("observed_cur"),
        F.when(~in_prev, F.lit("new"))
        .when(~in_cur, F.lit("fixed"))
        .when(F.col("_p_observed").eqNullSafe(F.col("_c_observed")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def schema_drift(df: DataFrame, expected: T.StructType) -> DataFrame:
    """(column, status, expected_type, actual_type) — schema-evolution
    check of a table against its declared contract: ``missing`` (contract
    column absent), ``added`` (table grew a column the contract doesn't
    know), ``type_changed``, ``ok``. Nested types compare by full
    simpleString (a changed struct field IS a type change). Metadata-only:
    no data is read — at 10^12 rows this costs exactly nothing, which is
    why it belongs at the FRONT of every validation run (a type change
    silently nulls the typed path's reads; catch it before scanning)."""
    actual: dict[str, list[str]] = {}
    for f in df.schema.fields:
        actual.setdefault(f.name, []).append(f.dataType.simpleString())
    exp = {f.name: f.dataType.simpleString() for f in expected.fields}
    rows = []
    for name, et in exp.items():
        ats = actual.get(name)
        if ats is None:
            rows.append((name, "missing", et, None))
        elif len(ats) > 1:
            # a join can legally leave two same-named columns — a drift
            # checker that keeps only the last one can mask a genuine type
            # change behind the duplicate: surface it
            rows.append((name, "duplicated", et, ",".join(ats)))
        elif ats[0] != et:
            rows.append((name, "type_changed", et, ats[0]))
        else:
            rows.append((name, "ok", et, ats[0]))
    for name, ats in actual.items():
        if name not in exp:
            status = "duplicated" if len(ats) > 1 else "added"
            rows.append((name, status, None, ",".join(ats)))
    return df.sparkSession.createDataFrame(
        rows, "column string, status string, expected_type string, actual_type string"
    )
