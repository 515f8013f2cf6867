"""Small shared utilities."""

from __future__ import annotations

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """``rows`` as a local relation: the rows are data held in the plan.
    Reading the frame back runs no Spark job (``createDataFrame`` of a
    list parallelizes it over every core), and no value reaches generated
    code as a literal, so a plan over per-run values compiles the same
    classes every run."""
    names = schema.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition when the input has fewer partitions than cores.

    Small/compacted parquet inputs arrive as 1-2 partitions, which serializes
    expression-heavy map stages (hashing, shingling, dot products) onto one
    core. One cheap round-robin shuffle of the raw rows unlocks full
    parallelism; at production scale inputs already have >> cores partitions
    and this is a no-op."""
    if df.isStreaming:
        # no rdd on a streaming frame; micro-batch sizing is the stream's
        # own concern (validate paths call this and bind to streams)
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# --- duplicate-text collapse ---------------------------------------------
#
# Every per-document signal the text operators compute (LM perplexity,
# classifier scores, DSIR weights, tf-idf terms, substring strips, LSH
# band keys) is a pure function of the document's raw text, and every
# corpus-wide count over such a signal is a sum over texts. So each
# operator runs ONE body over a text-units frame ``(_k, _t, _w, *by)``
# (see ``text_units``):
#
# * direct ("off"): a unit is one document, keyed by its id, weight 1;
# * collapsed ("shuffle"/"broadcast"): a unit is one distinct raw text
#   (per ``by`` value), keyed by its null-safe md5, weighted by its
#   multiplicity. Per-unit results fan back out to ids by that key.
#
# Counts are sums of ``_w``, so both forms give identical integers, and a
# NULL text is one unit with NULL ``_t`` in both. Generators over ``_t``
# are outer (a NOT NULL filter drops the empty row where unwanted), never
# plain explode: a plain generator's inferred size()>0 predicate is pushed
# below the representative join and re-runs the per-text work on every
# corpus row.
#
# The collapsed form pays only when duplication is real, and is
# scale-safe only while the representative-id set is small enough that
# AQE broadcasts it into the join that picks the representative rows
# (otherwise the corpus payload would shuffle, which the direct form never
# does); ``collapse_mode`` decides both with one compact probe, and
# callers pin the answer with ``collapse=True|False``.

_COLLAPSE_MAX_RATIO = 0.5
# at most 2M representatives: their (id, weight) bigint pairs (≈ 32 MB)
# stay under the 64 MB session broadcast threshold
_COLLAPSE_MAX_DISTINCT = 2_000_000
_COLLAPSE_BROADCAST_DISTINCT = 200_000
_COLLAPSE_VALUES = ("auto", "off", "shuffle", "broadcast")


def duplication_probe(df: DataFrame, text_col: str) -> tuple[int, int]:
    """(n_rows, approx_distinct_texts) in one compact scan (HLL++, rsd 5%)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(F.col(text_col), 0.05).alias("d"),
    ).first()
    return int(row["n"]), int(row["d"])


def collapse_mode(df: DataFrame, text_col: str, collapse="auto") -> str:
    """Decide whether per-distinct-text computation pays for itself, and
    how results re-attach to ids: "off" | "shuffle" | "broadcast".

    ``collapse`` is one of True, False, "auto", "off", "shuffle",
    "broadcast"; anything else raises ValueError before any scan.
    A streaming frame is always "off", whatever is pinned: the probe
    cannot run on a stream, and the collapsed plan fails streaming
    analysis.
    Otherwise True/False pin the answer without scanning (True → the
    scale-safe shuffle-hash attach). "auto" runs ``duplication_probe`` and
    collapses only when BOTH hold:
      * distinct/total < 0.5 (at least 2x average replication, so the
        saved work clearly exceeds the probe + join-back overhead), and
      * distinct count < 2M (a representative-id set small enough that
        its join into the payload genuinely auto-broadcasts; beyond it
        that join would shuffle the corpus payload, which the direct
        path never does).
    The attach join is "broadcast" only when the PROBE proved the
    per-text table tiny (< 200k distinct texts); otherwise "shuffle"
    (shuffle-hash, which AQE still converts to broadcast from true
    runtime sizes when warranted). Without a hint the planner has no
    cardinality estimate for the per-text subtree and can broadcast the
    corpus-sized id side instead.
    """
    if not (collapse is True or collapse is False or collapse in _COLLAPSE_VALUES):
        raise ValueError(
            f"collapse must be True, False or one of {_COLLAPSE_VALUES}, "
            f"got {collapse!r}"
        )
    if collapse is False or df.isStreaming:
        return "off"
    if collapse is True:
        return "shuffle"
    if collapse != "auto":
        return collapse
    n, d = duplication_probe(df, text_col)
    if not (n > 0 and d < _COLLAPSE_MAX_DISTINCT and d / n < _COLLAPSE_MAX_RATIO):
        return "off"
    return "broadcast" if d < _COLLAPSE_BROADCAST_DISTINCT else "shuffle"


def _text_key(text: Column) -> Column:
    # raw (not normalized) md5: signals are functions of the exact bytes.
    # Null-safe: "" is never an md5 digest, so NULL texts form one unit
    return F.coalesce(F.md5(text), F.lit(""))


def text_units(
    df: DataFrame, text_col: str, id_col: str | None, mode: str, by=()
):
    """(units, attach): the frame one text-operator body runs over.

    ``units`` is ``(_k, _t, _w, *by)``: unit key, text, weight (the
    number of docs the unit stands for) and the ``by`` columns.
    Direct ("off"): one unit per doc, ``_k`` = the id, ``_w`` = 1.
    Collapsed: one unit per distinct (raw text, *by), ``_k`` = the
    null-safe raw md5, ``_w`` = its multiplicity. Multiplicities and
    representative ids (min id per unit) come from ONE compact groupBy
    over the corpus, persisted lazily (building runs no job) because an
    operator reads its units more than once; the text is read from the
    representative rows only, picked by a join on id whose build side
    ``collapse_mode`` has bounded.

    ``attach(per_unit)`` turns a ``(_k, ...)`` frame into ``(id_col,
    ...)`` rows: a rename when direct, else an inner join of every doc's
    (id, _k) onto it, built on the per-unit side. A doc whose unit has
    no row drops, so an operator that keeps every doc gives every unit a
    row. It keys on ``_k`` alone: units split by ``by`` are for counting.
    Without an id column (``id_col=None``) collapsed units come from a
    groupBy on the text, and there is nothing to attach to."""
    t = F.col(text_col).alias("_t")
    if mode not in ("shuffle", "broadcast"):
        k = F.col(id_col) if id_col else F.lit(None)
        units = df.select(k.alias("_k"), t, F.lit(1).alias("_w"), *by)
        return units, lambda per_unit: per_unit.withColumnRenamed("_k", id_col)
    if id_col is None:
        units = df.groupBy(t, *by).agg(F.count(F.lit(1)).alias("_w"))
        return units.withColumn("_k", _text_key(F.col("_t"))), None
    ids = df.select(id_col, _text_key(F.col(text_col)).alias("_k"), *by)
    grp = (
        ids.groupBy("_k", *by)
        .agg(F.count(F.lit(1)).alias("_w"), F.min(id_col).alias("_rid"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    units = df.join(grp.select(F.col("_rid").alias(id_col), "_w"), id_col).select(
        _text_key(F.col(text_col)).alias("_k"), t, "_w", *by
    )

    def attach(per_unit: DataFrame) -> DataFrame:
        if mode == "broadcast":
            per_unit = F.broadcast(per_unit)
        else:
            per_unit = per_unit.hint("shuffle_hash")
        return ids.select(id_col, "_k").join(per_unit, "_k").drop("_k")

    return units, attach
