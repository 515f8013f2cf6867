"""Cross-row key uniqueness (north rule; reference seed: per-array
uniqueItems, json_schema/constraints/arrays.py:72-98, lifted to the table).

Skew strategy: a hot key (e.g. a default/placeholder doc_id shared by 0.5%
of a 10^12-row table = 5×10^9 rows on one reducer) kills a naive
groupBy(key). ``duplicate_keys`` therefore aggregates in two stages:
partial count per (key, salt) — the salt spreads any hot key over
``salt_buckets`` reducers — then the tiny per-key sum. The first shuffle is
uniform by construction; the second carries ≤ salt_buckets rows per key.
AQE skew-join handling stays on as backstop (session.py).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_schema_py_spark.errors import ErrorCode


def duplicate_keys(
    df: DataFrame,
    key: str = "doc_id",
    salt_buckets: Optional[int] = 64,
) -> DataFrame:
    """(key, cnt) for every key value appearing more than once.

    ``salt_buckets=None`` → single-stage groupBy (fine when keys are known
    near-unique; Spark's partial aggregation already absorbs mild skew).
    """
    nn = df.where(F.col(key).isNotNull()).select(key)
    if salt_buckets:
        salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
        partial = nn.groupBy(F.col(key), salt.alias("_salt")).agg(
            F.count(F.lit(1)).alias("_c")
        )
        counts = partial.groupBy(key).agg(F.sum("_c").alias("cnt"))
    else:
        counts = nn.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    return counts.where(F.col("cnt") > 1)


def uniqueness_violations(
    df: DataFrame, key: str = "doc_id", salt_buckets: Optional[int] = 64
) -> DataFrame:
    """Violation rows for duplicated keys — one row PER OFFENDING ROW (all
    rows sharing the value), via a join of the duplicate-key set back
    onto the table.

    A key is unique over the rows where it is non-null: NULL keys are
    never duplicates of each other and never join back, so ``df`` may
    carry NULL-keyed rows (a key projection shared with other checks keeps
    them). The join is NOT force-broadcast: on a heavily-duplicated corpus
    — exactly when this operator matters — the duplicate-key set is
    corpus-scale and a forced hint would override the size threshold; AQE
    auto-broadcasts genuinely small sets."""
    dups = duplicate_keys(df, key, salt_buckets)
    return (
        df.join(dups, key, "inner")
        .select(
            F.col(key).cast("string").alias("doc_id"),
            F.lit(ErrorCode.UNIQUENESS_VIOLATION.value).alias("rule_id"),
            F.lit("/" + key).alias("path"),
            F.col("cnt").cast("string").alias("observed"),
        )
    )
