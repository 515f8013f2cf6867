"""Per-partition lineage / checkpoint-resume (north rule).

The reference is single-process with no restart story; at 10^12 documents a
validation run WILL be preempted, so verdict rows are appended to a lineage
table keyed (run_id, partition_key) and a restart anti-joins completed
partitions away. Exactly-once semantics under retry come from
last-writer-wins dedup on read: duplicate (run_id, partition_key) appends are
collapsed by a window over ``ts`` — idempotent re-runs.

Partition identity: ``spark_partition_id()`` is NOT durable
across runs — ids depend on split planning (maxPartitionBytes, core count,
file layout, AQE). Two defenses:

* **Durable keys (production path)**: pass ``partition_key`` — a stable
  column such as the input file path
  (``spans_documents(include_source_file=True)`` → ``_source_file``) or an
  Iceberg partition value. Resume then anti-joins on identity that survives
  re-planning.
* **Layout guard (volatile path)**: every append stamps a planning
  fingerprint (maxPartitionBytes, shuffle partitions, AQE, parallelism);
  ``remaining()`` under the default spark_partition_id key RAISES if the
  current session's fingerprint differs from the checkpointed one, instead
  of silently skipping rows that were never validated.

Cross-row caveat: uniqueness/FK checks are only meaningful over the FULL
table. A resumed run's remainder sees only unvalidated partitions, so
duplicates spanning completed and remaining data are invisible to it —
re-run cross-row checks table-wide after resume (plans/validation.py
docstring).

Sandbox storage is an append-only parquet directory; on a real cluster the
same API binds to an Iceberg table (append snapshot per batch) — the
read-side dedup logic is identical.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Union

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_py_spark.util import local_frame

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("partition_key", T.StringType()),
        T.StructField("pass", T.BooleanType()),
        T.StructField("docs", T.LongType()),
        T.StructField("violations", T.LongType()),
        T.StructField("ts", T.DoubleType()),
        T.StructField("attempt", T.StringType()),
        T.StructField("layout", T.StringType()),
    ]
)


def planning_fingerprint(spark: SparkSession) -> str:
    """The session knobs that determine spark_partition_id assignment."""
    conf = spark.conf

    def g(k: str) -> str:
        try:
            return str(conf.get(k))
        except Exception:
            return ""

    return "|".join(
        [
            g("spark.sql.files.maxPartitionBytes"),
            g("spark.sql.files.openCostInBytes"),
            g("spark.sql.adaptive.enabled"),
            str(spark.sparkContext.defaultParallelism),
        ]
    )


def stamp_verdicts(verdicts: DataFrame, spark: SparkSession) -> DataFrame:
    """Verdict rows → LINEAGE_SCHEMA shape (ts / attempt / layout stamped).
    Every lineage write goes through it, so the stored schema has one
    definition whatever table backs the log. The
    stamp is a one-row local relation joined on, not literals: Spark
    inlines a double literal into generated code, so a per-run ``ts``
    literal would compile new classes every run."""
    stamp = local_frame(
        spark,
        [(time.time(), uuid.uuid4().hex, planning_fingerprint(spark))],
        T.StructType(LINEAGE_SCHEMA.fields[-3:]),  # ts, attempt, layout
    )
    return verdicts.select(
        "run_id",
        F.col("partition_key").cast("string"),
        "pass",
        F.col("docs").cast("long"),
        F.col("violations").cast("long"),
    ).crossJoin(stamp)


class LineageLog:
    """Append-only lineage/metrics log with resume support."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def append(self, verdicts: DataFrame) -> None:
        """Append verdict rows (run_id, partition_key, pass, docs, violations)."""
        stamp_verdicts(verdicts, self.spark).write.mode("append").parquet(self.path)

    def read(self) -> DataFrame:
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)

    def completed(self, run_id: str) -> DataFrame:
        """Latest verdict per partition for a run (last-writer-wins dedup —
        retried partitions count once)."""
        w = Window.partitionBy("run_id", "partition_key").orderBy(F.desc("ts"))
        return (
            self.read()
            .where(F.col("run_id") == run_id)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def remaining(
        self,
        df: DataFrame,
        run_id: str,
        partition_key: Union[str, Column, None] = None,
    ) -> DataFrame:
        """Rows of ``df`` whose partition has NOT been checkpointed yet for
        ``run_id`` — a broadcast anti-join on the partition key; resumed runs
        skip completed partitions without re-reading their data (with a file
        path or Iceberg partition value as the key, the skip becomes
        partition PRUNING at the scan).

        With the default (volatile) spark_partition_id key, raises
        ValueError if the checkpointed planning layout differs from the
        current session's — resuming under a changed layout would silently
        anti-join away rows that were never validated."""
        done = self.completed(run_id)
        if partition_key is None:
            current = planning_fingerprint(self.spark)
            # null-safe: a NULL layout (older-schema or external writer) is
            # stale, not exempt — plain != would filter those rows out and
            # silently bypass the guard
            stale = (
                done.where(~F.col("layout").eqNullSafe(F.lit(current)))
                .limit(1)
                .collect()
            )
            if stale:
                raise ValueError(
                    "resume keyed on spark_partition_id requires an unchanged "
                    f"planning layout: checkpoint={stale[0]['layout']!r} "
                    f"current={current!r}. Pass a durable partition_key column "
                    "(e.g. _source_file) instead."
                )
            key_expr: Column = F.spark_partition_id().cast("string")
        else:
            # same None/str/Column resolution as verdict grouping — one
            # implementation so resume keys can never drift from verdict keys
            from json_schema_py_spark.plans.validation import _partition_key_col

            key_expr = _partition_key_col(partition_key)
        tagged = df.withColumn("_pkey", key_expr)
        return (
            tagged.join(
                F.broadcast(
                    done.select(F.col("partition_key").alias("_pkey"))
                ),
                "_pkey",
                "left_anti",
            ).drop("_pkey")
        )
