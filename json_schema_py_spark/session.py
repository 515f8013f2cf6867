"""SparkSession factory tuned for the validation workload.

Local-mode defaults stand in for cluster settings; on a real cluster the same
builder is used by ``spark-submit --py-files`` with master/memory supplied
externally. AQE + skew-join stay on in both: the uniqueness / referential
anti-joins rely on them for hot doc_id ranges (north rule).

A plan run again in this process compiles nothing: Spark's codegen cache is
sized (``CODEGEN_CACHE_ENTRIES``) to hold every generated class the engine's
workloads use, so a repeated pass reuses the classes its first run compiled
instead of recompiling them and running them interpreted until the JIT
catches up. Both sessions set it: ``get_spark`` and the deployed job's
``job_session``. At Spark's default of 100 entries each class was evicted
before the next pass asked for it: 130 compiles per warm curation pass and
138–147 per warm job pass, against 0 and 4 at the engine's size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Spark's codegen cache is a static setting, read once per JVM when the
# first class is compiled. It keys each class by (class loader, source); in
# local mode the driver and the task threads use different loaders, so one
# codegen stage can take two entries. An LRU smaller than the working set
# evicts every class before the next run of the same plan asks for it.
# Working sets, measured with an unbounded cache on the benchmark's seed-2
# inputs (4 cores): LM training 72 entries; a curation pass 121; a
# validation-job process 147 after its first run with a drift baseline,
# then +4 per run (two new sources under both loaders, never reused); one
# process running all three 326. 1000 leaves three times that. Cached
# source averages ~7 KB per class (~7 MB when full). The benchmark's peak
# RSS at 1000 held: curation median 2,852 -> 2,857 MB (20 runs each),
# validation job 3,000 -> 3,016 MB (5 runs each).
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "json-schema-py-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) else 32.
    Shuffle partitions default to 2x cores: small enough that sf0.1-scale
    partitions stay cache-resident, large enough that AQE can coalesce
    rather than split. On a 1000-executor cluster the same ratio is applied
    to total cores by the submitter.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    n_shuffle = shuffle_partitions or max(2 * int(cpus), 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-bench scan parallelism: the synthetic corpora compress to a
        # few hundred MB, and the 128MB default yields fewer splits than
        # cores. 4MB keeps every core fed locally; a real-cluster submit
        # overrides via SPARK_MAX_PARTITION_BYTES (at 100TB the default is
        # right — thousands of natural splits)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)),
        )
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # bucketed-table demos (co-located joins) land outside the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/jsps_warehouse"),
        )
    )
    return builder.getOrCreate()


def job_session(app_name: str) -> SparkSession:
    """The session of a job started by ``spark-submit``: the running one if
    there is one, returned unchanged (a static setting cannot change there,
    and passing it would only log a warning); otherwise a new session with
    the code-dependent static setting alone. Master, memory and partition
    settings come from ``spark-submit``."""
    return SparkSession.getActiveSession() or (
        SparkSession.builder.appName(app_name)
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )
