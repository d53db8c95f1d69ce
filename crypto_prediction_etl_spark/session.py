"""SparkSession factory.

Mirrors the config layering of the reference's session builder
(reference: modules/spark_operations/utils/session.py:24-92) but targets a
single local JVM for tests while keeping every knob meaningful on a real
cluster: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), Arrow on (vectorized pandas interop for the indicator
kernels), UTC session timezone (oracle comparability), dynamic partition
overwrite (the reference's delete-then-insert reload semantics, SURVEY
L3/L4, in one writer).

At 100 TB these configs are the ones that matter: shuffle partitions are
sized from the environment rather than hard-coded, AQE coalesces/splits
at runtime, and `maxPartitionBytes` keeps scan tasks bounded.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "crypto_prediction_etl_spark"


def default_parallelism() -> int:
    """Worker-thread count: $SPARK_GRAFT_CPUS, else host CPUs."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def driver_memory() -> str:
    """Driver heap: $SPARK_GRAFT_DRIVER_MEM, else a quarter of physical
    memory, at least 1 GiB (the driver shares the host with the workers)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return os.getenv("SPARK_GRAFT_DRIVER_MEM") or f"{max(1024, phys // 4 // 2**20)}m"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    *,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Local mode is one JVM; on a cluster the same conf applies unchanged
    except ``master`` comes from spark-submit.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # -- planner / runtime ------------------------------------------
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # -- scan sizing: 128 MiB tasks at any scale --------------------
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # -- correctness / comparability --------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) columns (events.ts) read as int64 and
        # are converted in-plan by sources.readers.table(); set HERE, for
        # the session's lifetime, because lazy plans re-consult the conf
        # at action time — a save/restore scope would break execution of
        # any nanos-table frame collected after the restore.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # -- python interop (Arrow batches, not row pickling) -----------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- write semantics: overwrite only matching partitions --------
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # -- local-mode memory (driver == only JVM) ---------------------
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # graceful streaming shutdown (reference: session.py:29)
        .config("spark.streaming.stopGracefullyOnShutdown", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
