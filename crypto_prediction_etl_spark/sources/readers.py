"""Batch readers over the driver-supplied parquet testdata.

The reference reads from a Hive metastore via ``spark.sql`` (reference:
modules/spark_operations/utils/session.py:111-113); here the catalog is a
directory of parquet files per scale factor (TESTDATA.md). Reads are plain
``spark.read.parquet`` so Catalyst keeps predicate pushdown, column
pruning, and partition pruning on the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# events.parquet has stored ts as parquet TIMESTAMP(NANOS) in some
# testdata generations (Spark's vectorized reader rejects that type
# unless the legacy nanosAsLong conf maps it to int64) and as
# TIMESTAMP(MICROS) in others (arriving as timestamp_ntz). Normalize
# both to a session-zone TIMESTAMP in the plan so downstream code sees
# one dtype regardless of generation — the scan stays distributed and
# vectorized either way (no driver-side pyarrow detour).
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _ensure_session_confs(spark: SparkSession) -> None:
    """Correctness-critical dynamic confs, (re)applied defensively: the
    caller may hand us a session built without our factory (the round
    driver does). UTC timezone changes every date/hour derivation
    relative to the DuckDB oracle; nanosAsLong is required to scan
    events.parquet at all. Both are session-lifetime by design — lazy
    plans re-consult SQLConf at action time, so a save/restore scope
    around the read would break frames collected after the restore. The
    factory (session.py) sets the same two statically; this is the
    driver-owned-session path. nanosAsLong's visible effect on foreign
    reads is limited to parquet files that actually store TIMESTAMP(
    NANOS), which Spark would otherwise refuse to read outright."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame."""
    _ensure_session_confs(spark)
    nanos_cols = _NANOS_TS_COLS.get(name, ())
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in nanos_cols:
        dtype = dict(df.dtypes).get(c)
        if dtype == "bigint":
            # integer `div` — a double division would lose exactness at
            # 1e18-nanosecond magnitudes (double mantissa is 53 bits)
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtype == "timestamp_ntz":
            # session zone is pinned to UTC, so the naive value maps to
            # the same instant timestamp_micros produced for nanos data
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition an input whose partition count is below
    the session's parallelism, so CPU-bound derivations downstream
    (tokenize, shingle, hash, regex) fan out across every core.

    Adaptive on purpose: at bench scale a small corpus is one parquet
    file = one input split = one task doing ALL the map work while 31
    cores idle; at cluster scale the scan already yields >= parallelism
    splits and an unconditional repartition would be a pointless full
    shuffle of the raw corpus — in that case this is the identity. The
    partition probe inspects the physical layout only (file listing,
    no job).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql plans)."""
    for name in TESTDATA_TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def csv_bootstrap(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """CSV external-table bootstrap (reference:
    modules/hive_operations/query_script/init_insert_crypto_candles_past_from_csv.sql:1-48).

    Explicit schema in production — ``inferSchema`` forces an extra pass.
    """
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)
