"""Partitioned writers + idempotent-reload ELT primitives (SURVEY M2).

The reference's load semantics are delete->verify->insert over
partition-targeted windows, sequenced by Airflow across Trino/Hive
(L3: D_Load_crypto_candles_day.py:128-138; L4 wrk-swap:
D_Create_indicator_day.py:374-382). Spark-first, all of that collapses
into dynamic partition overwrite: write only the partitions present in
the reload frame, atomically replacing them — one writer, one engine,
no staging twin.

Partition layout follows the reference DDLs: year/month/day[/hour]
smallint columns derived from the event timestamp
(ddl/hive/crypto_raw/candles_day.ddl:24-26,
trino/D_Load_crypto_candles_day_003.sql:44-46). At 100 TB this layout
gives partition pruning on every date-bounded predicate, and the
dynamic-overwrite reload touches only the reload window's directories.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_PARTITION_COLS = ("year", "month", "day")


def add_partition_cols(df: DataFrame) -> DataFrame:
    """Derive year/month/day partition columns from ``ts_create_utc``."""
    ts = "ts_create_utc"
    return df.withColumns(
        {"year": F.year(ts), "month": F.month(ts), "day": F.dayofmonth(ts)}
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = DEFAULT_PARTITION_COLS,
    mode: str = "append",
    fmt: str = "parquet",
    compression: str | None = None,
) -> None:
    """Partitioned columnar write (S4/S5 sink).

    ``fmt="orc", compression="snappy"`` reproduces the reference's raw
    candle storage exactly (``STORED AS ORC`` +
    ``orc.compress=SNAPPY``, ddl/hive/crypto_raw/candles_day.ddl:29-31)
    — Spark's native ORC writer needs no extra package, so the raw
    layer can be byte-compatible with a Hive/Trino reader while the
    mart layer stays parquet."""
    w = df.write.mode(mode).partitionBy(*partition_cols).format(fmt)
    if compression is not None:
        w = w.option("compression", compression)
    w.save(path)


def reload_window(new_df: DataFrame, path: str) -> None:
    """Idempotent window reload (L3 delete->insert in ONE writer).

    With ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set by
    the session factory), overwrite replaces exactly the partitions
    present in ``new_df`` and leaves every other partition untouched —
    the reference's delete-sweep + federated INSERT...SELECT
    (D_Load_crypto_candles_day_001/_003.sql) as a single atomic-per-
    partition operation. Re-running is a no-op-equivalent overwrite.
    """
    new_df.write.mode("overwrite").partitionBy(*DEFAULT_PARTITION_COLS).parquet(path)


def delete_partitions(
    spark: SparkSession,
    path: str,
    predicate: Column | str,
    partition_cols: tuple[str, ...] = DEFAULT_PARTITION_COLS,
) -> int:
    """Partition-targeted DELETE (S6; reference:
    trino/D_Load_crypto_candles_day_001.sql:1-6 — partition cols only).

    Implemented as directory removal through the Hadoop FS API (works on
    HDFS/S3A/local identically): enumerate distinct partition tuples
    matching the predicate, drop their directories. Metadata-only at any
    scale — no data files are read or rewritten: the predicate is
    evaluated against a projection of the partition columns only, which
    partition pruning answers from the file listing.

    Safety (the reference's Trino DELETE refuses non-partition
    predicates the same way): the predicate must reference partition
    columns only — evaluating it against the partition-column projection
    raises AnalysisException for anything else, so a data-column
    predicate can never trigger a directory sweep. Directories are built
    from the distinct matching partition tuples (``year=Y/month=M/...``)
    and are always strictly below the dataset root.
    """
    if not partition_cols:
        raise ValueError(
            "delete_partitions requires a partitioned dataset; refusing to "
            "delete from an unpartitioned path (that would be the dataset root)"
        )
    df = spark.read.parquet(path)
    missing = [c for c in partition_cols if c not in df.columns]
    if missing:
        raise ValueError(f"partition columns {missing} not present in {path}")
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    # A predicate touching any data column must fail analysis instead of
    # deleting mixed-content dirs. Filtering a projection is NOT enough:
    # Catalyst's ResolveMissingReferences resolves pruned columns through
    # a Project, so probe against an empty relation that has ONLY the
    # partition columns — there is nothing beneath it to resolve from.
    probe_schema = df.select(*partition_cols).schema
    spark.createDataFrame([], probe_schema).filter(pred).schema  # noqa: B018
    parts = df.select(*partition_cols).filter(pred).distinct().collect()
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    n = 0
    for row in parts:
        rel = "/".join(f"{c}={row[c]}" for c in partition_cols)
        p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/" + rel)
        fs = p.getFileSystem(conf)
        if p.equals(fs.makeQualified(root)):  # defense in depth
            raise ValueError("refusing to delete the dataset root")
        if fs.exists(p):
            fs.delete(p, True)
            n += 1
    return n


def upsert_by_key(
    existing: DataFrame,
    updates: DataFrame,
    pk_cols: list[str],
    order_cols: list[str],
) -> DataFrame:
    """MERGE-emulation (S11 Cassandra upsert): union + keep newest row
    per PK by ``order_cols`` desc. Shuffles once on the PK hash."""
    unioned = existing.unionByName(updates, allowMissingColumns=True)
    return latest_per_key(unioned, pk_cols, order_cols)


def latest_per_key(
    df: DataFrame, pk_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """The newest row per PK: first by ``order_cols`` descending."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*pk_cols).orderBy(*[F.desc(c) for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
) -> None:
    """Bucketed managed table (S4 variant for repeated co-located joins).

    Joins/aggregations on ``bucket_col`` between tables bucketed the
    same way need NO shuffle — at 100 TB this converts every
    fact-to-fact join on the bucket key from a full exchange into a
    local zip of pre-hashed files (see tests/test_elt.py plan assert).
    """
    df.write.mode("overwrite").bucketBy(n_buckets, bucket_col).saveAsTable(table_name)


def cast_float_storage_edge(df: DataFrame) -> DataFrame:
    """Compute in double, store as float32 (SURVEY hard part 5): the
    reference's Hive DDLs declare `float` for every price/volume column
    (ddl/hive/crypto_raw/candles_day.ddl:5-9); casting only at the
    storage edge keeps analytics at double precision while halving
    storage/IO for the wide mart tables."""
    return df.withColumns(
        {
            name: F.col(name).cast("float")
            for name, dtype in df.dtypes
            if dtype == "double"
        }
    )
