"""ELT primitives: partitioned write, dynamic-overwrite window reload
(idempotent delete->insert), partition-targeted delete + verify,
PK upsert, quality checks."""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

from crypto_prediction_etl_spark.quality.checks import (
    check_deletion,
    check_freshness,
    check_not_null,
    check_offset_lag,
    check_row_count_parity,
    check_unique,
)
from crypto_prediction_etl_spark.sources.writers import (
    add_partition_cols,
    delete_partitions,
    reload_window,
    upsert_by_key,
    write_partitioned,
)

def _frame(spark, days, symbol="BTC_USDT", price=100.0):
    rows = [
        (symbol, f"2024-01-{d:02d} 12:00:00", price + d) for d in days
    ]
    df = spark.createDataFrame(rows, "id string, ts string, close double")
    return add_partition_cols(df.withColumn("ts_create_utc", F.to_timestamp("ts")))


def test_partitioned_write_layout_and_pruning(spark, tmp_path):
    path = os.path.join(tmp_path, "t1")
    write_partitioned(_frame(spark, [1, 2, 3]), path)
    assert os.path.isdir(os.path.join(path, "year=2024", "month=1", "day=2"))
    got = spark.read.parquet(path).filter("day = 2")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert got.count() == 1
    # partition filter must prune at scan, not post-filter
    assert "PartitionFilters: [" in plan and "day" in plan.split("PartitionFilters")[1][:120]


def test_reload_window_is_idempotent_delete_insert(spark, tmp_path):
    path = os.path.join(tmp_path, "t2")
    write_partitioned(_frame(spark, [1, 2, 3, 4, 5]), path)
    # reload days 4-5 with corrected values; days 1-3 must be untouched
    corrected = _frame(spark, [4, 5], price=500.0)
    reload_window(corrected, path)
    reload_window(corrected, path)  # idempotent re-run
    out = spark.read.parquet(path)
    assert out.count() == 5
    assert out.filter("day = 4").select("close").first().close == pytest.approx(504.0)
    assert out.filter("day = 1").select("close").first().close == pytest.approx(101.0)


def test_delete_partitions_and_verify(spark, tmp_path):
    path = os.path.join(tmp_path, "t3")
    write_partitioned(_frame(spark, [1, 2, 3]), path)
    n = delete_partitions(spark, path, "day >= 2")
    assert n == 2
    assert spark.read.parquet(path).count() == 1
    res = check_deletion(spark.read.parquet(path), F.col("day") >= 2)
    assert res.passed


def test_delete_partitions_rejects_data_column_predicate(spark, tmp_path):
    """A predicate on a non-partition column must fail analysis instead of
    sweeping whole directories that also hold non-matching rows."""
    from pyspark.errors import AnalysisException

    path = os.path.join(tmp_path, "t3b")
    write_partitioned(_frame(spark, [1, 2, 3]), path)
    with pytest.raises(AnalysisException):
        delete_partitions(spark, path, "close > 0")
    assert spark.read.parquet(path).count() == 3  # nothing deleted
    with pytest.raises(ValueError):
        delete_partitions(spark, path, "day >= 1", partition_cols=())
    with pytest.raises(ValueError):
        delete_partitions(spark, path, "day >= 1", partition_cols=("nope",))


def test_upsert_by_key(spark, tmp_path):
    existing = spark.createDataFrame(
        [("BTC", 1, 100.0, 10), ("BTC", 2, 200.0, 10)],
        "id string, k int, v double, ver int",
    )
    updates = spark.createDataFrame(
        [("BTC", 2, 222.0, 11), ("BTC", 3, 300.0, 11)],
        "id string, k int, v double, ver int",
    )
    out = upsert_by_key(existing, updates, ["id", "k"], ["ver"])
    got = {(r.id, r.k): r.v for r in out.collect()}
    assert got == {("BTC", 1): 100.0, ("BTC", 2): 222.0, ("BTC", 3): 300.0}


def test_quality_checks(spark):
    df = spark.createDataFrame(
        [("BTC_USDT", "2024-01-02", 1.0), ("BTC_USDT", "2024-01-03", 2.0), ("ETH", "2024-01-03", None)],
        "id string, dt string, v double",
    )
    assert check_unique(df, ["id", "dt"]).passed
    assert not check_unique(df.unionByName(df), ["id", "dt"]).passed
    assert check_freshness(df, "dt", F.col("id") == "BTC_USDT", "2024-01-03").passed
    assert not check_freshness(df, "dt", F.col("id") == "BTC_USDT", "2024-01-04").passed
    assert check_row_count_parity(df, df).passed
    assert not check_not_null(df, ["v"]).passed
    assert check_offset_lag({"sources": [{"startOffset": "5", "endOffset": "900"}]}).passed
    assert not check_offset_lag({"sources": [{"startOffset": "0", "endOffset": "5000"}]}).passed


def test_offset_lag_parses_real_offset_shapes():
    """Structured Streaming reports offsets as JSON objects — Kafka:
    topic->partition->offset, file source: {"logOffset": N} — and an
    unparseable offset must FAIL the check, not pass with lag 0."""
    from crypto_prediction_etl_spark.quality.checks import (
        check_offset_lag,
        check_offset_lag_trend,
        offset_lags,
    )

    kafka = {
        "sources": [
            {
                "startOffset": '{"crypto.candles_minute": {"0": 100, "1": 50}}',
                "endOffset": '{"crypto.candles_minute": {"0": 300, "1": 1800}}',
            }
        ]
    }
    lags = offset_lags(kafka)
    assert lags == {
        "src0:crypto.candles_minute-0": 200,
        "src0:crypto.candles_minute-1": 1750,
    }
    assert not check_offset_lag(kafka).passed  # partition 1 over 1000
    assert check_offset_lag(kafka, max_lag=2000).passed

    file_src = {
        "sources": [{"startOffset": {"logOffset": 3}, "endOffset": {"logOffset": 5}}]
    }
    assert offset_lags(file_src) == {"src0:logOffset": 2}
    assert check_offset_lag(file_src).passed

    garbage = {"sources": [{"startOffset": "{not json", "endOffset": "7"}]}
    assert offset_lags(garbage) is None
    assert not check_offset_lag(garbage).passed
    assert not check_offset_lag({"sources": [{"startOffset": None, "endOffset": 7}]}).passed

    # trend: fail only when lag is over threshold AND growing
    assert check_offset_lag_trend({"p0": 5000}, {"p0": 9000}).passed  # draining
    assert not check_offset_lag_trend({"p0": 5000}, {"p0": 100}).passed  # growing
    assert check_offset_lag_trend({"p0": 500}, {"p0": 100}).passed  # under threshold
    assert check_offset_lag_trend({"p0": 5000}, None).passed  # first run
    assert not check_offset_lag_trend(None, {"p0": 1}).passed  # unparseable


def test_freshness_policy_calendar_gate(spark):
    """Warn-vs-fail mirrors the reference (cassandra_operation.py:52-69):
    missing sentinel on a market-open day -> warning; missing on a
    closed day or without a calendar -> error; present -> pass."""
    from crypto_prediction_etl_spark.quality.checks import check_freshness_policy

    df = spark.createDataFrame(
        [("BTC_USDT", "2024-01-03", 1.0)], "id string, dt string, v double"
    )
    ok = check_freshness_policy(df, "dt", F.col("id") == "BTC_USDT", "2024-01-03", True)
    assert ok.passed and ok.severity == "none"
    warn = check_freshness_policy(df, "dt", F.col("id") == "BTC_USDT", "2024-01-04", True)
    assert not warn.passed and warn.severity == "warning"
    err = check_freshness_policy(df, "dt", F.col("id") == "BTC_USDT", "2024-01-04", False)
    assert not err.passed and err.severity == "error"
    err2 = check_freshness_policy(df, "dt", F.col("id") == "BTC_USDT", "2024-01-04")
    assert not err2.passed and err2.severity == "error"


def test_salted_aggregation_matches_plain(spark, sf_dir):
    from crypto_prediction_etl_spark.operators.skew import salted_join, salted_sum_count
    from crypto_prediction_etl_spark.sources.readers import table

    li = table(spark, sf_dir, "lineitem")
    got = {
        r.l_returnflag: (r.sum_l_quantity, r.n_rows)
        for r in salted_sum_count(li, ["l_returnflag"], "l_quantity").collect()
    }
    want = {
        r.l_returnflag: (r.s, r.n)
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count("*").alias("n"))
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][1] == want[k][1]
        assert got[k][0] == pytest.approx(want[k][0], rel=1e-12)


def test_salted_join_matches_plain(spark, sf_dir):
    from crypto_prediction_etl_spark.operators.skew import salted_join
    from crypto_prediction_etl_spark.sources.readers import table

    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    plain = orders.join(cust, "o_custkey").count()
    salted = salted_join(orders, cust, "o_custkey").count()
    assert salted == plain


def test_compaction_ttl_retention(spark, tmp_path):
    """TTL sweep during compaction (reference candles_realtime.ddl:20,
    default_time_to_live=2592000): expired rows dropped, fresh rows
    intact, idempotent re-run."""
    from crypto_prediction_etl_spark.streaming.sinks import compact_hot_table

    path = os.path.join(tmp_path, "ttlhot")
    spark.createDataFrame(
        [
            ("BTC", 1, 1.0, "2024-01-01 00:00:00"),  # 44 days old -> expired
            ("BTC", 2, 2.0, "2024-02-10 00:00:00"),  # 4 days old -> kept
            ("ETH", 3, 3.0, "2024-02-13 00:00:00"),  # 1 day old -> kept
        ],
        "id string, k int, v double, ts_insert_utc string",
    ).withColumn("ts_insert_utc", F.to_timestamp("ts_insert_utc")).write.parquet(path)
    out = os.path.join(tmp_path, "ttlcompacted")
    now = "2024-02-14 00:00:00"
    n = compact_hot_table(
        spark, path, ["id", "k"], ["ts_insert_utc"], out,
        ttl_seconds=2592000, now=now,
    )
    assert n == 2
    assert {r.k for r in spark.read.parquet(out).collect()} == {2, 3}
    # idempotent: same now -> same survivor set
    n2 = compact_hot_table(
        spark, path, ["id", "k"], ["ts_insert_utc"], out,
        ttl_seconds=2592000, now=now,
    )
    assert n2 == 2


def test_compaction_bounds_read_amplification(spark, tmp_path):
    from crypto_prediction_etl_spark.streaming.sinks import compact_hot_table

    path = os.path.join(tmp_path, "hot")
    for epoch in range(3):
        spark.createDataFrame(
            [("BTC", 1, float(epoch), epoch), ("BTC", 2, float(epoch), epoch)],
            "id string, k int, v double, _epoch int",
        ).write.mode("append").parquet(path)
    assert spark.read.parquet(path).count() == 6
    out = os.path.join(tmp_path, "compacted")
    sc = spark.sparkContext
    sc.setJobGroup("compact-once", "compact_hot_table")
    try:
        n = compact_hot_table(spark, path, ["id", "k"], ["_epoch"], out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the count is observed during the rewrite, not read back: the input's
    # schema inference plus the write's shuffle-map and result jobs
    assert len(sc.statusTracker().getJobIdsForGroup("compact-once")) <= 3
    assert n == spark.read.parquet(out).count() == 2
    vals = {r.k: r.v for r in spark.read.parquet(out).collect()}
    assert vals == {1: 2.0, 2: 2.0}  # newest epoch won


def test_compaction_ttl_expiring_every_row_leaves_empty_table(spark, tmp_path):
    from crypto_prediction_etl_spark.streaming.sinks import compact_hot_table

    path = os.path.join(tmp_path, "stalehot")
    spark.createDataFrame(
        [("BTC", 1, 1.0, "2024-01-01 00:00:00"), ("ETH", 2, 2.0, "2024-01-02 00:00:00")],
        "id string, k int, v double, ts_insert_utc string",
    ).withColumn("ts_insert_utc", F.to_timestamp("ts_insert_utc")).write.parquet(path)
    out = os.path.join(tmp_path, "stalecompacted")
    n = compact_hot_table(
        spark, path, ["id", "k"], ["ts_insert_utc"], out,
        ttl_seconds=2592000, now="2024-03-01 00:00:00",
    )
    assert n == 0
    empty = spark.read.parquet(out)
    assert empty.columns == spark.read.parquet(path).columns
    assert empty.count() == 0


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """Co-located bucketed join: no Exchange on either side (the 100 TB
    fact-to-fact join strategy)."""
    from crypto_prediction_etl_spark.sources.readers import table
    from crypto_prediction_etl_spark.sources.writers import write_bucketed_table

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # a stale warehouse dir survives catalog drops from prior sessions
    warehouse = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spark-warehouse")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    write_bucketed_table(
        table(spark, sf_dir, "orders"), "b_orders", "o_orderkey", 8
    )
    write_bucketed_table(
        table(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        "o_orderkey",
        8,
    )
    # force sort-merge so the bucketed co-location (not a broadcast)
    # is what eliminates the join shuffle
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(spark.table("b_orders"), "o_orderkey")
        agg = joined.groupBy("o_orderpriority").agg(F.sum("l_quantity").alias("q"))
        agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in final, final[:2000]
    assert "Bucketed: true" in final
    # the ONLY exchange is the post-join groupBy on o_orderpriority;
    # neither bucketed join side shuffles
    n_exchanges = final.count("Exchange hashpartitioning")
    assert n_exchanges == 1, final[:2000]
    assert "hashpartitioning(o_orderkey" not in final
    # sanity: result matches unbucketed join
    plain = (
        table(spark, sf_dir, "lineitem")
        .withColumnRenamed("l_orderkey", "o_orderkey")
        .join(table(spark, sf_dir, "orders"), "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.sum("l_quantity").alias("q"))
    )
    got = {r.o_orderpriority: r.q for r in agg.collect()}
    want = {r.o_orderpriority: r.q for r in plain.collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_float_storage_edge(spark, tmp_path):
    from crypto_prediction_etl_spark.sources.writers import cast_float_storage_edge

    df = _frame(spark, [1, 2])
    out = cast_float_storage_edge(df)
    assert dict(out.dtypes)["close"] == "float"
    path = os.path.join(tmp_path, "floatedge")
    out.write.parquet(path)
    import glob

    import pyarrow.parquet as pq
    # physical storage is float32
    part = glob.glob(os.path.join(path, "*.parquet"))[0]
    assert "float" == str(pq.read_schema(part).field("close").type)


def test_multi_format_round_trip(spark, sf_dir, tmp_path):
    """Format-agnostic IO: the same frame writes and reads back through
    parquet, ORC, JSON-lines and CSV with values intact — the engine's
    source/sink surface is not parquet-only. (Avro requires the
    external spark-avro package, deliberately out of scope.) JSON and
    CSV are schema-on-read: the reader re-applies the written schema,
    the production pattern for text-format interchange."""
    from pyspark.sql import functions as F

    from crypto_prediction_etl_spark.sources.readers import table

    src = (
        table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    )
    expected = [tuple(r) for r in src.collect()]
    schema = src.schema
    for fmt in ("parquet", "orc", "json", "csv"):
        path = os.path.join(tmp_path, f"roundtrip_{fmt}")
        w = src.write.mode("overwrite").format(fmt)
        if fmt == "csv":
            w = w.option("header", "true")
        w.save(path)
        r = spark.read.format(fmt)
        if fmt in ("json", "csv"):
            r = r.schema(schema)
        if fmt == "csv":
            r = r.option("header", "true")
        got = sorted(tuple(x) for x in r.load(path).collect())
        assert got == expected, fmt


def test_orc_snappy_partitioned_raw_layer(spark, sf_dir, tmp_path):
    """S4 in the reference's exact storage dress: the raw candle layer
    is `STORED AS ORC` with `orc.compress=SNAPPY` and partition columns
    (ddl/hive/crypto_raw/candles_day.ddl:27-31). write_partitioned with
    fmt="orc" must produce per-partition ORC files whose postscript
    says SNAPPY, prune partitions at read, and round-trip values."""
    import glob

    from pyspark.sql import functions as F

    from crypto_prediction_etl_spark.plans.indicators_q import candles
    from crypto_prediction_etl_spark.sources.writers import write_partitioned

    c = candles(spark, sf_dir).withColumn("year", F.year("dt"))
    path = os.path.join(tmp_path, "orc_raw_candles")
    write_partitioned(
        c, path, partition_cols=("year",), mode="overwrite",
        fmt="orc", compression="snappy",
    )
    # hive-style partition directories
    assert glob.glob(os.path.join(path, "year=*")), os.listdir(path)
    # the ORC postscript must record SNAPPY
    f = glob.glob(os.path.join(path, "year=*", "*.orc"))[0]
    from pyarrow import orc as pa_orc

    assert pa_orc.ORCFile(f).compression.upper() == "SNAPPY"
    # partition pruning reaches the scan
    back = spark.read.orc(path)
    plan = (
        back.filter(F.col("year") == 1998)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(year" in plan, plan[:1500]
    # values round-trip (dt used as the compare key)
    want = {
        (r.id, str(r.dt)): (r.high, r.low, r.close)
        for r in c.filter(F.year("dt") == 1998).collect()
    }
    got = {
        (r.id, str(r.dt)): (r.high, r.low, r.close)
        for r in back.filter(F.col("year") == 1998).collect()
    }
    assert got == want
