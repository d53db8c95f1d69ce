"""End-to-end indicator-mart pipeline: lookback scan -> indicators ->
trailing-window dynamic overwrite -> quality checks; plus the CSV
bootstrap path (S7)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from crypto_prediction_etl_spark.plans.pipeline import run_indicator_mart
from crypto_prediction_etl_spark.sources.readers import csv_bootstrap
from crypto_prediction_etl_spark.sources.writers import (
    add_partition_cols,
    write_partitioned,
)

MART_COLUMNS = [
    "id", "dt", "high", "low", "close", "volume_cents", "volume", "n_multiple",
    "sma_5", "sma_10", "sma_30", "bb_sma", "bb_upper", "bb_lower", "obv",
    "tenkan_sen", "kijun_sen", "aroon_up", "aroon_down", "stoch_k", "stoch_d",
    "stoch_j", "senkou_span_a", "senkou_span_b", "chikou_span",
    "aroon_oscillator", "obv_sma", "ema_5", "ema_10", "ema_30", "macd",
    "macd_signal", "macd_histogram", "rsi_14", "ts_create_utc",
    "year", "month", "day",
]


def _plan_nodes(plan: str, node: str) -> int:
    return sum(1 for ln in plan.splitlines() if ln.lstrip(" :+-").startswith(node))


def test_indicator_mart_end_to_end(spark, sf_dir, tmp_path, monkeypatch):
    from crypto_prediction_etl_spark.plans import pipeline
    from crypto_prediction_etl_spark.plans.indicators_q import _with_volume

    candles = _with_volume(spark, sf_dir)
    mart = os.path.join(tmp_path, "indicator_mart")
    reloaded = []
    write = pipeline.reload_window

    def spy(df, path, *args, **kwargs):
        reloaded.append(df)
        write(df, path, *args, **kwargs)

    monkeypatch.setattr(pipeline, "reload_window", spy)
    checked = []
    unique = pipeline.check_unique

    def check_spy(df, cols):
        checked.append(df)
        return unique(df, cols)

    monkeypatch.setattr(pipeline, "check_unique", check_spy)

    report = run_indicator_mart(
        spark,
        candles,
        mart,
        lookback_days=120,
        update_days=30,
        small_ids=["5-LOW"],
    )
    assert report.passed, [c for c in report.checks if not c.passed]
    out = spark.read.parquet(mart)
    # full indicator contract, in the mart's column order
    assert out.columns == MART_COLUMNS
    # lean reload plan: max(dt) joined once for both windows, and the
    # window stages collapse to at most 4 Window operators
    qe = reloaded[0]._jdf.queryExecution()
    assert _plan_nodes(qe.analyzed().toString(), "Join") == 1
    assert _plan_nodes(qe.optimizedPlan().toString(), "Window") <= 4
    # the checks read only the partitions this run rewrote
    checked[0].count()
    scan = checked[0]._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in scan and "PartitionFilters: []" not in scan, scan
    # only the trailing update window was written
    span = out.agg(
        F.datediff(F.max("dt"), F.min("dt")).alias("d")
    ).first().d
    assert span <= 30
    # N_multiple applied
    assert out.filter("id = '5-LOW'").select("n_multiple").first().n_multiple == 1000.0
    # rows_written counts the rows this run wrote (into an empty mart here)
    n1 = out.count()
    assert report.rows_written == n1 > 0

    # idempotent re-run: the mart keeps its row count and no (id, dt) repeats
    report2 = run_indicator_mart(
        spark, candles, mart, lookback_days=120, update_days=30, small_ids=["5-LOW"]
    )
    assert report2.passed
    assert report2.rows_written == n1
    again = spark.read.parquet(mart)
    assert again.count() == n1
    assert again.groupBy("id", "dt").count().filter("count > 1").count() == 0


@pytest.mark.parametrize("fault", ["duplicate_key", "null_close"])
def test_checks_catch_a_faulty_reload(spark, sf_dir, tmp_path, monkeypatch, fault):
    """The partition-pruned checks still see what a broken writer left
    in the rewritten partitions: one repeated (id, dt) row, or a NULL
    close."""
    from crypto_prediction_etl_spark.plans import pipeline
    from crypto_prediction_etl_spark.plans.indicators_q import _with_volume

    write = pipeline.reload_window

    def faulty(df, path, *args, **kwargs):
        if fault == "null_close":
            df = df.withColumn(
                "close", F.when(F.col("id") != "5-LOW", F.col("close"))
            )
        write(df, path, *args, **kwargs)
        if fault == "duplicate_key":
            spark.read.parquet(path).limit(1).write.mode("append").partitionBy(
                "year", "month", "day"
            ).parquet(path)

    monkeypatch.setattr(pipeline, "reload_window", faulty)
    report = run_indicator_mart(
        spark, _with_volume(spark, sf_dir), os.path.join(tmp_path, "mart"),
        lookback_days=120, update_days=30,
    )
    assert not report.passed
    failed = [c.name for c in report.checks if not c.passed]
    assert failed == (
        ["unique:id,dt"] if fault == "duplicate_key" else ["not_null:id,dt,close"]
    )


def test_lookback_warmup_matches_bounded_scan(spark, sf_dir, tmp_path):
    """Indicators computed over the lookback window must equal a direct
    computation on the same bounded frame (the reference's 3-month scan
    semantics) — guards against accidental full-history leakage."""
    from crypto_prediction_etl_spark.operators.indicators import indicator_frame
    from crypto_prediction_etl_spark.plans.indicators_q import _with_volume

    candles = _with_volume(spark, sf_dir)
    mart = os.path.join(tmp_path, "mart2")
    run_indicator_mart(spark, candles, mart, lookback_days=90, update_days=10)

    mx = candles.agg(F.max("dt")).first()[0]
    bounded = candles.filter(F.col("dt") >= F.date_sub(F.lit(mx), 90)).withColumn(
        "n_multiple", F.lit(1.0)
    )
    direct = indicator_frame(bounded).filter(
        F.col("dt") >= F.date_sub(F.lit(mx), 10)
    )
    got = {
        (r.id, r.dt): r.sma_30
        for r in spark.read.parquet(mart).select("id", "dt", "sma_30").collect()
    }
    for r in direct.select("id", "dt", "sma_30").collect():
        want = r.sma_30
        have = got[(r.id, r.dt)]
        if want is None:
            assert have is None
        else:
            assert have == pytest.approx(want, rel=1e-12)


def test_csv_bootstrap_with_empty_string_filter(spark, tmp_path):
    """S7 CSV external-table bootstrap + P9 empty-string filter
    (reference: init_insert_crypto_candles_past_from_csv.sql:47)."""
    csv_dir = os.path.join(tmp_path, "csv_in")
    os.makedirs(csv_dir)
    with open(os.path.join(csv_dir, "candles.csv"), "w") as f:
        f.write("id,open,close,ts\n")
        f.write("BTC_USDT,100.5,101.0,2024-01-01 00:00:00\n")
        f.write("BTC_USDT,,101.5,2024-01-02 00:00:00\n")  # empty open -> dropped
        f.write("ETH_USDT,20.0,21.0,2024-01-02 00:00:00\n")
    df = csv_bootstrap(
        spark,
        csv_dir,
        schema="id string, open string, close string, ts timestamp",
    )
    cleaned = (
        df.filter((F.col("open").isNotNull()) & (F.col("open") != ""))
        .withColumn("open", F.col("open").cast("float"))
        .withColumn("close", F.col("close").cast("float"))
        .withColumn("ts_create_utc", F.col("ts"))
    )
    out = os.path.join(tmp_path, "bootstrapped")
    write_partitioned(add_partition_cols(cleaned), out)
    got = spark.read.parquet(out)
    assert got.count() == 2
    assert os.path.isdir(os.path.join(out, "year=2024", "month=1", "day=1"))


def test_corpus_curation_end_to_end(spark, tmp_path):
    """Full curation flow: exact + near-dup dedup -> split -> lang/split
    partitioned layout; duplicates are gone, canonicals survive, reruns
    are idempotent, and the written layout partition-prunes."""
    import os

    from pyspark.sql import functions as F

    from crypto_prediction_etl_spark.plans.curation import curate_corpus
    from crypto_prediction_etl_spark.sources.readers import table

    sf_dir = "/root/testdata/sf0.01"
    out = str(tmp_path / "curated")
    kept = curate_corpus(spark, sf_dir, out)
    docs = table(spark, sf_dir, "documents")

    n_docs = docs.count()
    back = spark.read.parquet(out)
    n_kept = back.count()
    assert 0 < n_kept < n_docs  # fixtures contain dups by construction
    # exact-dup elimination: fingerprints are unique post-curation
    fp = F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")))
    assert back.select(fp.alias("f")).distinct().count() == n_kept
    # partition layout: lang=*/split=* directories exist
    langs = [d for d in os.listdir(out) if d.startswith("lang=")]
    assert langs
    splits = os.listdir(os.path.join(out, langs[0]))
    assert any(s.startswith("split=") for s in splits)
    # every kept doc_id unique
    assert back.select("doc_id").distinct().count() == n_kept
    # idempotent rerun (overwrite mode); re-read — the old frame's file
    # listing is stale after the overwrite
    curate_corpus(spark, sf_dir, out)
    assert spark.read.parquet(out).count() == n_kept
