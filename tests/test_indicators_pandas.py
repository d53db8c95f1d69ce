"""Indicator semantics cross-check vs an INDEPENDENT pandas formulation
(SURVEY §5: golden values from a second implementation, tolerance-based).

The oracle-parity tests prove Spark == DuckDB on the same formulas; this
file proves the formulas themselves are the standard definitions, using
pandas' own rolling/ewm machinery (not our kernels)."""

from __future__ import annotations

from functools import reduce
from operator import or_

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crypto_prediction_etl_spark.operators import indicators as ind
from crypto_prediction_etl_spark.operators.indicators import (
    indicator_frame,
    with_window_indicators,
)


@pytest.fixture(scope="module")
def spark_ind(spark, sf_dir):
    from crypto_prediction_etl_spark.plans.indicators_q import _with_volume

    c = _with_volume(spark, sf_dir)
    out = indicator_frame(with_window_indicators(c).select(c.columns))
    # single symbol, ordered — enough for formula verification
    pdf = (
        with_window_indicators(c)
        .filter("id = '1-URGENT'")
        .orderBy("dt")
        .toPandas()
    )
    rec = (
        indicator_frame(c).filter("id = '1-URGENT'").orderBy("dt").toPandas()
    )
    return pdf, rec


def test_sma_matches_pandas_rolling(spark_ind):
    pdf, _ = spark_ind
    for n in (5, 10, 30):
        expected = pdf["close"].rolling(n).mean()
        got = pdf[f"sma_{n}"]
        assert np.allclose(got.fillna(-1), expected.fillna(-1), rtol=1e-9)


def test_bollinger_matches_pandas(spark_ind):
    pdf, _ = spark_ind
    mid = pdf["close"].rolling(20).mean()
    sd = pdf["close"].rolling(20).std(ddof=0)  # population stddev
    assert np.allclose(pdf["bb_sma"].fillna(-1), mid.fillna(-1), rtol=1e-9)
    assert np.allclose(pdf["bb_upper"].fillna(-1), (mid + 2 * sd).fillna(-1), rtol=1e-9)
    assert np.allclose(pdf["bb_lower"].fillna(-1), (mid - 2 * sd).fillna(-1), rtol=1e-9)


def test_obv_matches_independent(spark_ind):
    pdf, _ = spark_ind
    sign = np.sign(pdf["close"].diff().fillna(0.0))
    expected = (sign * pdf["volume"]).cumsum()
    assert np.allclose(pdf["obv"], expected, rtol=1e-9)


def test_stochastic_matches_independent(spark_ind):
    pdf, _ = spark_ind
    lo = pdf["low"].rolling(14).min()
    hi = pdf["high"].rolling(14).max()
    raw = np.where(hi != lo, (pdf["close"] - lo) / (hi - lo) * 100.0, 50.0)
    raw = pd.Series(raw).where(~lo.isna())
    k = raw.rolling(3).mean()
    d = k.rolling(3).mean()
    assert np.allclose(pdf["stoch_k"].fillna(-1), k.fillna(-1), rtol=1e-9)
    assert np.allclose(pdf["stoch_d"].fillna(-1), d.fillna(-1), rtol=1e-9)


def test_ichimoku_shifts(spark_ind):
    pdf, _ = spark_ind
    tenkan = (pdf["high"].rolling(9).max() + pdf["low"].rolling(9).min()) / 2
    kijun = (pdf["high"].rolling(26).max() + pdf["low"].rolling(26).min()) / 2
    senkou_a = ((tenkan + kijun) / 2).shift(26)
    senkou_b = (
        (pdf["high"].rolling(52).max() + pdf["low"].rolling(52).min()) / 2
    ).shift(26)
    chikou = pdf["close"].shift(-26)
    assert np.allclose(pdf["senkou_span_a"].fillna(-1), senkou_a.fillna(-1), rtol=1e-9)
    assert np.allclose(pdf["senkou_span_b"].fillna(-1), senkou_b.fillna(-1), rtol=1e-9)
    assert np.allclose(pdf["chikou_span"].fillna(-1), chikou.fillna(-1), rtol=1e-9)


def test_aroon_matches_independent(spark_ind):
    pdf, _ = spark_ind
    n = 25
    highs = pdf["high"].to_numpy()
    lows = pdf["low"].to_numpy()
    up = np.full(len(pdf), np.nan)
    down = np.full(len(pdf), np.nan)
    for i in range(n, len(pdf)):
        wh = highs[i - n : i + 1]
        wl = lows[i - n : i + 1]
        # latest occurrence of the extreme
        since_max = n - max(np.flatnonzero(wh == wh.max()))
        since_min = n - max(np.flatnonzero(wl == wl.min()))
        up[i] = (n - since_max) / n * 100.0
        down[i] = (n - since_min) / n * 100.0
    assert np.allclose(pd.Series(pdf["aroon_up"]).fillna(-1), pd.Series(up).fillna(-1))
    assert np.allclose(
        pd.Series(pdf["aroon_down"]).fillna(-1), pd.Series(down).fillna(-1)
    )


def test_ema_seeding_and_recursion(spark_ind):
    _, rec = spark_ind
    close = rec["close"]
    for n in (5, 10, 30):
        got = rec[f"ema_{n}"]
        # SMA seed at row n
        assert np.isnan(got.iloc[: n - 1]).all()
        assert got.iloc[n - 1] == pytest.approx(close.iloc[:n].mean(), rel=1e-12)
        # recursion: ema_t = a*x_t + (1-a)*ema_{t-1}
        a = 2.0 / (n + 1)
        expected = a * close.iloc[n] + (1 - a) * got.iloc[n - 1]
        assert got.iloc[n] == pytest.approx(expected, rel=1e-12)
        # spot check deep into the series against a full recompute
        ema = close.iloc[:n].mean()
        for t in range(n, len(close)):
            ema = a * close.iloc[t] + (1 - a) * ema
        assert got.iloc[-1] == pytest.approx(ema, rel=1e-9)


def test_macd_is_ema_diff(spark_ind):
    _, rec = spark_ind
    macd = rec["macd"]
    assert np.isnan(macd.iloc[:25]).all()
    # recompute ema12/ema26 independently
    close = rec["close"]

    def ema(series, n):
        a = 2.0 / (n + 1)
        e = series.iloc[:n].mean()
        out = [np.nan] * (n - 1) + [e]
        for t in range(n, len(series)):
            e = a * series.iloc[t] + (1 - a) * e
            out.append(e)
        return pd.Series(out)

    expected = ema(close, 12) - ema(close, 26)
    assert np.allclose(macd.fillna(-1), expected.fillna(-1), rtol=1e-9)


def test_rsi_bounds_and_wilder(spark_ind):
    _, rec = spark_ind
    rsi = rec["rsi_14"]
    assert np.isnan(rsi.iloc[:14]).all()
    valid = rsi.dropna()
    assert ((valid >= 0) & (valid <= 100)).all()
    # independent Wilder recompute
    close = rec["close"]
    delta = close.diff()
    gain, loss = delta.clip(lower=0), (-delta).clip(lower=0)
    ag = gain.iloc[1:15].mean()
    al = loss.iloc[1:15].mean()
    vals = {14: 100.0 - 100.0 / (1.0 + ag / al) if al else 100.0}
    for i in range(15, len(close)):
        ag = (ag * 13 + gain.iloc[i]) / 14
        al = (al * 13 + loss.iloc[i]) / 14
        vals[i] = 100.0 if al == 0 else 100.0 - 100.0 / (1.0 + ag / al)
    assert rsi.iloc[len(close) - 1] == pytest.approx(vals[len(close) - 1], rel=1e-9)


def test_heikin_ashi_matches_independent(spark):
    """ha recursion vs a direct pandas replay on a hand-made series,
    including the (open_1+close_1)/2 seed and extreme envelopes."""
    import pandas as pd

    from crypto_prediction_etl_spark.operators.indicators import heikin_ashi

    rows = []
    vals = [(10.0, 12.0, 9.0, 11.0), (11.0, 15.0, 10.5, 14.0),
            (14.0, 14.5, 12.0, 12.5), (12.5, 13.0, 11.0, 11.5),
            (11.5, 18.0, 11.4, 17.0)]
    for d, (o, h, lo, c) in enumerate(vals, 1):
        rows.append(("X", f"2024-01-{d:02d}", o, h, lo, c))
    df = spark.createDataFrame(
        rows, "id string, dt string, open double, high double, low double, close double"
    ).withColumn("dt", __import__("pyspark.sql.functions", fromlist=["F"]).to_date("dt"))
    got = {str(r.dt): r for r in heikin_ashi(df).collect()}

    ha_o, ha_c = None, None
    for d, (o, h, lo, c) in enumerate(vals, 1):
        hc = (o + h + lo + c) / 4.0
        ho = (o + c) / 2.0 if ha_o is None else (ha_o + ha_c) / 2.0
        ha_o, ha_c = ho, hc
        r = got[f"2024-01-{d:02d}"]
        assert abs(r.ha_open - ho) < 1e-12
        assert abs(r.ha_close - hc) < 1e-12
        assert abs(r.ha_high - max(h, ho, hc)) < 1e-12
        assert abs(r.ha_low - min(lo, ho, hc)) < 1e-12


def test_adx_bounds_and_warmup(spark, sf_dir):
    """ADX family invariants: +DI/-DI/ADX in [0,100], ATR > 0, and the
    warm-up contract (first emitted row at the 27th delta bar)."""
    from crypto_prediction_etl_spark.operators.indicators import adx
    from crypto_prediction_etl_spark.plans.indicators_q import candles

    out = (
        adx(candles(spark, sf_dir))
        .filter("id = '1-URGENT'")
        .orderBy("dt")
        .toPandas()
    )
    emitted = out.dropna(subset=["adx"])
    assert len(emitted) == len(out) - 27  # bar 0 has no TR; ADX from bar 27
    assert (emitted["atr"] > 0).all()
    for c in ("plus_di", "minus_di", "adx"):
        assert emitted[c].between(0.0, 100.0).all(), c
    # DI defined from bar 14 even before ADX exists
    di_rows = out.dropna(subset=["plus_di"])
    assert len(di_rows) == len(out) - 14


def test_trix_matches_pandas_triple_ewm(spark, sf_dir):
    """TRIX vs an independent pandas triple-EWM (SMA-seeded) chain."""
    from crypto_prediction_etl_spark.operators.indicators import trix
    from crypto_prediction_etl_spark.plans.indicators_q import candles

    out = (
        trix(candles(spark, sf_dir))
        .filter("id = '1-URGENT'")
        .orderBy("dt")
        .toPandas()
    )
    close = out["close"].astype("float64")

    def ema_sma_seed(x: pd.Series, n: int = 15) -> pd.Series:
        vals = x.to_numpy(dtype="float64")
        res = np.full(len(vals), np.nan)
        # positions of non-nan inputs
        idx = np.flatnonzero(~np.isnan(vals))
        if len(idx) >= n:
            a = 2.0 / (n + 1.0)
            prev = vals[idx[:n]].mean()
            res[idx[n - 1]] = prev
            for j in idx[n:]:
                prev = a * vals[j] + (1 - a) * prev
                res[j] = prev
        return pd.Series(res, index=x.index)

    e3 = ema_sma_seed(ema_sma_seed(ema_sma_seed(close)))
    expect = 100.0 * (e3 / e3.shift(1) - 1.0)
    got = out["trix"].astype("float64")
    mask = ~expect.isna() & ~got.isna()
    assert mask.sum() > 100
    assert np.allclose(got[mask], expect[mask], rtol=1e-9, atol=1e-9)
    # warm-up: first trix at bar 44 (1-based), i.e. 43 leading NaNs
    assert got.isna().sum() == 43


def test_kalman_gain_anneals_monotonically(spark, sf_dir):
    """Kalman invariants: gain starts near 1 (diffuse prior), decreases
    monotonically to the steady state, and the level tracks the data
    more tightly than a wide EMA."""
    from crypto_prediction_etl_spark.operators.indicators import (
        KALMAN_Q,
        KALMAN_R,
        kalman_level,
    )
    from crypto_prediction_etl_spark.plans.indicators_q import candles

    out = (
        kalman_level(candles(spark, sf_dir))
        .filter("id = '1-URGENT'")
        .orderBy("dt")
        .toPandas()
    )
    g = out["kalman_gain"].dropna().to_numpy()
    assert g[0] > 0.99  # diffuse start
    assert (np.diff(g) <= 1e-12).all()  # anneals downward
    # steady-state gain for the local-level model
    q, r = KALMAN_Q, KALMAN_R
    k_ss = ((q + np.sqrt(q * q + 4 * q * r)) / 2) / (
        (q + np.sqrt(q * q + 4 * q * r)) / 2 + r
    )
    assert abs(g[-1] - k_ss) < 0.01


_KERNEL_COLS = [
    ("with_recursive_indicators", ind.RECURSIVE_COLS),
    ("holt_linear", ["holt_level", "holt_trend", "holt_forecast"]),
    ("heikin_ashi", ["ha_open", "ha_high", "ha_low", "ha_close"]),
    ("adx", ["atr", "plus_di", "minus_di", "adx"]),
    ("trix", ["ema3", "trix"]),
    ("kalman_level", ["kalman_level", "kalman_gain"]),
    ("ewma_volatility", ["ret", "ewma_var"]),
    ("holt_winters_additive", ["hw_level", "hw_trend", "hw_season", "hw_forecast"]),
    ("garch_filter", ["ret", "garch_var"]),
]


def _ohlc_rows():
    """Two ids: 'A' with 60 bars (past every kernel's warm-up) and 'B'
    with a single bar."""
    import datetime as dt
    import math

    rows = []
    prev = 100.0
    for i in range(60):
        close = 100.0 + 10.0 * math.sin(i / 5.0) + 0.3 * i
        rows.append(
            ("A", dt.date(2024, 1, 1) + dt.timedelta(days=i), prev,
             close + 1.5 + 0.2 * (i % 3), close - 1.2 - 0.1 * (i % 4), close)
        )
        prev = close
    rows.append(("B", dt.date(2024, 1, 1), 5.0, 5.5, 4.5, 5.2))
    return rows


@pytest.mark.parametrize("name, cols", _KERNEL_COLS, ids=[k for k, _ in _KERNEL_COLS])
def test_per_id_kernel_schema_and_sort(spark, name, cols):
    """Every recursive kernel: output = input columns + its own columns
    as doubles, in order; rows fed in reverse dt order, or in Arrow
    batches that split an id, give the same values as sorted rows; a
    single-row id runs without error; warm-up rows are NULL, not NaN."""
    schema = "id string, dt date, open double, high double, low double, close double"
    rows = _ohlc_rows()
    fn = getattr(ind, name)
    fwd = fn(spark.createDataFrame(rows, schema))
    rev = fn(spark.createDataFrame(rows[::-1], schema))

    in_cols = ["id", "dt", "open", "high", "low", "close"]
    assert fwd.columns == in_cols + cols
    types = dict(fwd.dtypes)
    assert all(types[c] == "double" for c in cols)

    def ordered(df):
        return df.toPandas().sort_values(["id", "dt"]).reset_index(drop=True)

    got_fwd, got_rev = ordered(fwd), ordered(rev)
    assert (got_fwd["id"] == "B").sum() == 1
    pd.testing.assert_frame_equal(got_fwd, got_rev)

    # 7-row Arrow batches split id 'A' across batches: the same frame
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got_split = ordered(fn(spark.createDataFrame(rows, schema)))
    finally:
        spark.conf.set(key, default)
    pd.testing.assert_frame_equal(got_fwd, got_split)

    # a kernel's NaN reaches Spark as SQL NULL, never as a NaN value
    assert fwd.filter(reduce(or_, [F.isnan(c) for c in cols])).count() == 0
    if name == "with_recursive_indicators":
        ema = fwd.filter("id = 'A'").orderBy("dt").select("ema_30").collect()
        assert [r.ema_30 for r in ema[:29]] == [None] * 29
        assert ema[29].ema_30 is not None
