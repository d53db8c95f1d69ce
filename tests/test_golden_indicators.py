"""Golden-value parity for the indicator family (VERDICT r3 item 7).

The reference computes its indicator columns with the C#-backed
``stock_indicators`` library under the parameterization in
``modules/common/calculate_market_indicators.py:29-54`` (MACD 12/26/9,
Bollinger 20/2, Ichimoku 9/26/52, Stoch 14/3/3, RSI 14, OBV, Aroon 25,
SMA/EMA 5/10/30).  That library is not in this container, so golden
values were generated ONCE by a third, from-scratch pure-Python
implementation written directly from the library's published
algorithms (Skender.Stock.Indicators docs: EMA seeded with the SMA of
the first n values; Wilder RSI with simple-mean seed; slow stochastic
%K = SMA3 of raw %K, %D = SMA3 of %K; population stddev Bollinger;
Aroon over the trailing n+1 bars with ties to the most recent extreme;
Ichimoku senkou spans shifted 26 ahead) — independent of BOTH the
Spark operators and the pandas cross-check in
tests/test_indicators_pandas.py — and pinned here as literals.

Fixture series: ``plans/indicators_q._with_volume`` symbol '1-URGENT'
at sf0.001 (261 daily bars, 1995-01-06..2001-07-30; row-based windows,
so sparse calendar dates are immaterial), close = avg(o_totalprice),
volume = integer-cents-exact sum / 100.  Two probe rows: mid-series
(1998-04-24, warm-up long past for every window incl. Ichimoku's
52+26) and the final bar (2001-07-30).  The parity table lives in
FIXTURES.md ("stock_indicators golden parity").
"""

from __future__ import annotations

import math

import pytest


# (dt, column) -> golden value from the from-scratch generator.
GOLDEN = {
    "1998-04-24": {
        "sma_5": 133642.404,
        "sma_10": 140039.194,
        "sma_30": 192442.9356666667,
        "ema_5": 136580.84904742468,
        "ema_10": 141998.20913005125,
        "ema_30": 172366.20968258794,
        "macd": -22312.619570360723,
        "macd_signal": -19575.221332522382,
        "macd_histogram": -2737.3982378383407,
        "rsi_14": 48.53996737011748,
        "bb_sma": 182406.78499999997,
        "bb_upper": 462829.7189698706,
        "bb_lower": -98016.14896987064,
        "stoch_k": 31.19246913278226,
        "stoch_d": 30.1760872815487,
        "tenkan_sen": 103954.79000000001,
        "kijun_sen": 233350.39500000002,
        "senkou_span_a": 233841.34749999997,
        "senkou_span_b": 241094.73,
        "aroon_up": 24.0,
        "aroon_down": 76.0,
        "obv": 8476001.56,
    },
    "2001-07-30": {
        "sma_5": 263738.716,
        "sma_10": 266439.435,
        "sma_30": 273417.00933333335,
        "ema_5": 276096.76639961667,
        "ema_10": 264193.3993341521,
        "ema_30": 265047.8197891796,
        "macd": -1346.8120518922806,
        "macd_signal": -7785.23688105633,
        "macd_histogram": 6438.42482916405,
        "rsi_14": 51.87801059454244,
        "bb_sma": 254247.36549999999,
        "bb_upper": 519579.64362767607,
        "bb_lower": -11084.912627676124,
        "stoch_k": 43.53848811717754,
        "stoch_d": 46.26245233077785,
        "tenkan_sen": 249723.205,
        "kijun_sen": 260749.505,
        "senkou_span_a": 247155.285,
        "senkou_span_b": 247155.285,
        "aroon_up": 32.0,
        "aroon_down": 92.0,
        "obv": 17246668.75999999,
    },
}

REL_TOL = 1e-9  # same formulas, different accumulation engines


@pytest.fixture(scope="module")
def probe_rows(spark, sf_dir):
    from crypto_prediction_etl_spark.operators.indicators import (
        indicator_frame,
    )
    from crypto_prediction_etl_spark.plans.indicators_q import _with_volume

    ind = indicator_frame(_with_volume(spark, sf_dir)).filter(
        "id = '1-URGENT' AND dt IN (DATE'1998-04-24', DATE'2001-07-30')"
    )
    return {str(r.dt): r.asDict() for r in ind.collect()}


@pytest.mark.parametrize("dt", sorted(GOLDEN))
def test_golden_parity(probe_rows, dt):
    row = probe_rows[dt]
    bad = []
    for col, want in GOLDEN[dt].items():
        got = row[col]
        if got is None or not math.isclose(got, want, rel_tol=REL_TOL):
            bad.append((col, got, want))
    assert not bad, bad
