"""Technical-indicator engine (SURVEY §2.5 W4-W13).

The reference computes ~26 indicator columns per symbol/day by collecting
each symbol to the driver and calling the C#-backed `stock_indicators`
library row-recursively (reference:
airflow/etl_scripts/pyspark/D_Create_crypto_ind_day_001.py:52-197,
parameterization modules/common/calculate_market_indicators.py:29-54).

Spark-first re-expression:

- Everything frame-bounded (SMA, Bollinger, stochastic, Ichimoku, Aroon,
  OBV, ROC) is a plain window expression — JVM-side, whole-stage
  codegen, one shuffle on (id) shared by every window.
- The genuinely recursive smoothers (EMA, MACD signal, Wilder RSI, and
  the Holt, Heikin-Ashi, ADX, TRIX, Kalman, EWMA, Holt-Winters and
  GARCH family) run through one runner, `_per_id` — the kernel law:
  one id-shuffle, rows sorted by (id, dt) within each partition, and
  one partition-streaming ``mapInPandas`` kernel that cuts the Arrow
  batches at id boundaries and calls ``step`` once per id, O(rows) per
  key. It is the idiomatic replacement for the reference's driver
  loop: same math, executed in parallel per symbol on executors via
  Arrow batches. Each indicator supplies only its recursion as a
  ``step`` function.

Seeding conventions (pinned, matching stock_indicators):
- SMA_n / Bollinger / stochastic / Aroon / Ichimoku midpoints: defined
  only once n rows exist (null before).
- EMA_n: seeded with SMA of the first n values at row n; recursive
  ``ema_t = alpha*x_t + (1-alpha)*ema_{t-1}`` after (alpha = 2/(n+1)).
- MACD(12,26,9): macd = ema12 - ema26 (from row 26); signal = EMA_9 of
  the macd series, SMA-seeded over its first 9 values (from row 34).
- RSI(14): Wilder — first average gain/loss = SMA of the first 14
  deltas (row 15); then ``avg = (prev*13 + cur)/14``; RSI=100 when the
  average loss is zero.

At scale: one hash shuffle on id; skewed symbols are bounded because
every kernel is O(rows-per-symbol); the pandas kernel holds one id's
series plus one Arrow batch, never the whole partition.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Window-expressible indicators
# ---------------------------------------------------------------------------


def _w():
    return W.partitionBy("id").orderBy("dt")


def _guarded(expr, n: int, w):
    """Null until the window actually holds n rows (indicator warm-up)."""
    return F.when(F.count("close").over(w.rowsBetween(-(n - 1), 0)) >= n, expr)


def sma(n: int):
    w = _w()
    return _guarded(F.avg("close").over(w.rowsBetween(-(n - 1), 0)), n, w)


def bollinger(n: int = 20, k: float = 2.0):
    """(sma, upper, lower) with population stddev (stock_indicators
    convention, reference: calculate_market_indicators.py:34-36)."""
    w = _w()
    frame = w.rowsBetween(-(n - 1), 0)
    mid = _guarded(F.avg("close").over(frame), n, w)
    sd = _guarded(F.stddev_pop("close").over(frame), n, w)
    return mid, mid + k * sd, mid - k * sd


def obv():
    """On-balance volume: cumulative signed volume (reference:
    calculate_market_indicators.py:44)."""
    w = _w()
    delta = F.col("close") - F.lag("close", 1).over(w)
    signed = F.when(delta > 0, F.col("volume")).when(
        delta < 0, -F.col("volume")
    ).otherwise(F.lit(0.0))
    # first row of each id: no previous close -> contributes 0
    signed = F.coalesce(signed, F.lit(0.0))
    return F.sum(signed).over(w.rowsBetween(W.unboundedPreceding, 0))


def stochastic():
    """Raw %K over 14 rows (reference: calculate_market_indicators.py:40-42,
    output cols D_Create_crypto_ind_day_001.py:100-102,130-132).

    `with_window_indicators` composes the rest over two more selects:
    %K = SMA(3) of raw %K, %D = SMA(3) of %K, %J = 3K - 2D.
    """
    n = 14
    w = _w()
    frame = w.rowsBetween(-(n - 1), 0)
    lo = F.min("low").over(frame)
    hi = F.max("high").over(frame)
    raw_k = _guarded(
        F.when(hi != lo, (F.col("close") - lo) / (hi - lo) * 100.0).otherwise(50.0),
        n,
        w,
    )
    return raw_k


def ichimoku_midpoint(n: int):
    """(max(high,n)+min(low,n))/2 — tenkan/kijun/senkou-B building block
    (reference: calculate_market_indicators.py:37-39)."""
    w = _w()
    frame = w.rowsBetween(-(n - 1), 0)
    return _guarded((F.max("high").over(frame) + F.min("low").over(frame)) / 2.0, n, w)


def aroon(n: int = 25):
    """(aroon_up, aroon_down): 100 * (n - periods-since-extreme) / n over
    the last n+1 rows; ties resolve to the most recent occurrence
    (reference: calculate_market_indicators.py:45).

    periods-since-extreme via `max_by`/`min_by` window aggregates on a
    (value, rn) struct — single pass, no self-join.
    """
    w = _w()
    frame = w.rowsBetween(-n, 0)
    rn = F.row_number().over(w)
    # struct comparison orders by high first, then rn -> latest max wins
    since_max = rn - F.expr("max_by(_aroon_rn, struct(high, _aroon_rn))").over(frame)
    since_min = rn - F.expr(
        "min_by(_aroon_rn, struct(low, -_aroon_rn))"
    ).over(frame)
    guard = F.count("close").over(frame) >= (n + 1)
    up = F.when(guard, (F.lit(n) - since_max) / F.lit(n) * 100.0)
    down = F.when(guard, (F.lit(n) - since_min) / F.lit(n) * 100.0)
    return rn, up, down


def with_window_indicators(candles: DataFrame) -> DataFrame:
    """Add every frame-bounded indicator column to a candle frame
    (id, dt, high, low, close, volume). One shuffle on id; all windows
    share the (id, dt) sort."""
    w = _w()

    df = candles.withColumn("_aroon_rn", F.row_number().over(w))

    # stage 1: raw building blocks
    raw_k = stochastic()
    mid20, upper, lower = bollinger(20, 2.0)
    rn, aroon_up, aroon_down = aroon(25)
    df = df.select(
        "*",
        sma(5).alias("sma_5"),
        sma(10).alias("sma_10"),
        sma(30).alias("sma_30"),
        mid20.alias("bb_sma"),
        upper.alias("bb_upper"),
        lower.alias("bb_lower"),
        obv().alias("obv"),
        raw_k.alias("_raw_k"),
        ichimoku_midpoint(9).alias("tenkan_sen"),
        ichimoku_midpoint(26).alias("kijun_sen"),
        ichimoku_midpoint(52).alias("_senkou_b_raw"),
        aroon_up.alias("aroon_up"),
        aroon_down.alias("aroon_down"),
    )

    # stage 2: compositions over stage-1 columns; senkou spans plotted 26
    # ahead, chikou 26 behind (SURVEY hard part 2); obv_sma is SMA(10) of
    # OBV (reference W9 optional output)
    k_frame = w.rowsBetween(-2, 0)
    obv_frame = w.rowsBetween(-9, 0)
    df = df.select(
        "*",
        F.when(F.count("_raw_k").over(k_frame) >= 3, F.avg("_raw_k").over(k_frame))
        .alias("stoch_k"),
        F.lag((F.col("tenkan_sen") + F.col("kijun_sen")) / 2.0, 26)
        .over(w)
        .alias("senkou_span_a"),
        F.lag("_senkou_b_raw", 26).over(w).alias("senkou_span_b"),
        F.lead("close", 26).over(w).alias("chikou_span"),
        (F.col("aroon_up") - F.col("aroon_down")).alias("aroon_oscillator"),
        F.when(F.count("obv").over(obv_frame) >= 10, F.avg("obv").over(obv_frame))
        .alias("obv_sma"),
    )

    # stage 3: %D = SMA(3) of %K and %J = 3K - 2D, placed right after %K
    stoch_d = F.when(
        F.count("stoch_k").over(k_frame) >= 3, F.avg("stoch_k").over(k_frame)
    )
    keep = [c for c in df.columns if c not in ("_raw_k", "_senkou_b_raw", "_aroon_rn")]
    k = keep.index("stoch_k") + 1
    return df.select(
        *keep[:k],
        stoch_d.alias("stoch_d"),
        (3.0 * F.col("stoch_k") - 2.0 * stoch_d).alias("stoch_j"),
        *keep[k:],
    )


# ---------------------------------------------------------------------------
# Recursive smoothers — partition-streaming pandas kernels
# ---------------------------------------------------------------------------


def _per_id(
    df: DataFrame, order: tuple[str, ...], cols: list[str], step
) -> DataFrame:
    """Run ``step`` once per key over a partition-streaming pandas kernel.

    ``order`` is the key column followed by the sort columns: the
    indicator kernels pass ``("id", "dt")``. ``repartition(key)`` puts
    each key in one partition (reusing an upstream window stage's
    id-partitioning when there is one) and ``sortWithinPartitions(*order)``
    lines its rows up (the planner drops the sort when the window stage
    already provides that order). ``kernel`` walks the partition's
    Arrow batches, cuts each at key boundaries and calls ``step(pdf)``
    once per key segment, indexed 0..n-1; it returns one array per
    entry of ``cols``. Only the open (last) key's rows carry into the
    next batch, so memory is one key's series plus one batch. The
    output is the input columns plus ``cols`` as doubles. The inner
    function keeps the name ``kernel``: it is the UDF name in the
    analyzed plan.

    A NaN in a kernel's output is SQL NULL in Spark: PySpark's Arrow
    conversion masks pandas ``isnull()``, so warm-up rows compare equal
    to the oracles' NULL and no caller needs a NaN guard."""
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema]
        + [f"{c} double" for c in cols]
    )

    key = order[0]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        """``step`` over each key segment of closed, ``order``-sorted rows."""
        ids = pdf[key].to_numpy()
        edges = [0, *(np.flatnonzero(ids[1:] != ids[:-1]) + 1), len(pdf)]
        out = {c: np.empty(len(pdf)) for c in cols}
        for a, b in zip(edges, edges[1:]):
            for c, vals in zip(cols, step(pdf.iloc[a:b].reset_index(drop=True))):
                out[c][a:b] = np.asarray(vals, dtype="float64")
        return pdf.assign(**out)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: list[pd.DataFrame] = []  # the open key's rows so far
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[key].to_numpy()
            cuts = np.flatnonzero(ids[1:] != ids[:-1]) + 1
            last = cuts[-1] if len(cuts) else 0  # where the open key starts
            if last or (carry and carry[0][key].iat[0] != ids[0]):
                yield run(pd.concat([*carry, pdf.iloc[:last]]))
                carry = []
            carry.append(pdf.iloc[last:])
        if carry:
            yield run(pd.concat(carry))

    return (
        df.repartition(key)
        .sortWithinPartitions(*order)
        .mapInPandas(kernel, schema=out_schema)
    )


def _ema_sma_seed(x: pd.Series, n: int) -> pd.Series:
    """EMA with SMA seed at row n (stock_indicators convention)."""
    vals = x.to_numpy(dtype="float64")
    out = np.full(len(vals), np.nan)
    if len(vals) >= n:
        alpha = 2.0 / (n + 1.0)
        prev = vals[:n].mean()
        out[n - 1] = prev
        for i in range(n, len(vals)):
            prev = alpha * vals[i] + (1.0 - alpha) * prev
            out[i] = prev
    return pd.Series(out, index=x.index, dtype="float64")


def _wilder_rsi(close: pd.Series, n: int = 14) -> pd.Series:
    vals = close.to_numpy(dtype="float64")
    out = np.full(len(vals), np.nan)
    if len(vals) > n:
        delta = np.diff(vals)
        gv = np.clip(delta, 0.0, None)
        lv = np.clip(-delta, 0.0, None)
        avg_gain = gv[:n].mean()
        avg_loss = lv[:n].mean()

        def rsi_of(g: float, l: float) -> float:
            if l == 0.0:
                return 100.0
            return 100.0 - 100.0 / (1.0 + g / l)

        out[n] = rsi_of(avg_gain, avg_loss)
        for i in range(n + 1, len(vals)):
            avg_gain = (avg_gain * (n - 1) + gv[i - 1]) / n
            avg_loss = (avg_loss * (n - 1) + lv[i - 1]) / n
            out[i] = rsi_of(avg_gain, avg_loss)
    return pd.Series(out, index=close.index, dtype="float64")


RECURSIVE_COLS = [
    "ema_5",
    "ema_10",
    "ema_30",
    "macd",
    "macd_signal",
    "macd_histogram",
    "rsi_14",
]


def with_recursive_indicators(candles_or_ind: DataFrame) -> DataFrame:
    """Add EMA/MACD/RSI columns in one per-id kernel.

    Replaces the reference's per-symbol driver collect loop (L1): the
    smoothers run on executors and no data touches the driver."""

    def step(pdf: pd.DataFrame):
        close = pdf["close"].astype("float64")
        macd = _ema_sma_seed(close, 12) - _ema_sma_seed(close, 26)
        macd_valid = macd.dropna()
        signal = pd.Series(float("nan"), index=macd.index, dtype="float64")
        if len(macd_valid) >= 9:
            sig_vals = _ema_sma_seed(macd_valid.reset_index(drop=True), 9)
            signal.loc[macd_valid.index] = sig_vals.to_numpy()
        return (
            _ema_sma_seed(close, 5),
            _ema_sma_seed(close, 10),
            _ema_sma_seed(close, 30),
            macd,
            signal,
            macd - signal,
            _wilder_rsi(close, 14),
        )

    return _per_id(candles_or_ind, ("id", "dt"), RECURSIVE_COLS, step)


def n_multiple_rescale(candles: DataFrame, small_ids: list[str], factor: float = 1000.0) -> DataFrame:
    """W13: rescale tiny-priced ids before indicator math, keeping the
    multiplier as an output column for parity (reference:
    D_Create_crypto_ind_day_001.py:48,60-62,112 — SHIB_USDT x1000)."""
    mult = F.when(F.col("id").isin(small_ids), F.lit(factor)).otherwise(F.lit(1.0))
    prices = [c for c in ("open", "high", "low", "close") if c in candles.columns]
    return candles.withColumns({"n_multiple": mult, **{c: F.col(c) * mult for c in prices}})


def indicator_frame(candles: DataFrame) -> DataFrame:
    """Full 27-column indicator mart frame: window indicators + recursive
    smoothers, one id-shuffle reused by both stages."""
    return with_recursive_indicators(with_window_indicators(candles))


# Holt's linear-trend smoothing constants, bound once so the Python
# kernel and any SQL replay use the IDENTICAL doubles (repr round-trips
# exactly; re-deriving 1-alpha in another engine could round once more).
HOLT_ALPHA = 0.2
HOLT_BETA = 0.1
HOLT_OMA = 1.0 - HOLT_ALPHA
HOLT_OMB = 1.0 - HOLT_BETA


def holt_linear(candles: DataFrame) -> DataFrame:
    """Holt's double exponential smoothing (level + trend) per id —
    the forecasting-grade smoother one step up from EMA: level_t =
    a*x_t + (1-a)*(level+trend), trend_t = b*(level_t - level_prev) +
    (1-b)*trend, initialized level_1 = x_1, trend_1 = 0. Emits the
    smoothed level, the trend, and the one-step-ahead forecast
    (level + trend).

    The recursion is sequential by nature — symbols partition the
    work; the DuckDB oracle replays it as a recursive CTE with the
    exact same float op sequence, so the gate hash-checks a recursive
    stateful operator."""

    def step(pdf: pd.DataFrame):
        x = pdf["close"].astype("float64").to_numpy()
        n = len(x)
        level = np.zeros(n)
        trend = np.zeros(n)
        lvl, tr = float(x[0]), 0.0
        level[0] = lvl
        for t in range(1, n):
            new_l = HOLT_ALPHA * float(x[t]) + HOLT_OMA * (lvl + tr)
            tr = HOLT_BETA * (new_l - lvl) + HOLT_OMB * tr
            lvl = new_l
            level[t], trend[t] = lvl, tr
        return level, trend, level + trend

    return _per_id(
        candles, ("id", "dt"), ["holt_level", "holt_trend", "holt_forecast"], step
    )


def heikin_ashi(candles: DataFrame) -> DataFrame:
    """Heikin-Ashi smoothed candles per id: ha_close = (o+h+l+c)/4
    (rowwise), ha_open_t = (ha_open_{t-1} + ha_close_{t-1})/2 seeded
    with (open_1+close_1)/2, ha_high/ha_low = extremes over the raw
    high/low and the synthetic open/close.  The open recursion makes
    this a genuinely stateful per-key scan (like Holt/EMA).  Expects
    an ``open`` column (for the daily series it derives as the prior
    close); the DuckDB oracle replays the recursion as a recursive CTE
    with the identical float op sequence."""

    def step(pdf: pd.DataFrame):
        o = pdf["open"].astype("float64").to_numpy()
        c = pdf["close"].astype("float64").to_numpy()
        ha_c = (
            o
            + pdf["high"].astype("float64").to_numpy()
            + pdf["low"].astype("float64").to_numpy()
            + c
        ) / 4.0
        ha_o = np.empty(len(c))
        ha_o[0] = (o[0] + c[0]) / 2.0
        for t in range(1, len(c)):
            ha_o[t] = (ha_o[t - 1] + ha_c[t - 1]) / 2.0
        env = [pd.Series(ha_o), pd.Series(ha_c)]
        return (
            ha_o,
            pd.concat([pdf["high"], *env], axis=1).max(axis=1),
            pd.concat([pdf["low"], *env], axis=1).min(axis=1),
            ha_c,
        )

    return _per_id(
        candles, ("id", "dt"), ["ha_open", "ha_high", "ha_low", "ha_close"], step
    )


ADX_N = 14


def adx(candles: DataFrame) -> DataFrame:
    """Wilder's Average Directional Index (ADX-14) per id: true range
    and +/- directional movement per bar, Wilder-smoothed (sum/14 seed
    then (prev*13 + x)/14), +DI/-DI ratios, DX, and ADX as a second
    Wilder smoothing of DX (seeded with the mean of the first 14 DX
    values). Two chained recursions — the deepest stateful operator in
    the family (reference family: calculate_market_indicators.py).
    Every float op is written in the exact sequence the DuckDB
    recursive-CTE oracle replays, so state stays bit-identical across
    engines."""
    n = ADX_N
    nf = float(n)
    nm1 = float(n - 1)

    def step(pdf: pd.DataFrame):
        h = pdf["high"].astype("float64").to_numpy()
        lo = pdf["low"].astype("float64").to_numpy()
        c = pdf["close"].astype("float64").to_numpy()
        m = len(c)
        atr_o = np.full(m, np.nan)
        dip_o = np.full(m, np.nan)
        dim_o = np.full(m, np.nan)
        adx_o = np.full(m, np.nan)
        trsum = pdmsum = mdmsum = 0.0
        atr_s = pdm14 = mdm14 = adx_s = None
        dxcum = 0.0
        for t in range(1, m):
            tr = max(
                float(h[t]) - float(lo[t]),
                abs(float(h[t]) - float(c[t - 1])),
                abs(float(lo[t]) - float(c[t - 1])),
            )
            up = float(h[t]) - float(h[t - 1])
            dn = float(lo[t - 1]) - float(lo[t])
            pdm = up if (up > dn and up > 0.0) else 0.0
            mdm = dn if (dn > up and dn > 0.0) else 0.0
            rn = t  # 1-based count of bars with a previous bar
            if rn < n:
                trsum += tr
                pdmsum += pdm
                mdmsum += mdm
                continue
            if rn == n:
                trsum += tr
                pdmsum += pdm
                mdmsum += mdm
                atr_s = trsum / nf
                pdm14 = pdmsum / nf
                mdm14 = mdmsum / nf
            else:
                atr_s = (atr_s * nm1 + tr) / nf
                pdm14 = (pdm14 * nm1 + pdm) / nf
                mdm14 = (mdm14 * nm1 + mdm) / nf
            dip = 100.0 * pdm14 / atr_s if atr_s > 0.0 else 0.0
            dim = 100.0 * mdm14 / atr_s if atr_s > 0.0 else 0.0
            s = dip + dim
            dx = 100.0 * abs(dip - dim) / s if s > 0.0 else 0.0
            if rn < 2 * n - 1:
                dxcum += dx
            elif rn == 2 * n - 1:
                dxcum += dx
                adx_s = dxcum / nf
            else:
                adx_s = (adx_s * nm1 + dx) / nf
            atr_o[t] = atr_s
            dip_o[t] = dip
            dim_o[t] = dim
            if adx_s is not None:
                adx_o[t] = adx_s
        return atr_o, dip_o, dim_o, adx_o

    return _per_id(candles, ("id", "dt"), ["atr", "plus_di", "minus_di", "adx"], step)


TRIX_N = 15
TRIX_ALPHA = 2.0 / (TRIX_N + 1.0)
TRIX_OMA = 1.0 - TRIX_ALPHA


def trix(candles: DataFrame) -> DataFrame:
    """TRIX(15): 1-bar rate of change of a TRIPLE-smoothed EMA of
    close. Each EMA level uses the family's SMA-seed convention
    (q37/W5): level k seeds with the mean of the first 15 values of
    level k-1, then e = alpha*x + (1-alpha)*e. Three chained
    recursions; trix_t = 100*(e3_t/e3_{t-1} - 1).

    Seeds accumulate SEQUENTIALLY (plain running sum, not np.mean) so
    the DuckDB recursive-CTE oracle replays bit-identical IEEE ops."""
    n = TRIX_N
    nf = float(n)
    a, oma = TRIX_ALPHA, TRIX_OMA

    def step(pdf: pd.DataFrame):
        x = pdf["close"].astype("float64").to_numpy()
        m = len(x)
        e3_o = np.full(m, np.nan)
        trix_o = np.full(m, np.nan)
        s1 = s2 = s3 = 0.0
        e1 = e2 = e3 = None
        for t in range(m):
            rn = t + 1
            v = float(x[t])
            if rn < n:
                s1 += v
                continue
            if rn == n:
                s1 += v
                e1 = s1 / nf
            else:
                e1 = a * v + oma * e1
            k2 = rn - (n - 1)  # 1-based index into the e1 stream
            if k2 < n:
                s2 += e1
                continue
            if k2 == n:
                s2 += e1
                e2 = s2 / nf
            else:
                e2 = a * e1 + oma * e2
            k3 = k2 - (n - 1)
            if k3 < n:
                s3 += e2
                continue
            prev_e3 = e3
            if k3 == n:
                s3 += e2
                e3 = s3 / nf
            else:
                e3 = a * e2 + oma * e3
            e3_o[t] = e3
            if prev_e3 is not None:
                trix_o[t] = 100.0 * (e3 / prev_e3 - 1.0)
        return e3_o, trix_o

    return _per_id(candles, ("id", "dt"), ["ema3", "trix"], step)


KALMAN_Q = 10.0
KALMAN_R = 1000.0
KALMAN_P0 = 1.0e6


def kalman_level(candles: DataFrame) -> DataFrame:
    """Local-level (random-walk-plus-noise) Kalman filter per id:
    predict p += Q, gain K = p/(p+R), update level += K*(x - level),
    p *= (1-K). Level seeds at the first observation with a diffuse
    p0, so the gain starts ~1 (trust data) and anneals to the steady
    state. Every float op runs in the exact order the recursive-CTE
    oracle replays."""

    def step(pdf: pd.DataFrame):
        x = pdf["close"].astype("float64").to_numpy()
        m = len(x)
        lvl_o = np.full(m, np.nan)
        gain_o = np.full(m, np.nan)
        level = float(x[0])
        p = KALMAN_P0
        for t in range(1, m):
            pp = p + KALMAN_Q
            k = pp / (pp + KALMAN_R)
            level = level + k * (float(x[t]) - level)
            p = (1.0 - k) * pp
            lvl_o[t] = level
            gain_o[t] = k
        return lvl_o, gain_o

    return _per_id(candles, ("id", "dt"), ["kalman_level", "kalman_gain"], step)


EWMA_LAMBDA = 0.94  # RiskMetrics decay for daily returns


def _log_returns(x: np.ndarray) -> np.ndarray:
    """Per-row log return (NaN on the first row), one math.log per step
    so both return kernels see the identical doubles."""
    ret = np.full(len(x), np.nan)
    for t in range(1, len(x)):
        ret[t] = math.log(float(x[t]) / float(x[t - 1]))
    return ret


def ewma_volatility(candles: DataFrame, lam: float = EWMA_LAMBDA) -> DataFrame:
    """RiskMetrics exponentially-weighted volatility per id:
    v_t = lam * v_{t-1} + (1-lam) * r_t^2 over daily log returns,
    seeded v_1 = r_1^2; emitted as the annualized sigma
    sqrt(v_t * 365). The industry-standard (J.P. Morgan RiskMetrics
    1996) conditional-volatility estimator: variance itself is the
    recursive EMA state, which no window aggregate expresses. Rows
    before the second observation carry no return and are dropped by
    the caller."""

    def step(pdf: pd.DataFrame):
        ret = _log_returns(pdf["close"].astype("float64").to_numpy())
        var = np.full(len(ret), np.nan)
        for t in range(1, len(ret)):
            r = ret[t]
            v = r * r if t == 1 else lam * v + (1.0 - lam) * r * r
            var[t] = v
        return ret, var

    return _per_id(candles, ("id", "dt"), ["ret", "ewma_var"], step)


HW_ALPHA, HW_BETA, HW_GAMMA, HW_PERIOD = 0.3, 0.1, 0.2, 7


def holt_winters_additive(candles: DataFrame) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing) per id,
    weekly period m=7: level/trend as in Holt (q100) plus a seasonal
    state vector updated one slot per step — the classical seasonal
    forecaster (Winters 1960). Init: level = mean of the first m
    closes, trend = 0, seasonals = first-m deviations from that mean;
    the recursion starts at t = m+1 and earlier rows emit NULLs. The
    kernel carries m extra floats of state per key."""

    def step(pdf: pd.DataFrame):
        m = HW_PERIOD
        x = pdf["close"].astype("float64").to_numpy()
        n = len(x)
        lvl_o = np.full(n, np.nan)
        tr_o = np.full(n, np.nan)
        se_o = np.full(n, np.nan)
        fc_o = np.full(n, np.nan)
        if n > m:
            lvl = float(np.mean(x[:m]))
            tr = 0.0
            season = [float(x[i]) - lvl for i in range(m)]
            for t in range(m, n):
                s_prev = season[0]
                fc_o[t] = lvl + tr + s_prev
                new_l = HW_ALPHA * (float(x[t]) - s_prev) + (
                    1.0 - HW_ALPHA
                ) * (lvl + tr)
                tr = HW_BETA * (new_l - lvl) + (1.0 - HW_BETA) * tr
                s_new = HW_GAMMA * (float(x[t]) - new_l) + (
                    1.0 - HW_GAMMA
                ) * s_prev
                lvl = new_l
                season = season[1:] + [s_new]
                lvl_o[t] = lvl
                tr_o[t] = tr
                se_o[t] = s_new
        return lvl_o, tr_o, se_o, fc_o

    return _per_id(
        candles,
        ("id", "dt"),
        ["hw_level", "hw_trend", "hw_season", "hw_forecast"],
        step,
    )


GARCH_ALPHA, GARCH_BETA = 0.08, 0.90


def garch_filter(candles: DataFrame) -> DataFrame:
    """GARCH(1,1) conditional-variance filtering per id with pinned
    (alpha, beta) and variance targeting: omega = (1-alpha-beta)*vbar
    where vbar is the series' mean squared log return — the
    mean-reverting generalization of q222's RiskMetrics EWMA (which is
    the omega=0, alpha+beta=1 edge case). Recursion: v_1 = vbar, then
    v_t = omega + alpha*r_{t-1}^2 + beta*v_{t-1}.

    vbar snaps to the 1e-10 portable grid before use (the q55 centroid
    trick): a float mean over an arbitrary-order aggregation differs
    across engines at ~1e-18, which the recursion would amplify — on
    the grid both engines seed from the identical double and the whole
    state trajectory stays bit-identical. Parameter estimation (MLE)
    is out of scope by design: filtering with pinned params is the
    deterministic, hash-checkable core; the estimation loop would ride
    the same kernel."""
    a, b = GARCH_ALPHA, GARCH_BETA

    def step(pdf: pd.DataFrame):
        ret = _log_returns(pdf["close"].astype("float64").to_numpy())
        n = len(ret)
        var = np.full(n, np.nan)
        if n > 1:
            vbar = 0.0
            for v in ret[1:]:  # sequential sum, then grid-snap the mean
                vbar += v * v
            vbar = math.floor(vbar / (n - 1) * 1e10 + 0.5001) / 1e10
            omega = (1.0 - a - b) * vbar
            v = vbar
            var[1] = v
            for t in range(2, n):
                v = omega + a * ret[t - 1] * ret[t - 1] + b * v
                var[t] = v
        return ret, var

    return _per_id(candles, ("id", "dt"), ["ret", "garch_var"], step)
