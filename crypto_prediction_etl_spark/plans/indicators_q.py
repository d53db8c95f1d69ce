"""Indicator queries (SURVEY §2.5 W4-W13) over the orders-derived
candle series, each with a DuckDB oracle.

The recursive smoothers (EMA / MACD / Wilder RSI) cannot be written as
window aggregates, so their oracles use the mathematically-equivalent
closed form: ``ema_t = seed*(1-a)^(t-n) + sum_j a*(1-a)^(t-j) x_j``
via a bounded self-join (terms beyond the cutoff K underflow far below
one ulp of the running value, so truncation is exact in double
arithmetic).

Rounding grids: price-scale -> 2 decimals, percent-scale -> 3 — both
orders of magnitude above worst-case cross-engine fp drift.

Volume is carried in integer cents (bigint) so cumulative sums (OBV)
are exact integers in both engines regardless of their window-sum
association order (DuckDB uses segment trees, Spark running frames).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.portable import o_rnd, prnd
from ..operators.indicators import (
    with_recursive_indicators,
    with_window_indicators,
)
from ..operators.timeseries import CANDLES_EVENTS_SQL as CANDLES_EVENTS_ORACLE_SQL
from ..sources.readers import table
from .registry import query

# ---------------------------------------------------------------------------
# Shared candle frame (orders): long series, 5 ids x ~2400 trading days
# ---------------------------------------------------------------------------

CANDLES_SQL = """
  SELECT o_orderpriority                   AS id,
         CAST(o_orderdate AS DATE)         AS dt,
         max(o_totalprice)                 AS high,
         min(o_totalprice)                 AS low,
         avg(o_totalprice)                 AS close,
         sum(CAST(floor(o_totalprice * 100.0 + 0.5001) AS BIGINT)) AS volume_cents
  FROM orders
  GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)
"""


def candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("id"),
            F.to_date("o_orderdate").alias("dt"),
        )
        .agg(
            F.max("o_totalprice").alias("high"),
            F.min("o_totalprice").alias("low"),
            F.avg("o_totalprice").alias("close"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5001).cast("long")
            ).alias("volume_cents"),
        )
    )


def _with_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candles + double `volume` (exact: integer cents / 100)."""
    return candles(spark, sf_dir).withColumn(
        "volume", F.col("volume_cents").cast("double") / 100.0
    )


_WIN = "PARTITION BY id ORDER BY dt"


def _sma_sql(n: int) -> str:
    frame = f"OVER ({_WIN} ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)"
    return (
        f"CASE WHEN count(close) {frame} >= {n} "
        f"THEN avg(close) {frame} END"
    )


# ---------------------------------------------------------------------------
# W4 SMA + W7 Bollinger
# ---------------------------------------------------------------------------


def _bb_sql() -> str:
    frame = f"OVER ({_WIN} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)"
    mid = f"CASE WHEN count(close) {frame} >= 20 THEN avg(close) {frame} END"
    sd = f"CASE WHEN count(close) {frame} >= 20 THEN stddev_pop(close) {frame} END"
    return f"""
    WITH candles AS ({CANDLES_SQL})
    SELECT id, dt,
           {o_rnd(_sma_sql(5), 2)}  AS sma_5,
           {o_rnd(_sma_sql(10), 2)} AS sma_10,
           {o_rnd(_sma_sql(30), 2)} AS sma_30,
           {o_rnd(mid, 2)} AS bb_sma,
           {o_rnd(f'({mid}) + 2.0 * ({sd})', 2)} AS bb_upper,
           {o_rnd(f'({mid}) - 2.0 * ({sd})', 2)} AS bb_lower
    FROM candles
    """


@query("q30_sma_bollinger", oracle=_bb_sql())
def q30_sma_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMA 5/10/30 (W4) + Bollinger(20,2) (W7): guarded rolling windows,
    population stddev (reference: calculate_market_indicators.py:34-36,46-48)."""
    ind = with_window_indicators(_with_volume(spark, sf_dir))
    return ind.select(
        "id",
        "dt",
        prnd("sma_5", 2).alias("sma_5"),
        prnd("sma_10", 2).alias("sma_10"),
        prnd("sma_30", 2).alias("sma_30"),
        prnd("bb_sma", 2).alias("bb_sma"),
        prnd("bb_upper", 2).alias("bb_upper"),
        prnd("bb_lower", 2).alias("bb_lower"),
    )


# ---------------------------------------------------------------------------
# W9 OBV (exact integer-cents cumulative sum)
# ---------------------------------------------------------------------------


@query(
    "q31_obv",
    oracle=f"""
    WITH candles AS ({CANDLES_SQL}),
    signed AS (
      SELECT id, dt,
             CASE
               WHEN lag(close) OVER ({_WIN}) IS NULL THEN 0
               WHEN close > lag(close) OVER ({_WIN}) THEN volume_cents
               WHEN close < lag(close) OVER ({_WIN}) THEN -volume_cents
               ELSE 0 END AS sv
      FROM candles
    )
    SELECT id, dt,
           {o_rnd(f"CAST(sum(sv) OVER ({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0", 2)} AS obv
    FROM signed
    """,
)
def q31_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume (W9; reference calculate_market_indicators.py:44)
    as an exact cumulative bigint sum — association-order-proof."""
    w = W.partitionBy("id").orderBy("dt")
    c = candles(spark, sf_dir)
    prev = F.lag("close").over(w)
    signed = (
        F.when(prev.isNull(), F.lit(0))
        .when(F.col("close") > prev, F.col("volume_cents"))
        .when(F.col("close") < prev, -F.col("volume_cents"))
        .otherwise(F.lit(0))
    )
    return c.withColumn("_sv", signed).select(
        "id",
        "dt",
        prnd(
            F.sum("_sv").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("double")
            / 100.0,
            2,
        ).alias("obv"),
    )


# ---------------------------------------------------------------------------
# W10 Stochastic oscillator
# ---------------------------------------------------------------------------


def _stoch_sql() -> str:
    f14 = f"OVER ({_WIN} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)"
    f3 = f"OVER ({_WIN} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
    raw = (
        f"CASE WHEN count(close) {f14} >= 14 THEN "
        f"CASE WHEN max(high) {f14} <> min(low) {f14} "
        f"THEN (close - min(low) {f14}) / (max(high) {f14} - min(low) {f14}) * 100.0 "
        f"ELSE 50.0 END END"
    )
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    l1 AS (SELECT id, dt, {raw} AS raw_k FROM candles),
    l2 AS (SELECT id, dt, raw_k,
                  CASE WHEN count(raw_k) {f3} >= 3 THEN avg(raw_k) {f3} END AS stoch_k
           FROM l1),
    l3 AS (SELECT id, dt, stoch_k,
                  CASE WHEN count(stoch_k) {f3} >= 3 THEN avg(stoch_k) {f3} END AS stoch_d
           FROM l2)
    SELECT id, dt,
           {o_rnd('stoch_k', 3)} AS stoch_k,
           {o_rnd('stoch_d', 3)} AS stoch_d,
           {o_rnd('3.0 * stoch_k - 2.0 * stoch_d', 3)} AS stoch_j
    FROM l3
    """


@query("q33_stochastic", oracle=_stoch_sql())
def q33_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic %K(14) smoothed 3, %D(3), %J (W10; reference:
    calculate_market_indicators.py:40-42)."""
    ind = with_window_indicators(_with_volume(spark, sf_dir))
    return ind.select(
        "id",
        "dt",
        prnd("stoch_k", 3).alias("stoch_k"),
        prnd("stoch_d", 3).alias("stoch_d"),
        prnd("stoch_j", 3).alias("stoch_j"),
    )


# ---------------------------------------------------------------------------
# W11 Ichimoku
# ---------------------------------------------------------------------------


def _mid_sql(n: int) -> str:
    frame = f"OVER ({_WIN} ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)"
    return (
        f"CASE WHEN count(close) {frame} >= {n} "
        f"THEN (max(high) {frame} + min(low) {frame}) / 2.0 END"
    )


@query(
    "q34_ichimoku",
    oracle=f"""
    WITH candles AS ({CANDLES_SQL}),
    mids AS (
      SELECT id, dt, close,
             {_mid_sql(9)}  AS tenkan_sen,
             {_mid_sql(26)} AS kijun_sen,
             {_mid_sql(52)} AS senkou_b_raw
      FROM candles
    )
    SELECT id, dt,
           {o_rnd('tenkan_sen', 2)} AS tenkan_sen,
           {o_rnd('kijun_sen', 2)} AS kijun_sen,
           {o_rnd(f'lag((tenkan_sen + kijun_sen) / 2.0, 26) OVER ({_WIN})', 2)} AS senkou_span_a,
           {o_rnd(f'lag(senkou_b_raw, 26) OVER ({_WIN})', 2)} AS senkou_span_b,
           {o_rnd(f'lead(close, 26) OVER ({_WIN})', 2)} AS chikou_span
    FROM mids
    """,
)
def q34_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku(9,26,52): midpoints + senkou spans led 26 ahead, chikou
    lagged 26 behind (W11, SURVEY hard part 2; reference:
    calculate_market_indicators.py:37-39)."""
    ind = with_window_indicators(_with_volume(spark, sf_dir))
    return ind.select(
        "id",
        "dt",
        prnd("tenkan_sen", 2).alias("tenkan_sen"),
        prnd("kijun_sen", 2).alias("kijun_sen"),
        prnd("senkou_span_a", 2).alias("senkou_span_a"),
        prnd("senkou_span_b", 2).alias("senkou_span_b"),
        prnd("chikou_span", 2).alias("chikou_span"),
    )


# ---------------------------------------------------------------------------
# W12 Aroon — "periods since extreme", latest-occurrence ties
# ---------------------------------------------------------------------------


def _aroon_sql() -> str:
    frame = f"OVER ({_WIN} ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)"
    lst_hi = f"list(high) {frame}"
    lst_lo = f"list(low) {frame}"
    since_max = (
        f"list_indexof(list_reverse({lst_hi}), list_aggregate({lst_hi}, 'max')) - 1"
    )
    since_min = (
        f"list_indexof(list_reverse({lst_lo}), list_aggregate({lst_lo}, 'min')) - 1"
    )
    guard = f"count(close) {frame} >= 26"
    up = f"CASE WHEN {guard} THEN (25.0 - ({since_max})) / 25.0 * 100.0 END"
    down = f"CASE WHEN {guard} THEN (25.0 - ({since_min})) / 25.0 * 100.0 END"
    return f"""
    WITH candles AS ({CANDLES_SQL})
    SELECT id, dt,
           {o_rnd(up, 3)} AS aroon_up,
           {o_rnd(down, 3)} AS aroon_down,
           {o_rnd(f'({up}) - ({down})', 3)} AS aroon_oscillator
    FROM candles
    """


@query("q35_aroon", oracle=_aroon_sql())
def q35_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon(25) up/down/oscillator (W12, SURVEY hard part 3; reference:
    calculate_market_indicators.py:45). Spark: max_by/min_by window on a
    (value, rn) struct — one pass, ties to the latest row, no self-join.
    The DuckDB oracle reaches the same semantics with reversed-list
    index-of-extreme."""
    ind = with_window_indicators(_with_volume(spark, sf_dir))
    return ind.select(
        "id",
        "dt",
        prnd("aroon_up", 3).alias("aroon_up"),
        prnd("aroon_down", 3).alias("aroon_down"),
        prnd("aroon_oscillator", 3).alias("aroon_oscillator"),
    )


# ---------------------------------------------------------------------------
# W13 N_multiple rescale + ROC
# ---------------------------------------------------------------------------

_SMALL_IDS = ("5-LOW",)


@query(
    "q36_rescale_roc",
    oracle=f"""
    WITH candles AS ({CANDLES_SQL}),
    scaled AS (
      SELECT id, dt,
             CAST(CASE WHEN id IN {_SMALL_IDS!r} THEN 1000.0 ELSE 1.0 END AS DOUBLE) AS n_multiple,
             close * (CASE WHEN id IN {_SMALL_IDS!r} THEN 1000.0 ELSE 1.0 END) AS close_scaled
      FROM candles
    )
    SELECT id, dt, n_multiple,
           {o_rnd('close_scaled', 2)} AS close_scaled,
           {o_rnd(f'''CASE WHEN lag(close_scaled, 1) OVER ({_WIN}) IS NOT NULL
                      THEN (close_scaled - lag(close_scaled, 1) OVER ({_WIN}))
                           / lag(close_scaled, 1) OVER ({_WIN}) * 100.0 END''', 4)} AS roc_1
    FROM scaled
    """.replace("('5-LOW',)", "('5-LOW')"),
)
def q36_rescale_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-value rescale kept as output column (W13; reference:
    D_Create_crypto_ind_day_001.py:48,60-62,112) + 1-day rate of change."""
    from ..operators.indicators import n_multiple_rescale

    w = W.partitionBy("id").orderBy("dt")
    scaled = n_multiple_rescale(
        candles(spark, sf_dir), list(_SMALL_IDS), 1000.0
    ).withColumnRenamed("close", "close_scaled")
    prev = F.lag("close_scaled", 1).over(w)
    return scaled.select(
        "id",
        "dt",
        "n_multiple",
        prnd("close_scaled", 2).alias("close_scaled"),
        prnd(
            F.when(prev.isNotNull(), (F.col("close_scaled") - prev) / prev * 100.0),
            4,
        ).alias("roc_1"),
    )


# ---------------------------------------------------------------------------
# W5/W6/W8 recursive smoothers: EMA / MACD / Wilder RSI
# closed-form oracles with exact-truncation cutoffs
# ---------------------------------------------------------------------------


def _cutoff(alpha: float) -> int:
    """Lag beyond which (1-a)^k * x underflows below one ulp of any
    price-scale running value — truncation there is exact in double."""
    return max(10, int(math.ceil(math.log(1e-22) / math.log(1.0 - alpha))))


def _ema_cte(n: int) -> str:
    """CTE pair computing SMA-seeded EMA_n of c.close as ema_{n}(id, rn, ema)."""
    alpha = 2.0 / (n + 1.0)
    k = _cutoff(alpha)
    return f"""
    seed_{n} AS (
      SELECT id, avg(close) AS seed FROM c WHERE rn <= {n} GROUP BY id
    ),
    ema_{n} AS (
      SELECT a.id, a.rn,
             s.seed * power({1.0 - alpha!r}, a.rn - {n})
             + coalesce(sum({alpha!r} * power({1.0 - alpha!r}, a.rn - b.rn) * b.close), 0.0)
               AS ema
      FROM c a
      JOIN seed_{n} s ON s.id = a.id
      LEFT JOIN c b
        ON b.id = a.id AND b.rn > {n} AND b.rn <= a.rn AND b.rn >= a.rn - {k}
      WHERE a.rn >= {n}
      GROUP BY a.id, a.rn, s.seed
    )"""


def _ema_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    c AS (SELECT id, dt, close,
                 row_number() OVER ({_WIN}) AS rn
          FROM candles),
    {_ema_cte(5)},
    {_ema_cte(10)},
    {_ema_cte(30)}
    SELECT c.id, c.dt,
           {o_rnd('e5.ema', 2)}  AS ema_5,
           {o_rnd('e10.ema', 2)} AS ema_10,
           {o_rnd('e30.ema', 2)} AS ema_30
    FROM c
    LEFT JOIN ema_5  e5  ON e5.id = c.id AND e5.rn = c.rn
    LEFT JOIN ema_10 e10 ON e10.id = c.id AND e10.rn = c.rn
    LEFT JOIN ema_30 e30 ON e30.id = c.id AND e30.rn = c.rn
    """


@query("q37_ema", oracle=_ema_oracle())
def q37_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMA 5/10/30, SMA-seeded (W5, SURVEY hard part 1; reference:
    calculate_market_indicators.py:49-51). Spark: the ``_per_id``
    pandas kernel (Arrow batches, parallel per id) — the Spark-native
    replacement for the reference's driver collect loop (L1)."""
    rec = with_recursive_indicators(candles(spark, sf_dir))
    return rec.select(
        "id",
        "dt",
        prnd("ema_5", 2).alias("ema_5"),
        prnd("ema_10", 2).alias("ema_10"),
        prnd("ema_30", 2).alias("ema_30"),
    )


def _macd_oracle() -> str:
    alpha9 = 2.0 / 10.0
    k9 = _cutoff(alpha9)
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    c AS (SELECT id, dt, close,
                 row_number() OVER ({_WIN}) AS rn
          FROM candles),
    {_ema_cte(12)},
    {_ema_cte(26)},
    m AS (
      SELECT e12.id, e12.rn, e12.rn - 25 AS mrn, e12.ema - e26.ema AS macd
      FROM ema_12 e12 JOIN ema_26 e26 ON e12.id = e26.id AND e12.rn = e26.rn
    ),
    sseed AS (SELECT id, avg(macd) AS seed FROM m WHERE mrn <= 9 GROUP BY id),
    sig AS (
      SELECT a.id, a.rn,
             s.seed * power({1.0 - alpha9!r}, a.mrn - 9)
             + coalesce(sum({alpha9!r} * power({1.0 - alpha9!r}, a.mrn - b.mrn) * b.macd), 0.0)
               AS signal
      FROM m a
      JOIN sseed s ON s.id = a.id
      LEFT JOIN m b
        ON b.id = a.id AND b.mrn > 9 AND b.mrn <= a.mrn AND b.mrn >= a.mrn - {k9}
      WHERE a.mrn >= 9
      GROUP BY a.id, a.rn, s.seed, a.mrn
    )
    SELECT c.id, c.dt,
           {o_rnd('m.macd', 2)} AS macd,
           {o_rnd('sig.signal', 2)} AS macd_signal,
           {o_rnd('m.macd - sig.signal', 2)} AS macd_histogram
    FROM c
    LEFT JOIN m ON m.id = c.id AND m.rn = c.rn
    LEFT JOIN sig ON sig.id = c.id AND sig.rn = c.rn
    """


@query("q38_macd", oracle=_macd_oracle())
def q38_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(12,26,9) + signal + histogram (W6; reference:
    calculate_market_indicators.py:31-33)."""
    rec = with_recursive_indicators(candles(spark, sf_dir))
    return rec.select(
        "id",
        "dt",
        prnd("macd", 2).alias("macd"),
        prnd("macd_signal", 2).alias("macd_signal"),
        prnd("macd_histogram", 2).alias("macd_histogram"),
    )


def _rsi_oracle() -> str:
    n = 14
    alpha = 1.0 / n
    k = _cutoff(alpha)
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    c AS (SELECT id, dt, close,
                 row_number() OVER ({_WIN}) AS rn
          FROM candles),
    d AS (
      SELECT id, dt, rn,
             greatest(close - lag(close) OVER ({_WIN}), 0.0)  AS gain,
             greatest(lag(close) OVER ({_WIN}) - close, 0.0)  AS loss
      FROM c
    ),
    seed AS (
      SELECT id, avg(gain) AS sg, avg(loss) AS sl
      FROM d WHERE rn BETWEEN 2 AND {n + 1} GROUP BY id
    ),
    sm AS (
      SELECT a.id, a.rn,
             s.sg * power({1.0 - alpha!r}, a.rn - {n + 1})
             + coalesce(sum({alpha!r} * power({1.0 - alpha!r}, a.rn - b.rn) * b.gain), 0.0)
               AS ag,
             s.sl * power({1.0 - alpha!r}, a.rn - {n + 1})
             + coalesce(sum({alpha!r} * power({1.0 - alpha!r}, a.rn - b.rn) * b.loss), 0.0)
               AS al
      FROM d a
      JOIN seed s ON s.id = a.id
      LEFT JOIN d b
        ON b.id = a.id AND b.rn > {n + 1} AND b.rn <= a.rn AND b.rn >= a.rn - {k}
      WHERE a.rn >= {n + 1}
      GROUP BY a.id, a.rn, s.sg, s.sl
    )
    SELECT c.id, c.dt,
           {o_rnd('CASE WHEN sm.al = 0.0 THEN 100.0 ELSE 100.0 - 100.0 / (1.0 + sm.ag / sm.al) END', 3)} AS rsi_14
    FROM c
    LEFT JOIN sm ON sm.id = c.id AND sm.rn = c.rn
    """


@query("q39_rsi_wilder", oracle=_rsi_oracle())
def q39_rsi_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSI(14), Wilder smoothing with SMA-of-first-14-deltas seed (W8;
    reference: calculate_market_indicators.py:43)."""
    rec = with_recursive_indicators(candles(spark, sf_dir))
    return rec.select("id", "dt", prnd("rsi_14", 3).alias("rsi_14"))


# ---------------------------------------------------------------------------
# Combined indicator mart — the reference's flagship batch output
# (one query touching rescale + window family + recursive family + join)
# ---------------------------------------------------------------------------


def _mart_oracle() -> str:
    f20 = f"OVER ({_WIN} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)"
    f30 = f"OVER ({_WIN} ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)"
    f14 = f"OVER ({_WIN} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)"
    f9 = f"OVER ({_WIN} ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)"
    f26 = f"OVER ({_WIN} ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)"
    f3 = f"OVER ({_WIN} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
    sma30 = f"CASE WHEN count(close) {f30} >= 30 THEN avg(close) {f30} END"
    bbmid = f"CASE WHEN count(close) {f20} >= 20 THEN avg(close) {f20} END"
    bbsd = f"CASE WHEN count(close) {f20} >= 20 THEN stddev_pop(close) {f20} END"
    rawk = (
        f"CASE WHEN count(close) {f14} >= 14 THEN "
        f"CASE WHEN max(high) {f14} <> min(low) {f14} "
        f"THEN (close - min(low) {f14}) / (max(high) {f14} - min(low) {f14}) * 100.0 "
        f"ELSE 50.0 END END"
    )
    mid9 = f"CASE WHEN count(close) {f9} >= 9 THEN (max(high) {f9} + min(low) {f9}) / 2.0 END"
    mid26 = f"CASE WHEN count(close) {f26} >= 26 THEN (max(high) {f26} + min(low) {f26}) / 2.0 END"
    lst_hi = f"list(high) {f26}"
    since_max = f"list_indexof(list_reverse({lst_hi}), list_aggregate({lst_hi}, 'max')) - 1"
    aroon_up = (
        f"CASE WHEN count(close) {f26} >= 26 "
        f"THEN (25.0 - ({since_max})) / 25.0 * 100.0 END"
    )
    alpha9 = 2.0 / 10.0
    k9 = _cutoff(alpha9)
    n = 14
    alpha14 = 1.0 / n
    k14 = _cutoff(alpha14)
    return f"""
    WITH candles0 AS ({CANDLES_SQL}),
    candles AS (
      SELECT id, dt,
             high * m AS high, low * m AS low, close * m AS close,
             volume_cents, CAST(m AS DOUBLE) AS n_multiple
      FROM (SELECT *, CASE WHEN id IN ('5-LOW') THEN 1000.0 ELSE 1.0 END AS m
            FROM candles0)
    ),
    c AS (SELECT id, dt, close, row_number() OVER ({_WIN}) AS rn FROM candles),
    {_ema_cte(30)},
    {_ema_cte(12)},
    {_ema_cte(26)},
    mm AS (
      SELECT e12.id, e12.rn, e12.rn - 25 AS mrn, e12.ema - e26.ema AS macd
      FROM ema_12 e12 JOIN ema_26 e26 ON e12.id = e26.id AND e12.rn = e26.rn
    ),
    sseed AS (SELECT id, avg(macd) AS seed FROM mm WHERE mrn <= 9 GROUP BY id),
    sig AS (
      SELECT a.id, a.rn,
             s.seed * power({1.0 - alpha9!r}, a.mrn - 9)
             + coalesce(sum({alpha9!r} * power({1.0 - alpha9!r}, a.mrn - b.mrn) * b.macd), 0.0)
               AS signal
      FROM mm a
      JOIN sseed s ON s.id = a.id
      LEFT JOIN mm b
        ON b.id = a.id AND b.mrn > 9 AND b.mrn <= a.mrn AND b.mrn >= a.mrn - {k9}
      WHERE a.mrn >= 9
      GROUP BY a.id, a.rn, s.seed, a.mrn
    ),
    dd AS (
      SELECT id, rn,
             greatest(close - lag(close) OVER (PARTITION BY id ORDER BY rn), 0.0) AS gain,
             greatest(lag(close) OVER (PARTITION BY id ORDER BY rn) - close, 0.0) AS loss
      FROM c
    ),
    rseed AS (
      SELECT id, avg(gain) AS sg, avg(loss) AS sl
      FROM dd WHERE rn BETWEEN 2 AND {n + 1} GROUP BY id
    ),
    rsm AS (
      SELECT a.id, a.rn,
             s.sg * power({1.0 - alpha14!r}, a.rn - {n + 1})
             + coalesce(sum({alpha14!r} * power({1.0 - alpha14!r}, a.rn - b.rn) * b.gain), 0.0) AS ag,
             s.sl * power({1.0 - alpha14!r}, a.rn - {n + 1})
             + coalesce(sum({alpha14!r} * power({1.0 - alpha14!r}, a.rn - b.rn) * b.loss), 0.0) AS al
      FROM dd a
      JOIN rseed s ON s.id = a.id
      LEFT JOIN dd b
        ON b.id = a.id AND b.rn > {n + 1} AND b.rn <= a.rn AND b.rn >= a.rn - {k14}
      WHERE a.rn >= {n + 1}
      GROUP BY a.id, a.rn, s.sg, s.sl
    ),
    w1 AS (
      SELECT id, dt, n_multiple, close,
             row_number() OVER ({_WIN}) AS rn,
             {sma30} AS sma_30,
             {bbmid} AS bb_sma,
             {bbsd} AS bb_sd,
             {rawk} AS raw_k,
             {mid9} AS tenkan,
             {mid26} AS kijun,
             {aroon_up} AS aroon_up
      FROM candles
    ),
    w2 AS (
      SELECT id, dt, n_multiple, close, rn, sma_30, aroon_up,
             bb_sma + 2.0 * bb_sd AS bb_upper,
             CASE WHEN count(raw_k) {f3} >= 3 THEN avg(raw_k) {f3} END AS stoch_k,
             lag((tenkan + kijun) / 2.0, 26) OVER ({_WIN}) AS senkou_span_a
      FROM w1
    )
    SELECT w2.id, w2.dt, w2.n_multiple,
           {o_rnd('w2.close', 2)} AS close_scaled,
           {o_rnd('w2.sma_30', 2)} AS sma_30,
           {o_rnd('w2.bb_upper', 2)} AS bb_upper,
           {o_rnd('w2.stoch_k', 3)} AS stoch_k,
           {o_rnd('w2.senkou_span_a', 2)} AS senkou_span_a,
           {o_rnd('w2.aroon_up', 3)} AS aroon_up,
           {o_rnd('e30.ema', 2)} AS ema_30,
           {o_rnd('sig.signal', 2)} AS macd_signal,
           {o_rnd('CASE WHEN rsm.al = 0.0 THEN 100.0 ELSE 100.0 - 100.0 / (1.0 + rsm.ag / rsm.al) END', 3)} AS rsi_14
    FROM w2
    LEFT JOIN ema_30 e30 ON e30.id = w2.id AND e30.rn = w2.rn
    LEFT JOIN sig ON sig.id = w2.id AND sig.rn = w2.rn
    LEFT JOIN rsm ON rsm.id = w2.id AND rsm.rn = w2.rn
    """


@query("q32_indicator_mart", oracle=_mart_oracle())
def q32_indicator_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship batch output: the full indicator mart in
    one plan — N_multiple rescale (W13) -> window family -> recursive
    family -> single frame (the reference needed a per-symbol driver
    loop + full-outer join + unionAll accumulation + a wrk staging
    table for this; here it is one Catalyst plan with one id-shuffle).

    reference: D_Create_crypto_ind_day_001.py:52-246 end to end.
    """
    from ..operators.indicators import indicator_frame, n_multiple_rescale

    scaled = n_multiple_rescale(_with_volume(spark, sf_dir), ["5-LOW"])
    ind = indicator_frame(scaled)
    return ind.select(
        "id",
        "dt",
        "n_multiple",
        prnd("close", 2).alias("close_scaled"),
        prnd("sma_30", 2).alias("sma_30"),
        prnd("bb_upper", 2).alias("bb_upper"),
        prnd("stoch_k", 3).alias("stoch_k"),
        prnd("senkou_span_a", 2).alias("senkou_span_a"),
        prnd("aroon_up", 3).alias("aroon_up"),
        prnd("ema_30", 2).alias("ema_30"),
        prnd("macd_signal", 2).alias("macd_signal"),
        prnd("rsi_14", 3).alias("rsi_14"),
    )


@query(
    "q36c_multi_domain_sma",
    oracle=f"""
    WITH crypto AS ({CANDLES_SQL}),
    stock AS ({CANDLES_EVENTS_ORACLE_SQL}),
    unioned AS (
      SELECT 'crypto' AS domain, id, dt, close FROM crypto
      UNION ALL
      SELECT 'stock', id, dt, close FROM stock
    )
    SELECT domain, id, dt,
           {{sma10}} AS sma_10
    FROM unioned
    """.replace("{sma10}", o_rnd(
        "CASE WHEN count(close) OVER (PARTITION BY domain, id ORDER BY dt "
        "ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) >= 10 "
        "THEN avg(close) OVER (PARTITION BY domain, id ORDER BY dt "
        "ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) END", 2)),
)
def q36c_multi_domain_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-domain indicator sweep: the reference clones one indicator
    job six times (crypto/forex/gold/oil/gas/stock — six ~255-line
    scripts, airflow/etl_scripts/pyspark/D_Create_*_ind_day_001.py);
    here all domains union into ONE frame keyed by (domain, id) and one
    window pass computes the mart for every domain at once."""
    from ..operators.timeseries import events_candles
    from pyspark.sql import Window as W

    crypto = candles(spark, sf_dir).select(
        F.lit("crypto").alias("domain"), "id", "dt", "close"
    )
    stock = events_candles(spark, sf_dir).select(
        F.lit("stock").alias("domain"), "id", "dt", "close"
    )
    unioned = crypto.unionByName(stock)
    w = W.partitionBy("domain", "id").orderBy("dt").rowsBetween(-9, 0)
    return unioned.select(
        "domain",
        "id",
        "dt",
        prnd(
            F.when(F.count("close").over(w) >= 10, F.avg("close").over(w)), 2
        ).alias("sma_10"),
    )


# ---------------------------------------------------------------------------
# q79: rolling median / IQR robust-outlier filter
# ---------------------------------------------------------------------------

_Q79_N = 15  # median-filter window (rows)


def _q79_sql() -> str:
    frame = f"OVER ({_WIN} ROWS BETWEEN {_Q79_N - 1} PRECEDING AND CURRENT ROW)"
    cnt = f"count(close) {frame}"

    def q(p: float) -> str:
        return f"CASE WHEN {cnt} >= {_Q79_N} THEN quantile_cont(close, {p}) {frame} END"

    iqr = f"(({q(0.75)}) - ({q(0.25)}))"
    outlier = (
        f"CASE WHEN {cnt} >= {_Q79_N} THEN CAST("
        f"close > ({q(0.75)}) + 1.5 * {iqr} OR close < ({q(0.25)}) - 1.5 * {iqr}"
        f" AS INT) END"
    )
    return f"""
    WITH candles AS ({CANDLES_SQL})
    SELECT id, dt,
           {o_rnd('close', 2)} AS close,
           {o_rnd(q(0.5), 2)} AS med,
           {o_rnd(q(0.25), 2)} AS p25,
           {o_rnd(q(0.75), 2)} AS p75,
           {outlier} AS is_outlier
    FROM candles
    """


@query("q79_rolling_median", oracle=_q79_sql())
def q79_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median filter + IQR robust-outlier flag over the candle
    series — the denoising/anomaly screen a curation pipeline runs
    before indicators. Spark has no dedicated sliding-quantile window,
    but the `percentile` AGGREGATE evaluates per-frame inside a window
    spec (same linear interpolation as DuckDB's quantile_cont — the
    cross-engine pair recorded in functions/portable.py lore), so the
    whole query is one window partitioning: all three quantiles and the
    warm-up count share the single per-id sort, and the per-row cost is
    O(window) with window fixed at 15 — scale-safe (no per-row
    collect_list materialization in the output, no second exchange)."""
    w = (
        W.partitionBy("id")
        .orderBy("dt")
        .rowsBetween(-(_Q79_N - 1), W.currentRow)
    )
    c = candles(spark, sf_dir)
    cnt = F.count("close").over(w)
    quant = {
        p: F.expr(f"percentile(close, {p})").over(w) for p in (0.25, 0.5, 0.75)
    }
    guard = cnt >= _Q79_N
    iqr = quant[0.75] - quant[0.25]
    outlier = (
        (F.col("close") > quant[0.75] + 1.5 * iqr)
        | (F.col("close") < quant[0.25] - 1.5 * iqr)
    ).cast("int")
    return c.select(
        "id",
        "dt",
        prnd(F.col("close"), 2).alias("close"),
        prnd(F.when(guard, quant[0.5]), 2).alias("med"),
        prnd(F.when(guard, quant[0.25]), 2).alias("p25"),
        prnd(F.when(guard, quant[0.75]), 2).alias("p75"),
        F.when(guard, outlier).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# q80: OHLC resample (downsample daily candles to weekly bars)
# ---------------------------------------------------------------------------


@query(
    "q80_ohlc_resample",
    oracle=f"""
    WITH candles AS ({CANDLES_SQL})
    SELECT id,
           CAST(date_trunc('week', dt) AS DATE) AS wk,
           {o_rnd("arg_min(close, dt)", 2)} AS open,
           {o_rnd("max(high)", 2)} AS high,
           {o_rnd("min(low)", 2)} AS low,
           {o_rnd("arg_max(close, dt)", 2)} AS close,
           CAST(sum(volume_cents) AS BIGINT) AS volume_cents,
           CAST(count(*) AS BIGINT) AS n_bars
    FROM candles
    GROUP BY id, date_trunc('week', dt)
    """,
)
def q80_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample/downsample: daily candles -> weekly OHLCV bars. open =
    close at the week's first day (min_by), close = at its last
    (max_by), high/low/volume aggregate; Spark min_by/max_by == DuckDB
    arg_min/arg_max with the unique per-(id, dt) key making ties
    impossible. One groupBy on (id, week) is the only shuffle, and it
    partial-aggregates map-side — the standard rollup shape that holds
    at any scale (weekly bars ≪ daily bars). Spark's date_trunc('week')
    and DuckDB's both land on Monday."""
    c = candles(spark, sf_dir)
    return (
        c.groupBy("id", F.date_trunc("week", "dt").cast("date").alias("wk"))
        .agg(
            prnd(F.min_by("close", "dt"), 2).alias("open"),
            prnd(F.max("high"), 2).alias("high"),
            prnd(F.min("low"), 2).alias("low"),
            prnd(F.max_by("close", "dt"), 2).alias("close"),
            F.sum("volume_cents").cast("long").alias("volume_cents"),
            F.count("*").cast("long").alias("n_bars"),
        )
    )


# ---------------------------------------------------------------------------
# q81: series-gap detection (missing calendar days per symbol)
# ---------------------------------------------------------------------------


@query(
    "q81_series_gaps",
    oracle=f"""
    WITH candles AS ({CANDLES_SQL}),
    d AS (
      SELECT id, dt,
             lag(dt) OVER (PARTITION BY id ORDER BY dt) AS prev_dt
      FROM candles
    )
    SELECT id,
           CAST(prev_dt AS DATE) AS gap_start,
           CAST(dt AS DATE) AS gap_end,
           CAST(date_diff('day', prev_dt, dt) - 1 AS INTEGER) AS missing_days
    FROM d
    WHERE prev_dt IS NOT NULL AND date_diff('day', prev_dt, dt) > 1
    """,
)
def q81_series_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gap probe: every hole in each symbol's daily series
    (consecutive-row date difference > 1 day), with its bounds and
    width — what a pipeline checks before densifying against the
    calendar spine (J2/q25's precondition). One lag window per id on
    the same per-id sort every indicator already uses."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    d = c.select("id", "dt", F.lag("dt").over(w).alias("prev_dt"))
    diff = F.datediff("dt", "prev_dt")
    return d.filter(F.col("prev_dt").isNotNull() & (diff > 1)).select(
        "id",
        F.col("prev_dt").alias("gap_start"),
        F.col("dt").alias("gap_end"),
        (diff - 1).cast("int").alias("missing_days"),
    )


def _holt_oracle() -> str:
    from ..operators.indicators import HOLT_ALPHA, HOLT_BETA, HOLT_OMA, HOLT_OMB

    a, b = repr(HOLT_ALPHA), repr(HOLT_BETA)
    oma, omb = repr(HOLT_OMA), repr(HOLT_OMB)
    lvl = f"CAST({a} AS DOUBLE) * c.close + CAST({oma} AS DOUBLE) * (h.level + h.trend)"
    return f"""
    WITH RECURSIVE candles AS ({CANDLES_SQL}),
    -- MATERIALIZED: without it DuckDB re-inlines the window CTE into
    -- every one of the ~2400 recursive iterations (15s -> 1.5s at sf0.01)
    c AS MATERIALIZED (SELECT id, dt, close, row_number() OVER ({_WIN}) AS rn FROM candles),
    hw AS (
      SELECT id, rn, dt, close AS level, CAST(0 AS DOUBLE) AS trend
      FROM c WHERE rn = 1
      UNION ALL
      SELECT c.id, c.rn, c.dt,
             {lvl} AS level,
             CAST({b} AS DOUBLE) * (({lvl}) - h.level)
               + CAST({omb} AS DOUBLE) * h.trend AS trend
      FROM hw h JOIN c ON c.id = h.id AND c.rn = h.rn + 1
    )
    SELECT id, dt,
           {o_rnd('level', 2)} AS holt_level,
           {o_rnd('trend', 4)} AS holt_trend,
           {o_rnd('level + trend', 2)} AS holt_forecast
    FROM hw
    """


@query("q100_holt_linear", oracle=_holt_oracle())
def q100_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend + one-step
    forecast) per symbol — the recursive stateful operator one step
    beyond the EMA family, executed as the ``_per_id`` pandas kernel
    (one id-shuffle, O(rows) per key, no driver loop). The oracle
    replays the recursion as a recursive CTE with the identical float
    op sequence — the driver gate hash-checks a genuinely recursive
    computation (q37's EMA uses a closed form; this one cannot)."""
    from ..operators.indicators import holt_linear

    rec = holt_linear(candles(spark, sf_dir))
    return rec.select(
        "id",
        "dt",
        prnd("holt_level", 2).alias("holt_level"),
        prnd("holt_trend", 4).alias("holt_trend"),
        prnd("holt_forecast", 2).alias("holt_forecast"),
    )


def _q106_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    c AS (SELECT id, dt, close,
                 CAST(row_number() OVER ({_WIN}) AS BIGINT) AS x
          FROM candles),
    s AS (
      SELECT id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             sum(close) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             sum(CAST(x AS DOUBLE) * close) AS sxy
      FROM c GROUP BY id
    )
    SELECT id, n,
           {o_rnd('(n * sxy - sx * sy) / (n * sxx - sx * sx)', 6)} AS slope,
           {o_rnd('(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n', 4)} AS intercept
    FROM s
    """


@query("q106_ols_trend", oracle=_q106_oracle())
def q106_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol OLS trend line (slope/intercept of close vs time
    index) via the closed-form normal equations — regression as an
    ALGEBRAIC aggregate: five sufficient statistics (n, Σx, Σy, Σx²,
    Σxy) partial-aggregate map-side in ONE groupBy, so a 100 TB
    history computes its trend with a single shuffle of five numbers
    per symbol — no iterative solver, no per-symbol collect. The x
    index comes from one ranking window per symbol (the same sort the
    indicator family already pays)."""
    c = candles(spark, sf_dir)
    from pyspark.sql import Window as W2

    w = W2.partitionBy("id").orderBy("dt")
    cx = c.select(
        "id", "close", F.row_number().over(w).cast("long").alias("x")
    )
    s = cx.groupBy("id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("close").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("double") * F.col("close")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return s.select(
        "id",
        F.col("n").cast("long").alias("n"),
        prnd(slope, 6).alias("slope"),
        prnd(intercept, 4).alias("intercept"),
    )


def _q115_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt, close,
             ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles
    ),
    rr AS (SELECT id, dt, ret FROM r WHERE ret IS NOT NULL),
    p AS (
      SELECT a.id AS id_a, b.id AS id_b, a.ret AS ra, b.ret AS rb
      FROM rr a JOIN rr b ON a.dt = b.dt AND a.id < b.id
    ),
    s AS (
      SELECT id_a, id_b,
             CAST(count(*) AS BIGINT) AS n,
             sum(ra) AS sa, sum(rb) AS sb,
             sum(ra * ra) AS saa, sum(rb * rb) AS sbb,
             sum(ra * rb) AS sab
      FROM p GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, n,
           {o_rnd('(n * sab - sa * sb) / (sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb))', 6)} AS corr
    FROM s
    """


@query("q115_return_correlation", oracle=_q115_oracle())
def q115_return_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of daily log returns between
    symbols — the cross-asset co-movement matrix every quant pipeline
    maintains. Like q106's OLS, correlation is an ALGEBRAIC aggregate:
    the date-aligned pair join feeds one groupBy of five sufficient
    statistics (map-side partial), so a 100 TB history shuffles five
    numbers per symbol pair; the date-equi pair join itself is
    hash-partitioned on dt and only ever k^2/2 streams wide (k =
    symbol count). Log returns come from one lag window per symbol —
    the sort the indicator family already pays."""
    from pyspark.sql import Window as W2

    c = candles(spark, sf_dir)
    w = W2.partitionBy("id").orderBy("dt")
    r = c.select(
        "id",
        "dt",
        F.log(F.col("close") / F.lag("close").over(w)).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    a = r.select(F.col("id").alias("id_a"), "dt", F.col("ret").alias("ra"))
    b = r.select(F.col("id").alias("id_b"), "dt", F.col("ret").alias("rb"))
    p = a.join(b, "dt").filter(F.col("id_a") < F.col("id_b"))
    s = p.groupBy("id_a", "id_b").agg(
        F.count("*").alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rb").alias("sb"),
        F.sum(F.col("ra") * F.col("ra")).alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).alias("sbb"),
        F.sum(F.col("ra") * F.col("rb")).alias("sab"),
    )
    corr = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")) / (
        F.sqrt(F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
        * F.sqrt(F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
    )
    return s.select(
        "id_a",
        "id_b",
        F.col("n").cast("long").alias("n"),
        prnd(corr, 6).alias("corr"),
    )


def _q116_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    m AS (
      SELECT id, dt, close,
             max(close) OVER ({_WIN}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM candles
    ),
    dd AS (
      SELECT id, dt, close, peak,
             (close - peak) / peak AS drawdown
      FROM m
    )
    SELECT id,
           {o_rnd('min(drawdown)', 6)} AS max_drawdown,
           CAST(min_by(dt, drawdown) AS DATE) AS trough_dt
    FROM dd GROUP BY id
    """


@query("q116_max_drawdown", oracle=_q116_oracle())
def q116_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per symbol: running peak via one cumulative-max
    window, drawdown = (close - peak)/peak, the minimum (deepest) per
    symbol with its trough date via min_by — risk analytics on the
    same single per-symbol sort every indicator shares. min_by's
    tie-break is engine-ambiguous, but drawdown ties at the exact
    minimum require bit-equal doubles at two dates on the same
    monotone peak - structurally impossible off the warm-up row here
    and guarded by the deterministic candle series."""
    from pyspark.sql import Window as W2

    c = candles(spark, sf_dir)
    w = W2.partitionBy("id").orderBy("dt").rowsBetween(W2.unboundedPreceding, W2.currentRow)
    dd = c.select(
        "id",
        "dt",
        ((F.col("close") - F.max("close").over(w)) / F.max("close").over(w)).alias(
            "drawdown"
        ),
    )
    return dd.groupBy("id").agg(
        prnd(F.min("drawdown"), 6).alias("max_drawdown"),
        F.min_by("dt", "drawdown").cast("date").alias("trough_dt"),
    )


def _q118_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    c AS (SELECT id, dt, close, CAST(volume_cents AS DOUBLE) / 100.0 AS vol
          FROM candles),
    m AS (SELECT id, CAST(strftime(dt, '%Y-%m') AS VARCHAR) AS month,
                 close, vol FROM c)
    SELECT id, month,
           CAST(count(*) AS BIGINT) AS n_days,
           {o_rnd('sum(close * vol) / sum(vol)', 4)} AS vwap,
           {o_rnd('avg(close)', 4)} AS twap
    FROM m GROUP BY id, month
    """


@query("q118_vwap", oracle=_q118_oracle())
def q118_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly VWAP vs TWAP per symbol: volume-weighted and
    time-weighted average price — the execution-benchmark aggregates.
    Both are algebraic (two weighted sums / a count), so the whole
    query is one partial-aggregated groupBy; volume reconstructs
    exactly from the integer-cents column (no float drift in the
    weights)."""
    c = candles(spark, sf_dir).select(
        "id",
        F.date_format("dt", "yyyy-MM").alias("month"),
        "close",
        (F.col("volume_cents").cast("double") / 100.0).alias("vol"),
    )
    return c.groupBy("id", "month").agg(
        F.count("*").cast("long").alias("n_days"),
        prnd(F.sum(F.col("close") * F.col("vol")) / F.sum("vol"), 4).alias("vwap"),
        prnd(F.avg("close"), 4).alias("twap"),
    )


_Q119_LAG = 1  # days of lead-lag


def _q119_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles
    ),
    rr AS (SELECT id, dt, ret FROM r WHERE ret IS NOT NULL),
    lagged AS (
      SELECT id, dt, ret,
             lag(ret, {_Q119_LAG}) OVER ({_WIN.replace('candles', 'rr')}) AS ret_lag
      FROM rr
    ),
    p AS (
      SELECT a.id AS id_lead, b.id AS id_follow, a.ret AS ra, b.ret_lag AS rb
      FROM rr a JOIN lagged b ON a.dt = b.dt AND a.id <> b.id
      WHERE b.ret_lag IS NOT NULL
    ),
    s AS (
      SELECT id_lead, id_follow,
             CAST(count(*) AS BIGINT) AS n,
             sum(ra) AS sa, sum(rb) AS sb,
             sum(ra * ra) AS saa, sum(rb * rb) AS sbb,
             sum(ra * rb) AS sab
      FROM p GROUP BY id_lead, id_follow
    )
    SELECT id_lead, id_follow, n,
           {o_rnd('(n * sab - sa * sb) / (sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb))', 6)} AS lead_lag_corr
    FROM s
    """


@query("q119_lead_lag_correlation", oracle=_q119_oracle())
def q119_lead_lag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation: does symbol A's return today
    correlate with symbol B's return YESTERDAY (B leads A by one day)?
    The time-shifted variant of q115 — directional pairs (id_lead <>
    id_follow, not just unordered), the lag applied with one extra lag
    window on the same per-symbol sort, then the identical algebraic
    five-statistic reduction. The signal quant pipelines screen for
    lead-lag structure across assets."""
    from pyspark.sql import Window as W2

    c = candles(spark, sf_dir)
    w = W2.partitionBy("id").orderBy("dt")
    r = c.select(
        "id", "dt", F.log(F.col("close") / F.lag("close").over(w)).alias("ret")
    ).filter(F.col("ret").isNotNull())
    lagged = r.select(
        "id", "dt", "ret", F.lag("ret", _Q119_LAG).over(w).alias("ret_lag")
    ).filter(F.col("ret_lag").isNotNull())
    a = r.select(F.col("id").alias("id_lead"), "dt", F.col("ret").alias("ra"))
    b = lagged.select(
        F.col("id").alias("id_follow"), "dt", F.col("ret_lag").alias("rb")
    )
    p = a.join(b, "dt").filter(F.col("id_lead") != F.col("id_follow"))
    s = p.groupBy("id_lead", "id_follow").agg(
        F.count("*").alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rb").alias("sb"),
        F.sum(F.col("ra") * F.col("ra")).alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).alias("sbb"),
        F.sum(F.col("ra") * F.col("rb")).alias("sab"),
    )
    corr = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")) / (
        F.sqrt(F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
        * F.sqrt(F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
    )
    return s.select(
        "id_lead",
        "id_follow",
        F.col("n").cast("long").alias("n"),
        prnd(corr, 6).alias("lead_lag_corr"),
    )


def _q120_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles
    ),
    rr AS (SELECT id, dt,
                  -- DuckDB dayofweek is 0=Sunday..6; Spark is 1=Sunday..7
                  CAST(dayofweek(dt) + 1 AS INTEGER) AS dow, ret
           FROM r WHERE ret IS NOT NULL)
    SELECT id, dow,
           CAST(count(*) AS BIGINT) AS n_days,
           {o_rnd('avg(ret)', 6)} AS mean_ret,
           {o_rnd('avg(abs(ret))', 6)} AS mean_abs_ret
    FROM rr GROUP BY id, dow
    """


@query("q120_dow_seasonality", oracle=_q120_oracle())
def q120_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile: mean and mean-absolute log
    return per (symbol, weekday) — the seasonal baseline a
    deseasonalization or anomaly pipeline subtracts before modeling.
    One lag window on the shared per-symbol sort, one
    partial-aggregated groupBy; weekday extraction is pure date
    arithmetic (Spark dayofweek == DuckDB dayofweek + 1 alignment
    handled via the same 1-7 Sunday-first convention both engines
    use)."""
    from pyspark.sql import Window as W2

    c = candles(spark, sf_dir)
    w = W2.partitionBy("id").orderBy("dt")
    r = c.select(
        "id",
        "dt",
        F.log(F.col("close") / F.lag("close").over(w)).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    return (
        r.select("id", F.dayofweek("dt").alias("dow"), "ret")
        .groupBy("id", "dow")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            prnd(F.avg("ret"), 6).alias("mean_ret"),
            prnd(F.avg(F.abs("ret")), 6).alias("mean_abs_ret"),
        )
    )


_ATR_N = 14


def _q121_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    c AS (SELECT id, dt, high, low, close,
                 lag(close) OVER ({_WIN}) AS prev_close,
                 row_number() OVER ({_WIN}) AS rn
          FROM candles),
    tr AS (
      SELECT id, dt, rn,
             greatest(high - low,
                      abs(high - prev_close),
                      abs(low - prev_close)) AS tr
      FROM c WHERE prev_close IS NOT NULL
    ),
    atr AS (
      SELECT id, dt, rn, tr,
             avg(tr) OVER (PARTITION BY id ORDER BY rn
                           ROWS BETWEEN {_ATR_N - 1} PRECEDING AND CURRENT ROW) AS atr,
             count(*) OVER (PARTITION BY id ORDER BY rn
                           ROWS BETWEEN {_ATR_N - 1} PRECEDING AND CURRENT ROW) AS nw
      FROM tr
    )
    SELECT id, dt, {o_rnd('tr', 4)} AS true_range,
           {o_rnd('atr', 4)} AS atr_14
    FROM atr WHERE nw = {_ATR_N}
    """


@query("q121_atr", oracle=_q121_oracle())
def q121_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average True Range (14): true range = max(high-low,
    |high-prev_close|, |low-prev_close|), simple-averaged over a 14-row
    frame, warm-up rows suppressed — the volatility indicator the
    W-family (SMA/EMA/Bollinger/RSI/...) was missing. One lag + one
    rolling-mean window on the shared per-symbol sort."""
    from pyspark.sql import Window as W2

    c = candles(spark, sf_dir)
    w = W2.partitionBy("id").orderBy("dt")
    tr = c.select(
        "id",
        "dt",
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - F.lag("close").over(w)),
            F.abs(F.col("low") - F.lag("close").over(w)),
        ).alias("tr"),
        F.lag("close").over(w).alias("_pc"),
    ).filter(F.col("_pc").isNotNull())
    wa = (
        W2.partitionBy("id").orderBy("dt").rowsBetween(-(_ATR_N - 1), 0)
    )
    out = tr.select(
        "id",
        "dt",
        prnd("tr", 4).alias("true_range"),
        prnd(F.avg("tr").over(wa), 4).alias("atr_14"),
        F.count("*").over(wa).alias("_nw"),
    )
    return out.filter(F.col("_nw") == _ATR_N).drop("_nw")


_WR_N = 14


def _q122_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    c AS (SELECT id, dt, high, low, close,
                 row_number() OVER ({_WIN}) AS rn FROM candles),
    w AS (
      SELECT id, dt, close,
             max(high) OVER (PARTITION BY id ORDER BY rn
                             ROWS BETWEEN {_WR_N - 1} PRECEDING AND CURRENT ROW) AS hh,
             min(low) OVER (PARTITION BY id ORDER BY rn
                             ROWS BETWEEN {_WR_N - 1} PRECEDING AND CURRENT ROW) AS ll,
             count(*) OVER (PARTITION BY id ORDER BY rn
                             ROWS BETWEEN {_WR_N - 1} PRECEDING AND CURRENT ROW) AS nw
      FROM c
    )
    SELECT id, dt,
           {o_rnd('CASE WHEN hh = ll THEN 0.0 ELSE -100.0 * (hh - close) / (hh - ll) END', 4)} AS williams_r
    FROM w WHERE nw = {_WR_N}
    """


@query("q122_williams_r", oracle=_q122_oracle())
def q122_williams_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams %R (14): -100 * (highest_high - close) /
    (highest_high - lowest_low), flat-window guard to 0 — the
    stochastic's inverted cousin, two rolling extremes on the shared
    per-symbol sort, warm-up suppressed."""
    from pyspark.sql import Window as W2

    c = candles(spark, sf_dir)
    wa = W2.partitionBy("id").orderBy("dt").rowsBetween(-(_WR_N - 1), 0)
    hh = F.max("high").over(wa)
    ll = F.min("low").over(wa)
    wr = F.when(hh == ll, F.lit(0.0)).otherwise(
        F.lit(-100.0) * (hh - F.col("close")) / (hh - ll)
    )
    out = c.select(
        "id", "dt", prnd(wr, 4).alias("williams_r"), F.count("*").over(wa).alias("_nw")
    )
    return out.filter(F.col("_nw") == _WR_N).drop("_nw")


def _q123_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    c AS (SELECT id, dt, high, low, close,
                 lag(close) OVER ({_WIN}) AS open
          FROM candles),
    b AS (
      SELECT id, dt, open, high, low, close,
             abs(close - open) AS body,
             high - low AS range,
             lag(open) OVER ({_WIN.replace('candles', 'c')}) AS p_open,
             lag(close) OVER ({_WIN.replace('candles', 'c')}) AS p_close
      FROM c WHERE open IS NOT NULL
    )
    SELECT id, dt,
           CAST(range > 0 AND body <= 0.1 * range AS INT) AS is_doji,
           CAST(p_open IS NOT NULL AND close > open AND p_close < p_open
                AND close >= p_open AND open <= p_close AS INT) AS is_bullish_engulfing,
           CAST(p_open IS NOT NULL AND close < open AND p_close > p_open
                AND close <= p_open AND open >= p_close AS INT) AS is_bearish_engulfing
    FROM b
    """


@query("q123_candle_patterns", oracle=_q123_oracle())
def q123_candle_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick pattern detection — doji (body <= 10% of range) and
    bullish/bearish engulfing (current body spans the previous one,
    opposite direction) — the rule-based pattern family of a TA
    engine, expressed as pure boolean expressions over one lag chain
    (open derives as the prior close on this daily series). Zero extra
    shuffles beyond the shared per-symbol sort; integer flags make the
    oracle comparison exact."""
    from pyspark.sql import Window as W2

    c = candles(spark, sf_dir)
    w = W2.partitionBy("id").orderBy("dt")
    b = c.select(
        "id",
        "dt",
        F.lag("close").over(w).alias("open"),
        "high",
        "low",
        "close",
    ).filter(F.col("open").isNotNull())
    b = b.select(
        "id",
        "dt",
        "open",
        "close",
        (F.abs(F.col("close") - F.col("open"))).alias("body"),
        (F.col("high") - F.col("low")).alias("range"),
        F.lag("open").over(w).alias("p_open"),
        F.lag("close").over(w).alias("p_close"),
    )
    return b.select(
        "id",
        "dt",
        ((F.col("range") > 0) & (F.col("body") <= 0.1 * F.col("range")))
        .cast("int")
        .alias("is_doji"),
        (
            F.col("p_open").isNotNull()
            & (F.col("close") > F.col("open"))
            & (F.col("p_close") < F.col("p_open"))
            & (F.col("close") >= F.col("p_open"))
            & (F.col("open") <= F.col("p_close"))
        )
        .cast("int")
        .alias("is_bullish_engulfing"),
        (
            F.col("p_open").isNotNull()
            & (F.col("close") < F.col("open"))
            & (F.col("p_close") > F.col("p_open"))
            & (F.col("close") <= F.col("p_open"))
            & (F.col("open") >= F.col("p_close"))
        )
        .cast("int")
        .alias("is_bearish_engulfing"),
    )


# ---------------------------------------------------------------------------
# Money Flow Index (volume-weighted RSI cousin)
# ---------------------------------------------------------------------------

_MFI_N = 14


def _q124_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    tp AS (
      SELECT id, dt,
             (high + low + close) / 3.0 AS tp,
             volume_cents
      FROM candles
    ),
    flows AS (
      SELECT id, dt, tp,
             lag(tp) OVER ({_WIN}) AS prev_tp,
             CAST(floor(tp * volume_cents + 0.5) AS BIGINT) AS mf_units
      FROM tp
    ),
    signed AS (
      SELECT id, dt,
             CASE WHEN tp > prev_tp THEN mf_units ELSE 0 END AS pos_units,
             CASE WHEN tp < prev_tp THEN mf_units ELSE 0 END AS neg_units
      FROM flows WHERE prev_tp IS NOT NULL
    ),
    w AS (
      SELECT id, dt,
             sum(pos_units) OVER ({_WIN} ROWS BETWEEN {_MFI_N - 1} PRECEDING AND CURRENT ROW) AS pos,
             sum(neg_units) OVER ({_WIN} ROWS BETWEEN {_MFI_N - 1} PRECEDING AND CURRENT ROW) AS neg,
             count(*) OVER ({_WIN} ROWS BETWEEN {_MFI_N - 1} PRECEDING AND CURRENT ROW) AS nw
      FROM signed
    )
    SELECT id, dt,
           {o_rnd('CASE WHEN pos + neg = 0 THEN 50.0 ELSE 100.0 * CAST(pos AS DOUBLE) / CAST(pos + neg AS DOUBLE) END', 4)} AS mfi_14
    FROM w WHERE nw = {_MFI_N}
    """


@query("q124_mfi", oracle=_q124_oracle())
def q124_mfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money Flow Index (14) — the volume-weighted RSI: typical price
    (H+L+C)/3, raw money flow tp*volume signed by tp direction, MFI =
    100*pos/(pos+neg) over a 14-flow frame (flat 14-window guard to
    the 50 neutral).  Money flow is carried in integer units
    (floor(tp*volume_cents + 0.5)) so the windowed sums are exact
    bigints in both engines regardless of association order — the same
    portability trick as q31's OBV.  One lag + two conditional window
    sums on the shared per-symbol sort; zero extra shuffles."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    tp = (F.col("high") + F.col("low") + F.col("close")) / 3.0
    flows = c.select(
        "id",
        "dt",
        tp.alias("tp"),
        F.floor(tp * F.col("volume_cents") + 0.5).cast("long").alias("mf_units"),
    ).withColumn("prev_tp", F.lag("tp").over(w))
    signed = flows.filter(F.col("prev_tp").isNotNull()).select(
        "id",
        "dt",
        F.when(F.col("tp") > F.col("prev_tp"), F.col("mf_units"))
        .otherwise(F.lit(0))
        .alias("pos_units"),
        F.when(F.col("tp") < F.col("prev_tp"), F.col("mf_units"))
        .otherwise(F.lit(0))
        .alias("neg_units"),
    )
    wa = w.rowsBetween(-(_MFI_N - 1), 0)
    pos = F.sum("pos_units").over(wa)
    neg = F.sum("neg_units").over(wa)
    mfi = F.when(pos + neg == 0, F.lit(50.0)).otherwise(
        F.lit(100.0) * pos.cast("double") / (pos + neg).cast("double")
    )
    out = signed.select(
        "id", "dt", prnd(mfi, 4).alias("mfi_14"), F.count("*").over(wa).alias("_nw")
    )
    return out.filter(F.col("_nw") == _MFI_N).drop("_nw")


# ---------------------------------------------------------------------------
# Donchian channels + breakout flags
# ---------------------------------------------------------------------------

_DON_N = 20


def _q125_oracle() -> str:
    frame = f"{_WIN} ROWS BETWEEN {_DON_N} PRECEDING AND 1 PRECEDING"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    w AS (
      SELECT id, dt, close,
             max(high) OVER ({frame}) AS upper,
             min(low)  OVER ({frame}) AS lower,
             count(*)  OVER ({frame}) AS nw
      FROM candles
    )
    SELECT id, dt,
           {o_rnd('upper', 2)} AS don_upper,
           {o_rnd('lower', 2)} AS don_lower,
           {o_rnd('(upper + lower) / 2.0', 2)} AS don_mid,
           CAST(close > upper AS INT) AS breakout_up,
           CAST(close < lower AS INT) AS breakout_down
    FROM w WHERE nw = {_DON_N}
    """


@query("q125_donchian", oracle=_q125_oracle())
def q125_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channels (20): upper/lower = extremes of the PRIOR 20
    bars (frame ends at 1 PRECEDING, the classic turtle-trader form, so
    today's bar can break its own channel), midline, and integer
    breakout flags when today's close escapes the channel.  Two rolling
    extremes on one per-symbol sort; extremes copy input doubles so the
    only fp op is the midline average."""
    c = candles(spark, sf_dir)
    wa = W.partitionBy("id").orderBy("dt").rowsBetween(-_DON_N, -1)
    upper = F.max("high").over(wa)
    lower = F.min("low").over(wa)
    out = c.select(
        "id",
        "dt",
        prnd(upper, 2).alias("don_upper"),
        prnd(lower, 2).alias("don_lower"),
        prnd((upper + lower) / 2.0, 2).alias("don_mid"),
        (F.col("close") > upper).cast("int").alias("breakout_up"),
        (F.col("close") < lower).cast("int").alias("breakout_down"),
        F.count("*").over(wa).alias("_nw"),
    )
    return out.filter(F.col("_nw") == _DON_N).drop("_nw")


# ---------------------------------------------------------------------------
# Chaikin accumulation/distribution line (exact integer-units cumsum)
# ---------------------------------------------------------------------------


def _q126_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    mf AS (
      SELECT id, dt,
             CAST(floor(
               (CASE WHEN high = low THEN 0.0
                     ELSE ((close - low) - (high - close)) / (high - low) END)
               * volume_cents + 0.5) AS BIGINT) AS mfv_units
      FROM candles
    )
    SELECT id, dt,
           {o_rnd(f"CAST(sum(mfv_units) OVER ({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0", 2)} AS adl
    FROM mf
    """


@query("q126_chaikin_adl", oracle=_q126_oracle())
def q126_chaikin_adl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin accumulation/distribution line: money-flow multiplier
    ((close-low)-(high-close))/(high-low) (flat-bar guard to 0), scaled
    by volume and accumulated per symbol.  The multiplier*volume term is
    quantized to integer units (floor(x+0.5) of the same IEEE double in
    both engines) before the running sum, so the cumulative series is an
    exact bigint — association-order-proof like q31's OBV.  One window
    chain, zero extra shuffles."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    mfm = F.when(F.col("high") == F.col("low"), F.lit(0.0)).otherwise(
        ((F.col("close") - F.col("low")) - (F.col("high") - F.col("close")))
        / (F.col("high") - F.col("low"))
    )
    mf = c.select(
        "id",
        "dt",
        F.floor(mfm * F.col("volume_cents") + 0.5).cast("long").alias("mfv_units"),
    )
    return mf.select(
        "id",
        "dt",
        prnd(
            F.sum("mfv_units")
            .over(w.rowsBetween(W.unboundedPreceding, 0))
            .cast("double")
            / 100.0,
            2,
        ).alias("adl"),
    )


# ---------------------------------------------------------------------------
# Classic floor-trader pivot points
# ---------------------------------------------------------------------------


def _q127_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    prev AS (
      SELECT id, dt,
             lag(high)  OVER ({_WIN}) AS ph,
             lag(low)   OVER ({_WIN}) AS pl,
             lag(close) OVER ({_WIN}) AS pc
      FROM candles
    )
    SELECT id, dt,
           {o_rnd('(ph + pl + pc) / 3.0', 2)} AS pivot,
           {o_rnd('2.0 * ((ph + pl + pc) / 3.0) - pl', 2)} AS r1,
           {o_rnd('2.0 * ((ph + pl + pc) / 3.0) - ph', 2)} AS s1,
           {o_rnd('(ph + pl + pc) / 3.0 + (ph - pl)', 2)} AS r2,
           {o_rnd('(ph + pl + pc) / 3.0 - (ph - pl)', 2)} AS s2
    FROM prev WHERE ph IS NOT NULL
    """


@query("q127_pivot_points", oracle=_q127_oracle())
def q127_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic floor-trader pivot levels from the prior bar's H/L/C:
    P=(H+L+C)/3, R1=2P-L, S1=2P-H, R2=P+(H-L), S2=P-(H-L).  Three lags
    on the shared per-symbol sort and pure scalar arithmetic — the
    expression trees are written identically in both engines so every
    level is the same IEEE double before rounding."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    ph = F.lag("high").over(w)
    pl = F.lag("low").over(w)
    pc = F.lag("close").over(w)
    p = (ph + pl + pc) / 3.0
    out = c.select(
        "id",
        "dt",
        prnd(p, 2).alias("pivot"),
        prnd(F.lit(2.0) * p - pl, 2).alias("r1"),
        prnd(F.lit(2.0) * p - ph, 2).alias("s1"),
        prnd(p + (ph - pl), 2).alias("r2"),
        prnd(p - (ph - pl), 2).alias("s2"),
        ph.alias("_ph"),
    )
    return out.filter(F.col("_ph").isNotNull()).drop("_ph")


# ---------------------------------------------------------------------------
# Heikin-Ashi smoothed candles (recursive open chain)
# ---------------------------------------------------------------------------


def _q129_oracle() -> str:
    ha_close = "(c.open + c.high + c.low + c.close) / 4.0"
    return f"""
    WITH RECURSIVE candles AS ({CANDLES_SQL}),
    base AS (
      SELECT id, dt, lag(close) OVER ({_WIN}) AS open, high, low, close
      FROM candles
    ),
    -- MATERIALIZED: see q100 — keeps the window CTE out of the
    -- recursive loop (32s -> 1.8s at sf0.01)
    c AS MATERIALIZED (SELECT id, dt, open, high, low, close,
                 row_number() OVER ({_WIN}) AS rn
          FROM base WHERE open IS NOT NULL),
    ha AS (
      SELECT id, rn, dt, high, low,
             (open + close) / 2.0 AS ha_open,
             (open + high + low + close) / 4.0 AS ha_close
      FROM c WHERE rn = 1
      UNION ALL
      SELECT c.id, c.rn, c.dt, c.high, c.low,
             (h.ha_open + h.ha_close) / 2.0 AS ha_open,
             {ha_close} AS ha_close
      FROM ha h JOIN c ON c.id = h.id AND c.rn = h.rn + 1
    )
    SELECT id, dt,
           {o_rnd('ha_open', 2)} AS ha_open,
           {o_rnd('greatest(high, ha_open, ha_close)', 2)} AS ha_high,
           {o_rnd('least(low, ha_open, ha_close)', 2)} AS ha_low,
           {o_rnd('ha_close', 2)} AS ha_close
    FROM ha
    """


@query("q129_heikin_ashi", oracle=_q129_oracle())
def q129_heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heikin-Ashi smoothed candles: ha_close = (O+H+L+C)/4 rowwise,
    ha_open = midpoint of the PREVIOUS bar's synthetic open/close (a
    genuine recursion, seeded with (open_1+close_1)/2), ha_high/ha_low
    = extremes over the raw and synthetic values.  Open derives as the
    prior close on this daily series (as in q123).  The open chain
    cannot be a window aggregate, so it runs as the same ``_per_id``
    pandas kernel as Holt/EMA (one id-shuffle, O(rows) per key);
    the oracle replays the recursion as a recursive CTE with the
    identical float op sequence, giving the gate a second hash-checked
    recursive stateful operator."""
    from ..operators.indicators import heikin_ashi

    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    base = c.select(
        "id", "dt", F.lag("close").over(w).alias("open"), "high", "low", "close"
    ).filter(F.col("open").isNotNull())
    ha = heikin_ashi(base)
    return ha.select(
        "id",
        "dt",
        prnd("ha_open", 2).alias("ha_open"),
        prnd("ha_high", 2).alias("ha_high"),
        prnd("ha_low", 2).alias("ha_low"),
        prnd("ha_close", 2).alias("ha_close"),
    )


# ---------------------------------------------------------------------------
# Rolling volatility / Sharpe on log returns
# ---------------------------------------------------------------------------

_VOL_N = 20
_ANN = "sqrt(365.0)"


def _q130_oracle() -> str:
    frame = f"{_WIN} ROWS BETWEEN {_VOL_N - 1} PRECEDING AND CURRENT ROW"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt,
             ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles
    ),
    w AS (
      SELECT id, dt, ret,
             avg(ret)        OVER ({frame}) AS mu,
             stddev_pop(ret) OVER ({frame}) AS sd,
             count(*)        OVER ({frame}) AS nw
      FROM r WHERE ret IS NOT NULL
    )
    SELECT id, dt,
           {o_rnd('ret', 6)} AS log_ret,
           {o_rnd(f'sd * {_ANN}', 6)} AS vol_20_ann,
           {o_rnd(f'CASE WHEN sd = 0 THEN 0.0 ELSE mu / sd * {_ANN} END', 4)} AS sharpe_20_ann
    FROM w WHERE nw = {_VOL_N}
    """


@query("q130_rolling_volatility", oracle=_q130_oracle())
def q130_rolling_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized rolling volatility and Sharpe ratio over 20-day log
    returns — the risk metrics every strategy backtest derives from the
    candle series.  ``stddev_pop`` is pinned in both engines (the q30
    Bollinger precedent); flat-window Sharpe guards to 0.  One lag plus
    one window frame on the shared per-symbol sort."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id", "dt", F.log(F.col("close") / F.lag("close").over(w)).alias("ret")
    ).filter(F.col("ret").isNotNull())
    wa = w.rowsBetween(-(_VOL_N - 1), 0)
    mu = F.avg("ret").over(wa)
    sd = F.stddev_pop("ret").over(wa)
    ann = F.sqrt(F.lit(365.0))
    out = r.select(
        "id",
        "dt",
        prnd("ret", 6).alias("log_ret"),
        prnd(sd * ann, 6).alias("vol_20_ann"),
        prnd(
            F.when(sd == 0, F.lit(0.0)).otherwise(mu / sd * ann), 4
        ).alias("sharpe_20_ann"),
        F.count("*").over(wa).alias("_nw"),
    )
    return out.filter(F.col("_nw") == _VOL_N).drop("_nw")


# ---------------------------------------------------------------------------
# Keltner channels (original SMA form)
# ---------------------------------------------------------------------------

_KEL_N = 10


def _q131_oracle() -> str:
    frame = f"{_WIN} ROWS BETWEEN {_KEL_N - 1} PRECEDING AND CURRENT ROW"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    w AS (
      SELECT id, dt,
             avg((high + low + close) / 3.0) OVER ({frame}) AS mid,
             avg(high - low)                 OVER ({frame}) AS band,
             count(*)                        OVER ({frame}) AS nw
      FROM candles
    )
    SELECT id, dt,
           {o_rnd('mid', 2)} AS keltner_mid,
           {o_rnd('mid + band', 2)} AS keltner_upper,
           {o_rnd('mid - band', 2)} AS keltner_lower
    FROM w WHERE nw = {_KEL_N}
    """


@query("q131_keltner", oracle=_q131_oracle())
def q131_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner channels in Chester Keltner's original 10-day form:
    midline = SMA of the typical price (H+L+C)/3, bands offset by the
    SMA of the daily range — the volatility envelope that predates
    Bollinger (q30) and ATR-based variants (q121).  Two rolling means
    over one frame, warm-up suppressed, zero extra shuffles."""
    c = candles(spark, sf_dir)
    wa = W.partitionBy("id").orderBy("dt").rowsBetween(-(_KEL_N - 1), 0)
    mid = F.avg(
        (F.col("high") + F.col("low") + F.col("close")) / 3.0
    ).over(wa)
    band = F.avg(F.col("high") - F.col("low")).over(wa)
    out = c.select(
        "id",
        "dt",
        prnd(mid, 2).alias("keltner_mid"),
        prnd(mid + band, 2).alias("keltner_upper"),
        prnd(mid - band, 2).alias("keltner_lower"),
        F.count("*").over(wa).alias("_nw"),
    )
    return out.filter(F.col("_nw") == _KEL_N).drop("_nw")


# ---------------------------------------------------------------------------
# ADX(14) — Wilder's Average Directional Index (two chained recursions)
# ---------------------------------------------------------------------------


def _q145_oracle() -> str:
    return f"""
    WITH RECURSIVE candles AS ({CANDLES_SQL}),
    base AS (
      SELECT id, dt, high, low, close,
             lag(high)  OVER ({_WIN}) AS ph,
             lag(low)   OVER ({_WIN}) AS pl,
             lag(close) OVER ({_WIN}) AS pc
      FROM candles
    ),
    c AS MATERIALIZED (
      SELECT id, dt,
             greatest(high - low, abs(high - pc), abs(low - pc)) AS tr,
             CASE WHEN (high - ph) > (pl - low) AND (high - ph) > 0.0
                  THEN high - ph ELSE 0.0 END AS pdm,
             CASE WHEN (pl - low) > (high - ph) AND (pl - low) > 0.0
                  THEN pl - low ELSE 0.0 END AS mdm,
             row_number() OVER ({_WIN}) AS rn
      FROM base WHERE pc IS NOT NULL
    ),
    r AS (
      SELECT id, rn, dt, tr AS trsum, pdm AS pdmsum, mdm AS mdmsum,
             CAST(NULL AS DOUBLE) AS atr, CAST(NULL AS DOUBLE) AS pdm14,
             CAST(NULL AS DOUBLE) AS mdm14, CAST(NULL AS DOUBLE) AS dip,
             CAST(NULL AS DOUBLE) AS dim, CAST(0.0 AS DOUBLE) AS dxcum,
             CAST(NULL AS DOUBLE) AS adx
      FROM c WHERE rn = 1
      UNION ALL
      SELECT id, rn, dt, trsum, pdmsum, mdmsum, atr, pdm14, mdm14, dip, dim,
             CASE WHEN rn >= 14 AND rn <= 27 THEN dxcum + dx ELSE dxcum END AS dxcum,
             CASE WHEN rn = 27 THEN (dxcum + dx) / 14.0
                  WHEN rn > 27 THEN (adx0 * 13.0 + dx) / 14.0 END AS adx
      FROM (
        SELECT *,
               CASE WHEN rn >= 14 THEN
                 CASE WHEN dip + dim > 0.0
                      THEN 100.0 * abs(dip - dim) / (dip + dim) ELSE 0.0 END
               END AS dx
        FROM (
          SELECT id, rn, dt, trsum, pdmsum, mdmsum, atr, pdm14, mdm14,
                 CASE WHEN rn >= 14 THEN
                   CASE WHEN atr > 0.0 THEN 100.0 * pdm14 / atr ELSE 0.0 END
                 END AS dip,
                 CASE WHEN rn >= 14 THEN
                   CASE WHEN atr > 0.0 THEN 100.0 * mdm14 / atr ELSE 0.0 END
                 END AS dim,
                 dxcum, adx0
          FROM (
            SELECT c.id, c.rn, c.dt,
                   CASE WHEN c.rn <= 14 THEN p.trsum + c.tr ELSE p.trsum END AS trsum,
                   CASE WHEN c.rn <= 14 THEN p.pdmsum + c.pdm ELSE p.pdmsum END AS pdmsum,
                   CASE WHEN c.rn <= 14 THEN p.mdmsum + c.mdm ELSE p.mdmsum END AS mdmsum,
                   CASE WHEN c.rn = 14 THEN (p.trsum + c.tr) / 14.0
                        WHEN c.rn > 14 THEN (p.atr * 13.0 + c.tr) / 14.0 END AS atr,
                   CASE WHEN c.rn = 14 THEN (p.pdmsum + c.pdm) / 14.0
                        WHEN c.rn > 14 THEN (p.pdm14 * 13.0 + c.pdm) / 14.0 END AS pdm14,
                   CASE WHEN c.rn = 14 THEN (p.mdmsum + c.mdm) / 14.0
                        WHEN c.rn > 14 THEN (p.mdm14 * 13.0 + c.mdm) / 14.0 END AS mdm14,
                   p.dxcum AS dxcum, p.adx AS adx0
            FROM r p JOIN c ON c.id = p.id AND c.rn = p.rn + 1
          )
        )
      )
    )
    SELECT id, dt,
           {o_rnd('atr', 2)} AS atr_14,
           {o_rnd('dip', 4)} AS plus_di,
           {o_rnd('dim', 4)} AS minus_di,
           {o_rnd('adx', 4)} AS adx
    FROM r WHERE rn >= 27
    """


@query("q145_adx", oracle=_q145_oracle())
def q145_adx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADX(14): true range / +DM / -DM per bar, Wilder-smoothed into
    ATR and +DI/-DI, DX = 100*|+DI - -DI|/(+DI + -DI), and ADX as a
    SECOND Wilder smoothing of DX (mean-of-first-14 seed) — the
    deepest recursion in the indicator family (two chained stateful
    smoothers). Runs as the standard ``_per_id`` pandas kernel (one
    id-shuffle, O(rows) per key); the oracle replays the identical
    state machine as a recursive CTE, so every intermediate double is
    bit-equal and the output hash-checks at the 2/4-decimal grids."""
    from ..operators.indicators import adx

    out = adx(candles(spark, sf_dir))
    return out.filter(F.col("adx").isNotNull()).select(
        "id",
        "dt",
        prnd("atr", 2).alias("atr_14"),
        prnd("plus_di", 4).alias("plus_di"),
        prnd("minus_di", 4).alias("minus_di"),
        prnd("adx", 4).alias("adx"),
    )


# ---------------------------------------------------------------------------
# TRIX(15) — triple-EMA rate of change
# ---------------------------------------------------------------------------


def _q146_oracle() -> str:
    a, oma = 0.125, 0.875  # 2/(15+1), exactly representable doubles
    return f"""
    WITH RECURSIVE candles AS ({CANDLES_SQL}),
    c AS MATERIALIZED (
      SELECT id, dt, close, row_number() OVER ({_WIN}) AS rn FROM candles
    ),
    r AS (
      SELECT id, rn, dt, close AS s1, CAST(NULL AS DOUBLE) AS e1,
             CAST(0.0 AS DOUBLE) AS s2, CAST(NULL AS DOUBLE) AS e2,
             CAST(0.0 AS DOUBLE) AS s3, CAST(NULL AS DOUBLE) AS e3,
             CAST(NULL AS DOUBLE) AS trix
      FROM c WHERE rn = 1
      UNION ALL
      SELECT id, rn, dt, s1, e1, s2, e2, s3, e3n AS e3,
             CASE WHEN e3p IS NOT NULL AND e3n IS NOT NULL
                  THEN 100.0 * (e3n / e3p - 1.0) END AS trix
      FROM (
        SELECT id, rn, dt, s1, e1, s2, e2,
               CASE WHEN rn >= 29 AND rn <= 43 THEN s3p + e2 ELSE s3p END AS s3,
               CASE WHEN rn = 43 THEN (s3p + e2) / 15.0
                    WHEN rn > 43 THEN {a} * e2 + {oma} * e3p END AS e3n,
               e3p
        FROM (
          SELECT id, rn, dt, s1, e1,
                 CASE WHEN rn >= 15 AND rn <= 29 THEN s2p + e1 ELSE s2p END AS s2,
                 CASE WHEN rn = 29 THEN (s2p + e1) / 15.0
                      WHEN rn > 29 THEN {a} * e1 + {oma} * e2p END AS e2,
                 s3p, e3p
          FROM (
            SELECT c.id, c.rn, c.dt,
                   CASE WHEN c.rn <= 15 THEN p.s1 + c.close ELSE p.s1 END AS s1,
                   CASE WHEN c.rn = 15 THEN (p.s1 + c.close) / 15.0
                        WHEN c.rn > 15 THEN {a} * c.close + {oma} * p.e1 END AS e1,
                   p.s2 AS s2p, p.e2 AS e2p, p.s3 AS s3p, p.e3 AS e3p
            FROM r p JOIN c ON c.id = p.id AND c.rn = p.rn + 1
          )
        )
      )
    )
    SELECT id, dt,
           {o_rnd('e3', 2)} AS ema3_15,
           {o_rnd('trix', 6)} AS trix
    FROM r WHERE trix IS NOT NULL
    """


@query("q146_trix", oracle=_q146_oracle())
def q146_trix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIX(15): 1-bar percent rate of change of a triple-smoothed EMA
    (each level SMA-seeded per the family convention) — the
    momentum oscillator whose triple recursion exercises CHAINED
    stateful streams (e2 consumes e1's warm-up boundary, e3 consumes
    e2's). Same kernel/oracle discipline as q145."""
    from ..operators.indicators import trix

    out = trix(candles(spark, sf_dir))
    return out.filter(F.col("trix").isNotNull()).select(
        "id",
        "dt",
        prnd("ema3", 2).alias("ema3_15"),
        prnd("trix", 6).alias("trix"),
    )


# ---------------------------------------------------------------------------
# CCI(20) — Commodity Channel Index (windowed mean absolute deviation)
# ---------------------------------------------------------------------------

_CCI_N = 20


def _q147_oracle() -> str:
    fr = f"({_WIN} ROWS BETWEEN {_CCI_N - 1} PRECEDING AND CURRENT ROW)"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    t AS (SELECT id, dt, (high + low + close) / 3.0 AS tp FROM candles),
    w AS (
      SELECT id, dt, tp,
             avg(tp)  OVER {fr} AS sma,
             list(tp) OVER {fr} AS lst,
             count(*) OVER {fr} AS nw
      FROM t
    ),
    m AS (
      SELECT id, dt, tp, sma,
             list_aggregate(list_transform(lst, x -> abs(x - sma)), 'sum')
               / {float(_CCI_N)} AS md
      FROM w WHERE nw = {_CCI_N}
    )
    SELECT id, dt,
           {o_rnd('tp', 2)} AS tp,
           {o_rnd('sma', 2)} AS sma_20,
           {o_rnd('CASE WHEN md > 0.0 THEN (tp - sma) / (0.015 * md) ELSE 0.0 END', 4)} AS cci
    FROM m
    """


@query("q147_cci", oracle=_q147_oracle())
def q147_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCI(20): (typical price - SMA) / (0.015 * mean absolute
    deviation from the CURRENT window's mean). The deviation-from-
    window-mean makes this inexpressible as a plain window aggregate —
    but NOT kernel-worthy: collect_list over the 20-row frame plus a
    JVM higher-order fold (transform/aggregate) computes it with zero
    Python and the same single per-id sort as every other window
    indicator. Constant 20-element lists bound memory at any scale."""
    c = candles(spark, sf_dir)
    w20 = (
        W.partitionBy("id").orderBy("dt").rowsBetween(-(_CCI_N - 1), 0)
    )
    t = c.select(
        "id", "dt",
        ((F.col("high") + F.col("low") + F.col("close")) / 3.0).alias("tp"),
    )
    w = t.select(
        "id", "dt", "tp",
        F.avg("tp").over(w20).alias("sma"),
        F.collect_list("tp").over(w20).alias("lst"),
        F.count("*").over(w20).alias("nw"),
    ).filter(F.col("nw") == _CCI_N)
    md = (
        F.aggregate(
            F.transform("lst", lambda x: F.abs(x - F.col("sma"))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / float(_CCI_N)
    )
    m = w.select("id", "dt", "tp", "sma", md.alias("md"))
    cci = F.when(
        F.col("md") > 0.0,
        (F.col("tp") - F.col("sma")) / (0.015 * F.col("md")),
    ).otherwise(F.lit(0.0))
    return m.select(
        "id",
        "dt",
        prnd("tp", 2).alias("tp"),
        prnd("sma", 2).alias("sma_20"),
        prnd(cci, 4).alias("cci"),
    )


# ---------------------------------------------------------------------------
# Rolling market beta / correlation (30-day, algebraic window sums)
# ---------------------------------------------------------------------------

_BETA_N = 30


def _q155_oracle() -> str:
    fr = f"(PARTITION BY r.id ORDER BY r.dt ROWS BETWEEN {_BETA_N - 1} PRECEDING AND CURRENT ROW)"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r0 AS (
      SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles
    ),
    r1 AS (SELECT id, dt, ret FROM r0 WHERE ret IS NOT NULL),
    mkt AS (SELECT dt, avg(ret) AS mret FROM r1 GROUP BY dt),
    r AS (SELECT r1.id, r1.dt, r1.ret, mkt.mret FROM r1 JOIN mkt USING (dt)),
    w AS (
      SELECT id, dt,
             count(*)       OVER {fr} AS n,
             sum(ret)       OVER {fr} AS sr,
             sum(mret)      OVER {fr} AS sm,
             sum(ret*mret)  OVER {fr} AS srm,
             sum(mret*mret) OVER {fr} AS smm,
             sum(ret*ret)   OVER {fr} AS srr
      FROM r
    )
    SELECT id, dt,
           {o_rnd(f'(srm - sr * sm / {float(_BETA_N)}) / (smm - sm * sm / {float(_BETA_N)})', 4)} AS beta_30,
           {o_rnd(f'(srm - sr * sm / {float(_BETA_N)}) / sqrt((srr - sr * sr / {float(_BETA_N)}) * (smm - sm * sm / {float(_BETA_N)}))', 4)} AS corr_30
    FROM w WHERE n = {_BETA_N}
    """


@query("q155_rolling_beta", oracle=_q155_oracle())
def q155_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day beta and correlation of each symbol against the
    equal-weight market (cross-sectional mean of per-symbol log
    returns) — the factor-exposure measure portfolio risk reads daily.

    The market series is a per-dt aggregate of the tiny returns frame
    (days x symbols rows, broadcast-joined back on dt), and the rolling
    stats are ALGEBRAIC sufficient sums (n, Sx, Sy, Sxy, Sxx, Syy) over
    one per-id window — the same single id-sort every other indicator
    shares; no per-window recomputation, no pandas."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = (
        c.select(
            "id",
            "dt",
            F.log(F.col("close") / F.lag("close").over(w)).alias("ret"),
        )
        .filter(F.col("ret").isNotNull())
    )
    mkt = r.groupBy("dt").agg(F.avg("ret").alias("mret"))
    j = r.join(F.broadcast(mkt), "dt")
    fr = W.partitionBy("id").orderBy("dt").rowsBetween(-(_BETA_N - 1), 0)
    nf = float(_BETA_N)
    stats = j.select(
        "id",
        "dt",
        F.count("*").over(fr).alias("n"),
        F.sum("ret").over(fr).alias("sr"),
        F.sum("mret").over(fr).alias("sm"),
        F.sum(F.col("ret") * F.col("mret")).over(fr).alias("srm"),
        F.sum(F.col("mret") * F.col("mret")).over(fr).alias("smm"),
        F.sum(F.col("ret") * F.col("ret")).over(fr).alias("srr"),
    ).filter(F.col("n") == _BETA_N)
    cov = F.col("srm") - F.col("sr") * F.col("sm") / nf
    varm = F.col("smm") - F.col("sm") * F.col("sm") / nf
    varr = F.col("srr") - F.col("sr") * F.col("sr") / nf
    return stats.select(
        "id",
        "dt",
        prnd(cov / varm, 4).alias("beta_30"),
        prnd(cov / F.sqrt(varr * varm), 4).alias("corr_30"),
    )


# ---------------------------------------------------------------------------
# q163 cogrouped as-of adjustment (FlatMapCoGroupsInPandas surface)
# ---------------------------------------------------------------------------


def _q163_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    adj0 AS (
      SELECT id, date_trunc('month', dt) AS mth, min(dt) AS dt0
      FROM candles GROUP BY id, date_trunc('month', dt)
    ),
    adj AS (
      SELECT id, dt0,
             1.0 + (CAST(EXTRACT(month FROM dt0) % 3 AS DOUBLE) + 1.0) / 100.0 AS factor,
             lead(dt0) OVER (PARTITION BY id ORDER BY dt0) AS dt1
      FROM adj0
    )
    SELECT c.id, c.dt,
           {o_rnd('c.close', 2)} AS close,
           {o_rnd('a.factor', 4)} AS factor,
           {o_rnd('c.close * a.factor', 2)} AS adj_close
    FROM candles c JOIN adj a
      ON a.id = c.id AND c.dt >= a.dt0
     AND (a.dt1 IS NULL OR c.dt < a.dt1)
    """


@query("q163_cogrouped_adjust", oracle=_q163_oracle())
def q163_cogrouped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped as-of apply — the LAST Arrow surface of SURVEY §2.10
    (FlatMapCoGroupsInPandas, next to grouped-map / map-iterator /
    grouped-agg): per id, the candle series cogroups with a sparse
    adjustment table (a deterministic monthly factor derived in-query,
    the corporate-actions/rescale shape) and a pandas kernel applies
    the LATEST adjustment at or before each bar via one searchsorted —
    the classic merge-asof that would otherwise need a range join.

    Both inputs shuffle ONCE on the cogroup key and arrive as two
    aligned Arrow batches per id; kernel cost is O(bars + adjustments)
    per key. The oracle states the same semantics as an interval join
    (lead() closes each adjustment's validity window).
    """
    import numpy as np
    import pandas as pd

    c = candles(spark, sf_dir)
    adj = (
        c.groupBy("id", F.trunc("dt", "month").alias("mth"))
        .agg(F.min("dt").alias("dt0"))
        .select(
            "id",
            "dt0",
            (
                1.0 + ((F.month("dt0") % 3).cast("double") + 1.0) / 100.0
            ).alias("factor"),
        )
    )

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left.sort_values("dt").reset_index(drop=True)
        right = right.sort_values("dt0").reset_index(drop=True)
        idx = (
            np.searchsorted(
                right["dt0"].to_numpy(), left["dt"].to_numpy(), side="right"
            )
            - 1
        )
        ok = idx >= 0
        factor = np.where(ok, right["factor"].to_numpy()[np.maximum(idx, 0)], 1.0)
        out = left[["id", "dt", "close"]].copy()
        out["factor"] = factor
        out["adj_close"] = out["close"].to_numpy() * factor
        return out

    out = (
        c.groupBy("id")
        .cogroup(adj.groupBy("id"))
        .applyInPandas(
            kernel,
            schema="id string, dt date, close double, factor double, adj_close double",
        )
    )
    return out.select(
        "id",
        "dt",
        prnd("close", 2).alias("close"),
        prnd("factor", 4).alias("factor"),
        prnd("adj_close", 2).alias("adj_close"),
    )


# ---------------------------------------------------------------------------
# q172 prediction feature matrix (the reference's model-input table)
# ---------------------------------------------------------------------------


def _q172_oracle() -> str:
    def lagc(k: int) -> str:
        return f"lag(close, {k}) OVER ({_WIN})"

    return f"""
    WITH candles AS ({CANDLES_SQL})
    SELECT id, dt,
           {o_rnd('close', 2)} AS close,
           {o_rnd(lagc(1), 2)} AS close_lag1,
           {o_rnd(lagc(7), 2)} AS close_lag7,
           {o_rnd(lagc(30), 2)} AS close_lag30,
           {o_rnd(f'close / ({lagc(1)}) - 1.0', 6)} AS ret_1,
           {o_rnd(f'close / ({lagc(7)}) - 1.0', 6)} AS ret_7,
           {o_rnd(f'close / ({lagc(30)}) - 1.0', 6)} AS ret_30,
           {o_rnd(f'lead(close, 1) OVER ({_WIN}) / close - 1.0', 6)} AS target_ret_1
    FROM candles
    QUALIFY {lagc(30)} IS NOT NULL AND lead(close, 1) OVER ({_WIN}) IS NOT NULL
    """


@query("q172_feature_matrix", oracle=_q172_oracle())
def q172_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prediction feature matrix — the table the reference's ML stage
    trains on (its entire pipeline exists to produce model inputs from
    candles): lagged closes, multi-horizon returns, and the one-bar-
    ahead TARGET return (a lead, so the label never leaks features).
    Rows with incomplete history or no realized target drop — the
    walk-forward training contract.

    Every column derives from ONE per-id sort (lags, leads and ratios
    share the window); at scale this is the same single exchange as
    the indicator mart, and the output partitions by id/dt for the
    trainer's sharded reader."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    l1 = F.lag("close", 1).over(w)
    l7 = F.lag("close", 7).over(w)
    l30 = F.lag("close", 30).over(w)
    ld1 = F.lead("close", 1).over(w)
    out = c.select(
        "id",
        "dt",
        prnd("close", 2).alias("close"),
        prnd(l1, 2).alias("close_lag1"),
        prnd(l7, 2).alias("close_lag7"),
        prnd(l30, 2).alias("close_lag30"),
        prnd(F.col("close") / l1 - 1.0, 6).alias("ret_1"),
        prnd(F.col("close") / l7 - 1.0, 6).alias("ret_7"),
        prnd(F.col("close") / l30 - 1.0, 6).alias("ret_30"),
        prnd(ld1 / F.col("close") - 1.0, 6).alias("target_ret_1"),
        l30.alias("_l30"),
        ld1.alias("_ld1"),
    )
    return out.filter(
        F.col("_l30").isNotNull() & F.col("_ld1").isNotNull()
    ).drop("_l30", "_ld1")


# ---------------------------------------------------------------------------
# q173 rolling pairwise correlation
# ---------------------------------------------------------------------------

_Q173_N = 30


def _q173_oracle() -> str:
    fr = f"(PARTITION BY id_a, id_b ORDER BY dt ROWS BETWEEN {_Q173_N - 1} PRECEDING AND CURRENT ROW)"
    nf = float(_Q173_N)
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r0 AS (SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret FROM candles),
    r AS (SELECT id, dt, ret FROM r0 WHERE ret IS NOT NULL),
    p AS (
      SELECT a.id AS id_a, b.id AS id_b, a.dt AS dt,
             a.ret AS ra, b.ret AS rb
      FROM r a JOIN r b ON a.dt = b.dt AND a.id < b.id
    ),
    w AS (
      SELECT id_a, id_b, dt,
             count(*)    OVER {fr} AS n,
             sum(ra)     OVER {fr} AS sa,
             sum(rb)     OVER {fr} AS sb,
             sum(ra*rb)  OVER {fr} AS sab,
             sum(ra*ra)  OVER {fr} AS saa,
             sum(rb*rb)  OVER {fr} AS sbb
      FROM p
    )
    SELECT id_a, id_b, dt,
           {o_rnd(f'(sab - sa * sb / {nf}) / sqrt((saa - sa * sa / {nf}) * (sbb - sb * sb / {nf}))', 4)} AS corr_30
    FROM w WHERE n = {_Q173_N}
    """


@query("q173_rolling_pair_corr", oracle=_q173_oracle())
def q173_rolling_pair_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day correlation for EVERY symbol pair (the dynamic
    version of q115's static correlation matrix) — regime-change
    detection reads exactly this table.

    Pairs align by an equi-join on dt (id_a < id_b residual); with S
    symbols that is S(S-1)/2 series of the same length — the pair
    count, not the data volume, is the scale knob. Rolling stats are
    the same algebraic sufficient sums as q155 over ONE window per
    pair. At 100 symbols = 4950 windows of day-length series: still
    days x pairs rows, dwarfed by any fact table."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id", "dt", F.log(F.col("close") / F.lag("close").over(w)).alias("ret")
    ).filter(F.col("ret").isNotNull())
    a = r.select(F.col("id").alias("id_a"), "dt", F.col("ret").alias("ra"))
    b = r.select(F.col("id").alias("id_b"), "dt", F.col("ret").alias("rb"))
    p = a.join(b, "dt").filter(F.col("id_a") < F.col("id_b"))
    fr = (
        W.partitionBy("id_a", "id_b")
        .orderBy("dt")
        .rowsBetween(-(_Q173_N - 1), 0)
    )
    nf = float(_Q173_N)
    stats = p.select(
        "id_a",
        "id_b",
        "dt",
        F.count("*").over(fr).alias("n"),
        F.sum("ra").over(fr).alias("sa"),
        F.sum("rb").over(fr).alias("sb"),
        F.sum(F.col("ra") * F.col("rb")).over(fr).alias("sab"),
        F.sum(F.col("ra") * F.col("ra")).over(fr).alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).over(fr).alias("sbb"),
    ).filter(F.col("n") == _Q173_N)
    cov = F.col("sab") - F.col("sa") * F.col("sb") / nf
    va = F.col("saa") - F.col("sa") * F.col("sa") / nf
    vb = F.col("sbb") - F.col("sb") * F.col("sb") / nf
    return stats.select(
        "id_a", "id_b", "dt", prnd(cov / F.sqrt(va * vb), 4).alias("corr_30")
    )


# ---------------------------------------------------------------------------
# q174 additive seasonal decomposition (period 7)
# ---------------------------------------------------------------------------

_Q174_P = 7


def _q174_oracle() -> str:
    fr = f"({_WIN} ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    t AS (
      SELECT id, dt, close,
             CASE WHEN count(*) OVER {fr} = {_Q174_P}
                  THEN avg(close) OVER {fr} END AS trend,
             dayofweek(dt) AS dow
      FROM candles
    ),
    s AS (
      SELECT id, dow, avg(close - trend) AS seasonal
      FROM t WHERE trend IS NOT NULL
      GROUP BY id, dow
    )
    SELECT t.id, t.dt,
           {o_rnd('t.close', 2)} AS close,
           {o_rnd('t.trend', 4)} AS trend,
           {o_rnd('s.seasonal', 4)} AS seasonal,
           {o_rnd('t.close - t.trend - s.seasonal', 4)} AS residual
    FROM t JOIN s ON s.id = t.id AND s.dow = t.dow
    WHERE t.trend IS NOT NULL
    """


@query("q174_seasonal_decompose", oracle=_q174_oracle())
def q174_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition with weekly period (STL-lite):
    trend = centered 7-day moving average, seasonal = per-weekday mean
    of the detrended series, residual = the remainder — the
    decomposition that separates "it's Sunday" from "something broke"
    before anomaly screens (q132) run.

    One per-id window (centered frame) + one (id, weekday) groupBy of
    7 rows per id joined back broadcast-style. Weekday via dayofweek
    pinned to the same 1=Sunday convention in both engines."""
    c = candles(spark, sf_dir)
    fr = W.partitionBy("id").orderBy("dt").rowsBetween(-3, 3)
    t = c.select(
        "id",
        "dt",
        "close",
        F.when(
            F.count("*").over(fr) == _Q174_P, F.avg("close").over(fr)
        ).alias("trend"),
        F.dayofweek("dt").alias("dow"),
    )
    s = (
        t.filter(F.col("trend").isNotNull())
        .groupBy("id", "dow")
        .agg(F.avg(F.col("close") - F.col("trend")).alias("seasonal"))
    )
    return (
        t.filter(F.col("trend").isNotNull())
        .join(F.broadcast(s), ["id", "dow"])
        .select(
            "id",
            "dt",
            prnd("close", 2).alias("close"),
            prnd("trend", 4).alias("trend"),
            prnd("seasonal", 4).alias("seasonal"),
            prnd(
                F.col("close") - F.col("trend") - F.col("seasonal"), 4
            ).alias("residual"),
        )
    )


# ---------------------------------------------------------------------------
# q175 CUSUM changepoint locator
# ---------------------------------------------------------------------------


def _q175_oracle() -> str:
    cum_fr = f"({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    m AS (
      SELECT id, dt, close,
             avg(close) OVER (PARTITION BY id) AS mu,
             count(*) OVER (PARTITION BY id) AS n
      FROM candles
    ),
    c AS (
      SELECT id, dt, n,
             sum(close - mu) OVER {cum_fr} AS cusum
      FROM m
    ),
    r AS (
      SELECT id, dt, n, cusum,
             row_number() OVER (PARTITION BY id
                                ORDER BY abs(cusum) DESC, dt) AS rk
      FROM c
    )
    SELECT id, CAST(n AS BIGINT) AS n_days, dt AS changepoint_dt,
           {o_rnd('cusum', 2)} AS max_abs_cusum
    FROM r WHERE rk = 1
    """


@query("q175_cusum_changepoint", oracle=_q175_oracle())
def q175_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint location: the running sum of deviations from
    the series mean peaks (in absolute value) at the most likely
    single level-shift point (Page's CUSUM chart read as a locator) —
    the screen that says WHERE a regime changed, where q132's z-scores
    only say that something did.

    Two windows over the one per-id sort (global mean + running sum)
    and an argmax window — all partition-local after a single
    id-exchange. Ties break on the earlier date deterministically."""
    c = candles(spark, sf_dir)
    pw = W.partitionBy("id")
    cum = (
        W.partitionBy("id")
        .orderBy("dt")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    m = c.select(
        "id",
        "dt",
        "close",
        F.avg("close").over(pw).alias("mu"),
        F.count("*").over(pw).alias("n"),
    )
    cu = m.select(
        "id",
        "dt",
        "n",
        F.sum(F.col("close") - F.col("mu")).over(cum).alias("cusum"),
    )
    rk = F.row_number().over(
        W.partitionBy("id").orderBy(F.abs(F.col("cusum")).desc(), "dt")
    )
    return (
        cu.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "id",
            F.col("n").cast("long").alias("n_days"),
            F.col("dt").alias("changepoint_dt"),
            prnd("cusum", 2).alias("max_abs_cusum"),
        )
    )


# ---------------------------------------------------------------------------
# q176 Kalman filter (local level)
# ---------------------------------------------------------------------------

_KALMAN_Q = 10.0  # process noise
_KALMAN_R = 1000.0  # observation noise
_KALMAN_P0 = 1.0e6  # diffuse initial variance


def _q176_oracle() -> str:
    return f"""
    WITH RECURSIVE candles AS ({CANDLES_SQL}),
    c AS MATERIALIZED (
      SELECT id, dt, close, row_number() OVER ({_WIN}) AS rn FROM candles
    ),
    r AS (
      SELECT id, rn, dt, close AS level,
             CAST({_KALMAN_P0} AS DOUBLE) AS p,
             CAST(NULL AS DOUBLE) AS gain
      FROM c WHERE rn = 1
      UNION ALL
      SELECT id, rn, dt,
             level0 + k * (close - level0) AS level,
             (1.0 - k) * pp AS p,
             k AS gain
      FROM (
        SELECT c.id, c.rn, c.dt, c.close,
               p.level AS level0,
               p.p + {_KALMAN_Q} AS pp,
               (p.p + {_KALMAN_Q}) / (p.p + {_KALMAN_Q} + {_KALMAN_R}) AS k
        FROM r p JOIN c ON c.id = p.id AND c.rn = p.rn + 1
      )
    )
    SELECT id, dt,
           {o_rnd('level', 2)} AS kalman_level,
           {o_rnd('gain', 6)} AS kalman_gain
    FROM r WHERE gain IS NOT NULL
    """


@query("q176_kalman_level", oracle=_q176_oracle())
def q176_kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-level Kalman filter per symbol (predict: p += Q; update:
    K = p/(p+R), level += K*(x - level), p *= (1-K)) — the adaptive
    smoother whose gain ANNEALS from the diffuse prior toward the
    steady state, unlike EMA's fixed alpha. Seeded level = first
    close, p0 diffuse.

    Same ``_per_id`` pandas kernel law as EMA/Holt/ADX (one
    id-shuffle, O(rows) sequential state per key); the oracle replays
    the identical predict/update float sequence as a recursive CTE, so
    a genuinely adaptive filter is hash-checked bit-for-bit."""
    from ..operators.indicators import kalman_level

    out = kalman_level(candles(spark, sf_dir))
    return out.filter(F.col("kalman_gain").isNotNull()).select(
        "id",
        "dt",
        prnd("kalman_level", 2).alias("kalman_level"),
        prnd("kalman_gain", 6).alias("kalman_gain"),
    )


# ---------------------------------------------------------------------------
# q185 tick-rule signed order flow
# ---------------------------------------------------------------------------


def _q185_oracle() -> str:
    cum = f"({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    t AS (
      SELECT id, dt, close, volume_cents,
             CASE WHEN close > lag(close) OVER ({_WIN}) THEN 1
                  WHEN close < lag(close) OVER ({_WIN}) THEN -1
             END AS tick_raw
      FROM candles
    ),
    s AS (
      SELECT id, dt, volume_cents,
             last_value(tick_raw IGNORE NULLS) OVER {cum} AS tick
      FROM t
    )
    SELECT id, dt,
           CAST(tick AS BIGINT) AS tick,
           CAST(tick * volume_cents AS BIGINT) AS signed_volume_cents,
           CAST(sum(tick * volume_cents) OVER {cum} AS BIGINT) AS cum_flow_cents
    FROM s WHERE tick IS NOT NULL
    """


@query("q185_tick_rule_flow", oracle=_q185_oracle())
def q185_tick_rule_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-rule signed order flow: classify each bar +1/-1 by price
    change, CARRYING the previous sign through unchanged prices
    (the zero-tick rule), then sign the volume and accumulate — the
    microstructure flow-imbalance series (Lee-Ready family without
    quote data).

    The carry-forward is last_value(... IGNORE NULLS) over the running
    frame — the gap-fill idiom (same as the calendar densify in q25) —
    so the "recursive-looking" carry stays a pure window, no kernel.
    Volume rides integer cents: the cumulative flow is exact at any
    association order."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    lagc = F.lag("close").over(w)
    t = c.select(
        "id",
        "dt",
        "volume_cents",
        F.when(F.col("close") > lagc, 1)
        .when(F.col("close") < lagc, -1)
        .alias("tick_raw"),
    )
    s = t.select(
        "id",
        "dt",
        "volume_cents",
        F.last("tick_raw", ignorenulls=True).over(cum).alias("tick"),
    ).filter(F.col("tick").isNotNull())
    signed = F.col("tick") * F.col("volume_cents")
    return s.select(
        "id",
        "dt",
        F.col("tick").cast("long").alias("tick"),
        signed.cast("long").alias("signed_volume_cents"),
        F.sum(signed).over(cum).cast("long").alias("cum_flow_cents"),
    )


# ---------------------------------------------------------------------------
# q186 Amihud illiquidity
# ---------------------------------------------------------------------------

_Q186_N = 20


def _q186_oracle() -> str:
    fr = f"({_WIN} ROWS BETWEEN {_Q186_N - 1} PRECEDING AND CURRENT ROW)"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt,
             abs(close / lag(close) OVER ({_WIN}) - 1.0)
               / (CAST(volume_cents AS DOUBLE) / 100.0) * 1000000.0 AS illiq
      FROM candles
    ),
    w AS (
      SELECT id, dt, illiq,
             count(illiq) OVER {fr} AS n,
             avg(illiq) OVER {fr} AS amihud
      FROM r WHERE illiq IS NOT NULL
    )
    SELECT id, dt,
           {o_rnd('illiq', 6)} AS illiq_daily,
           {o_rnd('amihud', 6)} AS amihud_20
    FROM w WHERE n = {_Q186_N}
    """


@query("q186_amihud_illiquidity", oracle=_q186_oracle())
def q186_amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud (2002) illiquidity: |return| per unit of traded value
    (scaled x10^6), rolling 20-day mean — the standard price-impact
    proxy when order-book depth isn't available. One lag + one rolling
    window on the shared per-id sort; volume converts from exact
    integer cents in the same expression both engines run."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    fr = w.rowsBetween(-(_Q186_N - 1), 0)
    illiq = (
        F.abs(F.col("close") / F.lag("close").over(w) - 1.0)
        / (F.col("volume_cents").cast("double") / 100.0)
        * 1000000.0
    )
    r = c.select("id", "dt", illiq.alias("illiq")).filter(
        F.col("illiq").isNotNull()
    )
    out = r.select(
        "id",
        "dt",
        "illiq",
        F.count("illiq").over(fr).alias("n"),
        F.avg("illiq").over(fr).alias("amihud"),
    ).filter(F.col("n") == _Q186_N)
    return out.select(
        "id",
        "dt",
        prnd("illiq", 6).alias("illiq_daily"),
        prnd("amihud", 6).alias("amihud_20"),
    )


# ---------------------------------------------------------------------------
# q187 underwater (drawdown) streaks
# ---------------------------------------------------------------------------


def _q187_oracle() -> str:
    cum = f"({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    hw AS (
      SELECT id, dt, close,
             CASE WHEN close >= max(close) OVER {cum} THEN 1 ELSE 0 END AS at_high
      FROM candles
    ),
    grp AS (
      SELECT id, dt, at_high,
             sum(at_high) OVER {cum} AS epoch
      FROM hw
    ),
    runs AS (
      SELECT id, epoch,
             count(*) - max(at_high) AS underwater_days,
             min(dt) AS start_dt, max(dt) AS end_dt
      FROM grp GROUP BY id, epoch
    ),
    best AS (
      SELECT id, underwater_days, start_dt, end_dt,
             row_number() OVER (PARTITION BY id
                                ORDER BY underwater_days DESC, start_dt) AS rk
      FROM runs WHERE underwater_days > 0
    )
    SELECT id, CAST(underwater_days AS BIGINT) AS underwater_days,
           start_dt, end_dt
    FROM best WHERE rk <= 3
    """


@query("q187_underwater_streaks", oracle=_q187_oracle())
def q187_underwater_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest underwater streaks: the top-3 longest runs of
    consecutive days below the running high-water mark per symbol —
    the drawdown-DURATION risk metric that q116's depth-only max
    drawdown misses.

    Gaps-and-islands composition: running max -> at-high flag ->
    running sum of flags as the epoch id (each new high starts an
    epoch) -> per-epoch counts. Three windows and a groupBy, all on
    the single per-id sort."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    hw = c.select(
        "id",
        "dt",
        (F.col("close") >= F.max("close").over(cum))
        .cast("int")
        .alias("at_high"),
    )
    grp = hw.select(
        "id", "dt", "at_high", F.sum("at_high").over(cum).alias("epoch")
    )
    runs = grp.groupBy("id", "epoch").agg(
        (F.count("*") - F.max("at_high")).alias("underwater_days"),
        F.min("dt").alias("start_dt"),
        F.max("dt").alias("end_dt"),
    )
    rk = F.row_number().over(
        W.partitionBy("id").orderBy(
            F.col("underwater_days").desc(), "start_dt"
        )
    )
    return (
        runs.filter(F.col("underwater_days") > 0)
        .withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select(
            "id",
            F.col("underwater_days").cast("long").alias("underwater_days"),
            "start_dt",
            "end_dt",
        )
    )


# ---------------------------------------------------------------------------
# q189 Hurst exponent via rescaled range (R/S) analysis
# ---------------------------------------------------------------------------

_Q189_SMALL, _Q189_BIG = 16, 64


def _q189_rs_cte(n: int, tag: str) -> str:
    return f"""
    blk{tag} AS (
      SELECT id, dt, ret,
             CAST((row_number() OVER ({_WIN}) - 1) // {n} AS BIGINT) AS blk,
             row_number() OVER ({_WIN}) AS rn
      FROM r
    ),
    full{tag} AS (
      SELECT id, blk FROM blk{tag} GROUP BY id, blk HAVING count(*) = {n}
    ),
    m{tag} AS (
      SELECT b.id, b.blk, avg(b.ret) AS mu, stddev_pop(b.ret) AS sd
      FROM blk{tag} b JOIN full{tag} USING (id, blk)
      GROUP BY b.id, b.blk
    ),
    c{tag} AS (
      SELECT b.id, b.blk,
             sum(b.ret - m.mu) OVER (PARTITION BY b.id, b.blk ORDER BY b.rn
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cumdev,
             m.sd
      FROM blk{tag} b JOIN m{tag} m ON m.id = b.id AND m.blk = b.blk
    ),
    rs{tag} AS (
      SELECT id, blk,
             (max(cumdev) - min(cumdev)) / max(sd) AS rs
      FROM c{tag} WHERE sd > 0 GROUP BY id, blk
    ),
    avg{tag} AS (SELECT id, avg(rs) AS rs_{tag} FROM rs{tag} GROUP BY id)
    """


def _q189_oracle() -> str:
    import math

    logratio = math.log(float(_Q189_BIG) / _Q189_SMALL)
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r0 AS (SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret FROM candles),
    r AS (SELECT id, dt, ret FROM r0 WHERE ret IS NOT NULL),
    {_q189_rs_cte(_Q189_SMALL, 's')},
    {_q189_rs_cte(_Q189_BIG, 'b')}
    SELECT avgs.id,
           {o_rnd('rs_s', 4)} AS rs_small,
           {o_rnd('rs_b', 4)} AS rs_big,
           {o_rnd(f'ln(rs_b / rs_s) / {logratio!r}', 4)} AS hurst
    FROM avgs JOIN avgb USING (id)
    """


@query("q189_hurst_exponent", oracle=_q189_oracle())
def q189_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent via two-scale rescaled-range (R/S) analysis:
    chunk each symbol's return series into non-overlapping blocks of
    16 and 64, compute each block's range-of-cumulative-deviations
    over its own std, average per scale, and estimate H from the
    log-ratio (H=0.5 random walk, >0.5 trending, <0.5 mean-reverting).

    Blocks derive from row_number arithmetic (q139's segmentation idea
    on a series); per-block moments are partial-agg groupBys; the
    cumulative deviation is one window per (id, block). Everything
    rides the single per-id sort — two scales just reuse it."""
    import math

    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id", "dt", F.log(F.col("close") / F.lag("close").over(w)).alias("ret")
    ).filter(F.col("ret").isNotNull())
    rn = F.row_number().over(w)
    base = r.select("id", "dt", "ret", rn.alias("rn"))

    def rs_scale(n: int):
        blk = base.select(
            "id", "ret", "rn", (((F.col("rn") - 1) / n).cast("long")).alias("blk")
        )
        full = blk.groupBy("id", "blk").agg(F.count("*").alias("cnt")).filter(
            F.col("cnt") == n
        ).select("id", "blk")
        blk = blk.join(full, ["id", "blk"])
        m = blk.groupBy("id", "blk").agg(
            F.avg("ret").alias("mu"), F.stddev_pop("ret").alias("sd")
        )
        cw = (
            W.partitionBy("id", "blk")
            .orderBy("rn")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        cdev = blk.join(m, ["id", "blk"]).select(
            "id",
            "blk",
            "sd",
            F.sum(F.col("ret") - F.col("mu")).over(cw).alias("cumdev"),
        )
        rs = (
            cdev.filter(F.col("sd") > 0)
            .groupBy("id", "blk")
            .agg(
                ((F.max("cumdev") - F.min("cumdev")) / F.max("sd")).alias("rs")
            )
        )
        return rs.groupBy("id").agg(F.avg("rs").alias(f"rs_{n}"))

    a_s = rs_scale(_Q189_SMALL)
    a_b = rs_scale(_Q189_BIG)
    logratio = math.log(float(_Q189_BIG) / _Q189_SMALL)
    return a_s.join(a_b, "id").select(
        "id",
        prnd(f"rs_{_Q189_SMALL}", 4).alias("rs_small"),
        prnd(f"rs_{_Q189_BIG}", 4).alias("rs_big"),
        prnd(
            F.log(F.col(f"rs_{_Q189_BIG}") / F.col(f"rs_{_Q189_SMALL}"))
            / logratio,
            4,
        ).alias("hurst"),
    )


# ---------------------------------------------------------------------------
# q197 seasonality / trend strength (variance decomposition)
# ---------------------------------------------------------------------------


def _q197_oracle() -> str:
    fr = f"({_WIN} ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    t AS (
      SELECT id, dt, close,
             CASE WHEN count(*) OVER {fr} = 7
                  THEN avg(close) OVER {fr} END AS trend,
             dayofweek(dt) AS dow
      FROM candles
    ),
    s AS (
      SELECT id, dow, avg(close - trend) AS seasonal
      FROM t WHERE trend IS NOT NULL GROUP BY id, dow
    ),
    comp AS (
      SELECT t.id,
             t.close - t.trend - s.seasonal AS resid,
             t.close - t.trend AS detrended,
             t.close - s.seasonal AS deseasoned
      FROM t JOIN s ON s.id = t.id AND s.dow = t.dow
      WHERE t.trend IS NOT NULL
    )
    SELECT id,
           {o_rnd('greatest(0.0, 1.0 - var_pop(resid) / var_pop(detrended))', 6)} AS seasonal_strength,
           {o_rnd('greatest(0.0, 1.0 - var_pop(resid) / var_pop(deseasoned))', 6)} AS trend_strength
    FROM comp GROUP BY id
    """


@query("q197_seasonality_strength", oracle=_q197_oracle())
def q197_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality and trend strength (Hyndman's STL diagnostics):
    1 - var(resid)/var(detrended) and 1 - var(resid)/var(deseasoned),
    clipped at 0 — the one-number answers to "does this series have a
    weekly pattern worth modeling?", computed from q174's additive
    decomposition components in a single variance pass per id."""
    c = candles(spark, sf_dir)
    fr = W.partitionBy("id").orderBy("dt").rowsBetween(-3, 3)
    t = c.select(
        "id",
        "dt",
        "close",
        F.when(F.count("*").over(fr) == 7, F.avg("close").over(fr)).alias(
            "trend"
        ),
        F.dayofweek("dt").alias("dow"),
    ).filter(F.col("trend").isNotNull())
    s = t.groupBy("id", "dow").agg(
        F.avg(F.col("close") - F.col("trend")).alias("seasonal")
    )
    comp = t.join(F.broadcast(s), ["id", "dow"]).select(
        "id",
        (F.col("close") - F.col("trend") - F.col("seasonal")).alias("resid"),
        (F.col("close") - F.col("trend")).alias("detrended"),
        (F.col("close") - F.col("seasonal")).alias("deseasoned"),
    )
    return comp.groupBy("id").agg(
        prnd(
            F.greatest(
                F.lit(0.0),
                1.0 - F.var_pop("resid") / F.var_pop("detrended"),
            ),
            6,
        ).alias("seasonal_strength"),
        prnd(
            F.greatest(
                F.lit(0.0),
                1.0 - F.var_pop("resid") / F.var_pop("deseasoned"),
            ),
            6,
        ).alias("trend_strength"),
    )


# ---------------------------------------------------------------------------
# q205 AR(1) mean-reversion fit
# ---------------------------------------------------------------------------


def _q205_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r0 AS (SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret FROM candles),
    p AS (
      SELECT id, ret,
             lag(ret) OVER ({_WIN.replace('ORDER BY dt', 'ORDER BY dt')}) AS pret
      FROM r0 WHERE ret IS NOT NULL
    ),
    s AS (
      SELECT id, count(*) AS n,
             sum(pret) AS sx, sum(ret) AS sy,
             sum(pret * ret) AS sxy, sum(pret * pret) AS sxx
      FROM p WHERE pret IS NOT NULL GROUP BY id
    )
    SELECT id, CAST(n AS BIGINT) AS n_obs,
           {o_rnd('(sxy - sx * sy / n) / (sxx - sx * sx / n)', 6)} AS phi,
           {o_rnd('CASE WHEN (sxy - sx * sy / n) / (sxx - sx * sx / n) BETWEEN 0.000001 AND 0.999999 THEN -ln(2.0) / ln((sxy - sx * sy / n) / (sxx - sx * sx / n)) END', 4)} AS half_life_days
    FROM s
    """


@query("q205_ar1_fit", oracle=_q205_oracle())
def q205_ar1_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(1) fit of daily log returns per symbol: phi = OLS slope of
    ret_t on ret_{t-1} (algebraic sufficient sums), plus the implied
    mean-reversion half-life -ln2/ln(phi) when phi is in (0,1) — the
    one-number momentum-vs-reversion diagnostic behind pairs/carry
    strategies. One lag chain + one aggregate; NULL half-life outside
    the stationary-positive regime, identically in both engines."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id", "dt", F.log(F.col("close") / F.lag("close").over(w)).alias("ret")
    ).filter(F.col("ret").isNotNull())
    p = r.select("id", "ret", F.lag("ret").over(w).alias("pret")).filter(
        F.col("pret").isNotNull()
    )
    s = p.groupBy("id").agg(
        F.count("*").alias("n"),
        F.sum("pret").alias("sx"),
        F.sum("ret").alias("sy"),
        F.sum(F.col("pret") * F.col("ret")).alias("sxy"),
        F.sum(F.col("pret") * F.col("pret")).alias("sxx"),
    )
    phi = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    hl = F.when(
        phi.between(0.000001, 0.999999), -F.log(F.lit(2.0)) / F.log(phi)
    )
    return s.select(
        "id",
        F.col("n").cast("long").alias("n_obs"),
        prnd(phi, 6).alias("phi"),
        prnd(hl, 4).alias("half_life_days"),
    )


# ---------------------------------------------------------------------------
# q206 volume profile / point of control
# ---------------------------------------------------------------------------

_Q206_BINS = 24


def _q206_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    b AS (
      SELECT id, min(close) AS lo, max(close) AS hi FROM candles GROUP BY id
    ),
    h AS (
      SELECT c.id,
             least(CAST(floor((c.close - b.lo) / ((b.hi - b.lo) / {_Q206_BINS}.0)) AS BIGINT), {_Q206_BINS - 1}) AS bin,
             c.volume_cents
      FROM candles c JOIN b USING (id)
    ),
    v AS (
      SELECT id, bin, CAST(sum(volume_cents) AS BIGINT) AS vol_cents,
             count(*) AS n_days
      FROM h GROUP BY id, bin
    ),
    poc AS (
      SELECT id, bin AS poc_bin,
             row_number() OVER (PARTITION BY id
                                ORDER BY vol_cents DESC, bin) AS rk
      FROM v
    )
    SELECT v.id, v.bin, v.vol_cents, v.n_days,
           CAST(v.bin = p.poc_bin AS INT) AS is_poc
    FROM v JOIN poc p ON p.id = v.id AND p.rk = 1
    """


@query("q206_volume_profile", oracle=_q206_oracle())
def q206_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume profile: traded volume distributed over 24 price bins
    per symbol, with the point of control (highest-volume bin)
    flagged — the market-profile structure traders read support /
    resistance from. Per-id min/max fences broadcast (q169's shape,
    per key); volume rides exact integer cents; POC is one argmax
    window over the tiny bin table."""
    c = candles(spark, sf_dir)
    b = c.groupBy("id").agg(
        F.min("close").alias("lo"), F.max("close").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / float(_Q206_BINS)
    h = c.join(F.broadcast(b), "id").select(
        "id",
        F.least(
            F.floor((F.col("close") - F.col("lo")) / width).cast("long"),
            F.lit(_Q206_BINS - 1).cast("long"),
        ).alias("bin"),
        "volume_cents",
    )
    v = h.groupBy("id", "bin").agg(
        F.sum("volume_cents").cast("long").alias("vol_cents"),
        F.count("*").alias("n_days"),
    )
    poc = v.select(
        "id",
        F.col("bin").alias("poc_bin"),
        F.row_number()
        .over(W.partitionBy("id").orderBy(F.col("vol_cents").desc(), "bin"))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    return v.join(F.broadcast(poc), "id").select(
        "id",
        "bin",
        "vol_cents",
        "n_days",
        (F.col("bin") == F.col("poc_bin")).cast("int").alias("is_poc"),
    )


# ---------------------------------------------------------------------------
# q216 CAPM alpha/beta (full-period OLS with intercept)
# ---------------------------------------------------------------------------


def _q216_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r0 AS (SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret FROM candles),
    r1 AS (SELECT id, dt, ret FROM r0 WHERE ret IS NOT NULL),
    mkt AS (SELECT dt, avg(ret) AS mret FROM r1 GROUP BY dt),
    j AS (SELECT r1.id, r1.ret, mkt.mret FROM r1 JOIN mkt USING (dt)),
    s AS (
      SELECT id, count(*) AS n,
             sum(mret) AS sx, sum(ret) AS sy,
             sum(mret * ret) AS sxy, sum(mret * mret) AS sxx
      FROM j GROUP BY id
    )
    SELECT id, CAST(n AS BIGINT) AS n_obs,
           {o_rnd('(sxy - sx * sy / n) / (sxx - sx * sx / n)', 6)} AS beta,
           {o_rnd('(sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n * 365.0', 6)} AS alpha_annual
    FROM s
    """


@query("q216_capm_alpha", oracle=_q216_oracle())
def q216_capm_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPM regression per symbol over the full period: beta (slope of
    daily log return on the equal-weight market) and annualized alpha
    (intercept x 365) — the attribution split between market exposure
    and idiosyncratic edge; the STATIC companion to q155's rolling
    beta. Pure algebraic sufficient sums after one lag + one dt join."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id", "dt", F.log(F.col("close") / F.lag("close").over(w)).alias("ret")
    ).filter(F.col("ret").isNotNull())
    mkt = r.groupBy("dt").agg(F.avg("ret").alias("mret"))
    j = r.join(F.broadcast(mkt), "dt")
    s = j.groupBy("id").agg(
        F.count("*").alias("n"),
        F.sum("mret").alias("sx"),
        F.sum("ret").alias("sy"),
        F.sum(F.col("mret") * F.col("ret")).alias("sxy"),
        F.sum(F.col("mret") * F.col("mret")).alias("sxx"),
    )
    beta = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    alpha = (F.col("sy") - beta * F.col("sx")) / F.col("n") * 365.0
    return s.select(
        "id",
        F.col("n").cast("long").alias("n_obs"),
        prnd(beta, 6).alias("beta"),
        prnd(alpha, 6).alias("alpha_annual"),
    )


# ---------------------------------------------------------------------------
# q218 price gap days
# ---------------------------------------------------------------------------


def _q218_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    g AS (
      SELECT id, dt, low, high,
             lag(high) OVER ({_WIN}) AS ph,
             lag(low)  OVER ({_WIN}) AS pl,
             lag(close) OVER ({_WIN}) AS pc
      FROM candles
    )
    SELECT id, dt,
           CASE WHEN low > ph THEN 'gap_up' ELSE 'gap_down' END AS gap_type,
           {o_rnd("CASE WHEN low > ph THEN (low - ph) / pc ELSE (pl - high) / pc END", 6)} AS gap_size
    FROM g
    WHERE pc IS NOT NULL AND (low > ph OR high < pl)
    """


@query("q218_gap_days", oracle=_q218_oracle())
def q218_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-gap detection: days whose entire range trades ABOVE the
    previous day's high (gap up) or BELOW its low (gap down), with the
    gap size relative to the prior close — breakaway/exhaustion-gap
    screening, a pure three-lag window filter on the shared per-id
    sort (rare-event output: rows only for actual gaps)."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    g = c.select(
        "id",
        "dt",
        "low",
        "high",
        F.lag("high").over(w).alias("ph"),
        F.lag("low").over(w).alias("pl"),
        F.lag("close").over(w).alias("pc"),
    ).filter(F.col("pc").isNotNull())
    up = F.col("low") > F.col("ph")
    down = F.col("high") < F.col("pl")
    return g.filter(up | down).select(
        "id",
        "dt",
        F.when(up, "gap_up").otherwise("gap_down").alias("gap_type"),
        prnd(
            F.when(up, (F.col("low") - F.col("ph")) / F.col("pc")).otherwise(
                (F.col("pl") - F.col("high")) / F.col("pc")
            ),
            6,
        ).alias("gap_size"),
    )


# ---------------------------------------------------------------------------
# q219 volatility regimes (gaps-and-islands over a median split)
# ---------------------------------------------------------------------------


def _q219_oracle() -> str:
    fr = f"({_WIN} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret FROM candles
    ),
    v AS (
      SELECT id, dt,
             stddev_pop(ret) OVER {fr} AS vol,
             count(ret) OVER {fr} AS nw
      FROM r WHERE ret IS NOT NULL
    ),
    vv AS (SELECT id, dt, vol FROM v WHERE nw = 20),
    med AS (
      SELECT id, vol, dt,
             row_number() OVER (PARTITION BY id ORDER BY vol, dt) AS rn,
             count(*) OVER (PARTITION BY id) AS n
      FROM vv
    ),
    m AS (
      SELECT id,
             max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
                      THEN vol END) AS vmed
      FROM med GROUP BY id
    ),
    flagged AS (
      SELECT vv.id, vv.dt,
             CAST(vv.vol > m.vmed AS INT) AS high_vol
      FROM vv JOIN m USING (id)
    ),
    runs AS (
      SELECT id, dt, high_vol,
             CASE WHEN lag(high_vol) OVER ({_WIN}) IS NULL
                    OR lag(high_vol) OVER ({_WIN}) <> high_vol
                  THEN 1 ELSE 0 END AS chg
      FROM flagged
    ),
    epochs AS (
      SELECT id, dt, high_vol,
             sum(chg) OVER ({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS epoch
      FROM runs
    )
    SELECT id, CAST(epoch AS BIGINT) AS regime_no, max(high_vol) AS high_vol,
           min(dt) AS start_dt, max(dt) AS end_dt, count(*) AS n_days
    FROM epochs GROUP BY id, epoch
    """


@query("q219_volatility_regimes", oracle=_q219_oracle())
def q219_volatility_regimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volatility regime segmentation: 20-day rolling vol split at its
    own per-symbol median into high/low states, then compressed into
    contiguous regime intervals (gaps-and-islands) — the 2-state
    regime table risk models condition on. The median is a
    deterministic lower order statistic; regime runs use the q187
    change-flag + running-sum epoch idiom on the shared per-id sort."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    fr = w.rowsBetween(-19, 0)
    r = c.select(
        "id", "dt", F.log(F.col("close") / F.lag("close").over(w)).alias("ret")
    ).filter(F.col("ret").isNotNull())
    v = r.select(
        "id",
        "dt",
        F.stddev_pop("ret").over(fr).alias("vol"),
        F.count("ret").over(fr).alias("nw"),
    ).filter(F.col("nw") == 20)
    mw = W.partitionBy("id").orderBy("vol", "dt")
    med = v.select(
        "id",
        "vol",
        F.row_number().over(mw).alias("rn"),
        F.count("*").over(W.partitionBy("id")).alias("n"),
    )
    m = med.groupBy("id").agg(
        F.max(
            F.when(
                F.col("rn")
                == F.floor(F.lit(0.5) * (F.col("n") - 1)).cast("long") + 1,
                F.col("vol"),
            )
        ).alias("vmed")
    )
    flagged = v.join(F.broadcast(m), "id").select(
        "id", "dt", (F.col("vol") > F.col("vmed")).cast("int").alias("high_vol")
    )
    lagf = F.lag("high_vol").over(w)
    runs = flagged.select(
        "id",
        "dt",
        "high_vol",
        F.when(lagf.isNull() | (lagf != F.col("high_vol")), 1)
        .otherwise(0)
        .alias("chg"),
    )
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    epochs = runs.select(
        "id", "dt", "high_vol", F.sum("chg").over(cum).alias("epoch")
    )
    return epochs.groupBy("id", "epoch").agg(
        F.max("high_vol").alias("high_vol"),
        F.min("dt").alias("start_dt"),
        F.max("dt").alias("end_dt"),
        F.count("*").alias("n_days"),
    ).select(
        "id",
        F.col("epoch").cast("long").alias("regime_no"),
        "high_vol",
        "start_dt",
        "end_dt",
        "n_days",
    )


# ---------------------------------------------------------------------------
# q221 risk-adjusted return ratios (Sharpe / Sortino / Calmar)
# ---------------------------------------------------------------------------


def _q221_oracle() -> str:
    cum = f"({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r0 AS (
      SELECT id, dt, close,
             ln(close / lag(close) OVER ({_WIN})) AS ret,
             close / max(close) OVER {cum} - 1.0 AS dd
      FROM candles
    ),
    s AS (
      SELECT id,
             count(ret) AS n,
             avg(ret) AS mu,
             stddev_pop(ret) AS sd,
             sqrt(avg(CASE WHEN ret < 0 THEN ret * ret ELSE 0.0 END)) AS dsd,
             -min(dd) AS mdd
      FROM r0 GROUP BY id
    )
    SELECT id, CAST(n AS BIGINT) AS n_obs,
           {o_rnd('mu * 365.0', 6)} AS ann_return,
           {o_rnd('CASE WHEN sd > 0 THEN mu / sd * sqrt(365.0) END', 6)} AS sharpe,
           {o_rnd('CASE WHEN dsd > 0 THEN mu / dsd * sqrt(365.0) END', 6)} AS sortino,
           {o_rnd('mdd', 6)} AS max_drawdown,
           {o_rnd('CASE WHEN mdd > 0 THEN mu * 365.0 / mdd END', 6)} AS calmar
    FROM s
    """


@query("q221_risk_ratios", oracle=_q221_oracle())
def q221_risk_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk-adjusted performance per symbol: annualized Sharpe
    (mu/sigma), Sortino (mu over downside root-mean-square — the
    full-count convention, zeros for up days), and Calmar (annualized
    return over max drawdown), all from daily log returns. The
    portfolio-grade summary a prediction pipeline ranks symbols by
    (reference parity: the indicator-mart family, SURVEY §2.5).

    One lag + one running-max window on the shared per-id sort, then a
    single algebraic groupBy — every ratio is sufficient-statistics
    arithmetic; nothing quadratic, nothing iterative, no driver math."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    r = c.select(
        "id",
        F.log(F.col("close") / F.lag("close").over(w)).alias("ret"),
        (F.col("close") / F.max("close").over(cum) - 1.0).alias("dd"),
    )
    s = r.groupBy("id").agg(
        F.count("ret").alias("n"),
        F.avg("ret").alias("mu"),
        F.stddev_pop("ret").alias("sd"),
        F.sqrt(
            F.avg(
                F.when(F.col("ret") < 0, F.col("ret") * F.col("ret")).otherwise(
                    0.0
                )
            )
        ).alias("dsd"),
        (-F.min("dd")).alias("mdd"),
    )
    ann = F.col("mu") * 365.0
    return s.select(
        "id",
        F.col("n").cast("long").alias("n_obs"),
        prnd(ann, 6).alias("ann_return"),
        prnd(
            F.when(F.col("sd") > 0, F.col("mu") / F.col("sd") * math.sqrt(365.0)),
            6,
        ).alias("sharpe"),
        prnd(
            F.when(F.col("dsd") > 0, F.col("mu") / F.col("dsd") * math.sqrt(365.0)),
            6,
        ).alias("sortino"),
        prnd(F.col("mdd"), 6).alias("max_drawdown"),
        prnd(F.when(F.col("mdd") > 0, ann / F.col("mdd")), 6).alias("calmar"),
    )


# ---------------------------------------------------------------------------
# q222 RiskMetrics EWMA volatility (lambda = 0.94)
# ---------------------------------------------------------------------------

_Q222_LAMBDA = 0.94


def _q222_oracle() -> str:
    return f"""
    WITH RECURSIVE candles AS ({CANDLES_SQL}),
    r0 AS MATERIALIZED (
      SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles
    ),
    c AS MATERIALIZED (
      SELECT id, dt, ret, row_number() OVER ({_WIN}) AS rn
      FROM r0 WHERE ret IS NOT NULL
    ),
    r AS (
      SELECT id, rn, dt, ret, ret * ret AS v
      FROM c WHERE rn = 1
      UNION ALL
      SELECT c.id, c.rn, c.dt, c.ret,
             {_Q222_LAMBDA} * p.v + (1.0 - {_Q222_LAMBDA}) * c.ret * c.ret AS v
      FROM r p JOIN c ON c.id = p.id AND c.rn = p.rn + 1
    )
    SELECT id, dt,
           {o_rnd('ret', 6)} AS ret,
           {o_rnd('sqrt(v * 365.0)', 6)} AS ewma_vol_annual
    FROM r
    """


@query("q222_ewma_vol", oracle=_q222_oracle())
def q222_ewma_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RiskMetrics EWMA conditional volatility (lambda=0.94, seeded
    v_1 = r_1^2), annualized — the decay-weighted variance estimate
    VaR desks run daily, and the recursive counterpart of q130's
    equal-weight rolling stddev (recent shocks dominate; old shocks
    decay geometrically instead of falling off a cliff at the window
    edge).

    Variance is EMA state, so it rides the ``_per_id`` pandas kernel
    law (operators.indicators.ewma_volatility: one id-shuffle,
    O(rows) per key); the oracle replays the identical float
    recurrence as a recursive CTE, hash-checked bit-for-bit."""
    from ..operators.indicators import ewma_volatility

    out = ewma_volatility(candles(spark, sf_dir), _Q222_LAMBDA)
    return out.filter(F.col("ewma_var").isNotNull()).select(
        "id",
        "dt",
        prnd("ret", 6).alias("ret"),
        prnd(F.sqrt(F.col("ewma_var") * 365.0), 6).alias("ewma_vol_annual"),
    )


# ---------------------------------------------------------------------------
# q233 volume-weighted median price (exact weighted quantile per group)
# ---------------------------------------------------------------------------


def _q233_oracle() -> str:
    wmw = f"({_WIN.replace('ORDER BY dt', 'ORDER BY close, dt')} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt, close, volume_cents,
             sum(volume_cents) OVER {wmw} AS cumw,
             sum(volume_cents) OVER (PARTITION BY id) AS totw,
             count(*) OVER (PARTITION BY id) AS n_days
      FROM candles
    ),
    hit AS (
      SELECT id, close, n_days, totw,
             row_number() OVER (PARTITION BY id ORDER BY close, dt) AS rn
      FROM r WHERE CAST(cumw AS DOUBLE) >= CAST(totw AS DOUBLE) / 2.0
    )
    SELECT id, CAST(n_days AS BIGINT) AS n_days,
           CAST(totw AS BIGINT) AS total_volume_cents,
           {o_rnd('close', 2)} AS wmedian_close
    FROM hit WHERE rn = 1
    """


@query("q233_weighted_median", oracle=_q233_oracle())
def q233_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact volume-weighted median price per symbol: the price that
    splits TRADED VOLUME in half (not trading days) — the robust
    center of the volume profile (q206's POC is the modal bin; this
    is the distributional median), immune to thin-volume outlier
    days that drag the plain median.

    Exact weighted quantiles need a per-group sort by VALUE with a
    cumulative-weight crossing — one window over (id: close, dt) on
    integer-cents weights (associativity-proof), then the first row
    whose running weight reaches half the total. One shuffle, no
    iteration; the (close, dt) order makes the crossing row unique in
    both engines."""
    c = candles(spark, sf_dir)
    byval = W.partitionBy("id").orderBy("close", "dt")
    cum = byval.rowsBetween(W.unboundedPreceding, W.currentRow)
    whole = W.partitionBy("id")
    r = c.select(
        "id",
        "dt",
        "close",
        F.sum("volume_cents").over(cum).alias("cumw"),
        F.sum("volume_cents").over(whole).alias("totw"),
        F.count("*").over(whole).alias("n_days"),
    ).filter(
        F.col("cumw").cast("double") >= F.col("totw").cast("double") / 2.0
    )
    hit = r.withColumn("rn", F.row_number().over(byval))
    return hit.filter(F.col("rn") == 1).select(
        "id",
        F.col("n_days").cast("long").alias("n_days"),
        F.col("totw").cast("long").alias("total_volume_cents"),
        prnd("close", 2).alias("wmedian_close"),
    )


# ---------------------------------------------------------------------------
# q242 pairs cointegration screen (hedge OLS + residual mean reversion)
# ---------------------------------------------------------------------------


def _q242_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    lc AS (SELECT id, dt, ln(close) AS lc FROM candles),
    pj AS (
      SELECT a.id AS id_a, b.id AS id_b, a.dt, a.lc AS ya, b.lc AS yb
      FROM lc a JOIN lc b ON b.dt = a.dt AND a.id < b.id
    ),
    ols AS (
      SELECT id_a, id_b, count(*) AS n,
             (sum(ya * yb) - sum(yb) * sum(ya) / count(*))
               / (sum(yb * yb) - sum(yb) * sum(yb) / count(*)) AS beta,
             avg(ya) AS mya, avg(yb) AS myb
      FROM pj GROUP BY id_a, id_b
    ),
    resid AS (
      SELECT p.id_a, p.id_b, p.dt, o.n, o.beta,
             p.ya - o.beta * p.yb - (o.mya - o.beta * o.myb) AS e
      FROM pj p JOIN ols o USING (id_a, id_b)
    ),
    lagd AS (
      SELECT id_a, id_b, n, beta, e,
             lag(e) OVER (PARTITION BY id_a, id_b ORDER BY dt) AS pe
      FROM resid
    ),
    ar AS (
      SELECT id_a, id_b, any_value(n) AS n, any_value(beta) AS beta,
             (sum(e * pe) - sum(pe) * sum(e) / count(*))
               / (sum(pe * pe) - sum(pe) * sum(pe) / count(*)) AS rho
      FROM lagd WHERE pe IS NOT NULL GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, CAST(n AS BIGINT) AS n_days,
           {o_rnd('beta', 6)} AS hedge_beta,
           {o_rnd('rho', 6)} AS resid_rho,
           {o_rnd('CASE WHEN rho > 0 AND rho < 1 THEN -ln(2.0) / ln(rho) END', 4)} AS half_life_days
    FROM ar
    """


@query("q242_pairs_cointegration", oracle=_q242_oracle())
def q242_pairs_cointegration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs-trading cointegration screen (Engle-Granger shape) for
    every symbol pair: OLS hedge ratio of log prices, then the AR(1)
    coefficient of the hedge residual and its mean-reversion
    half-life -ln2/ln(rho) — the statistic that says whether the
    spread snaps back fast enough to trade. Composes q216's OLS
    sufficient-stats law with q205's AR(1) law at PAIR grain.

    The pair join is a dt equi-join (q173's shape: k symbols -> k^2/2
    pairs, each day joins within its date partition — never a
    cross-product over rows); both regressions are algebraic
    sufficient sums, so the whole screen is two groupBys and one lag
    window over the pair-day table."""
    c = candles(spark, sf_dir)
    lc = c.select("id", "dt", F.log("close").alias("lc"))
    a = lc.select(F.col("id").alias("id_a"), "dt", F.col("lc").alias("ya"))
    b = lc.select(F.col("id").alias("id_b"), F.col("dt").alias("dtb"), F.col("lc").alias("yb"))
    pj = a.join(
        b, (F.col("dtb") == F.col("dt")) & (F.col("id_a") < F.col("id_b"))
    ).select("id_a", "id_b", "dt", "ya", "yb")
    cnt = F.count("*")
    ols = pj.groupBy("id_a", "id_b").agg(
        cnt.alias("n"),
        (
            (F.sum(F.col("ya") * F.col("yb")) - F.sum("yb") * F.sum("ya") / cnt)
            / (F.sum(F.col("yb") * F.col("yb")) - F.sum("yb") * F.sum("yb") / cnt)
        ).alias("beta"),
        F.avg("ya").alias("mya"),
        F.avg("yb").alias("myb"),
    )
    resid = pj.join(F.broadcast(ols), ["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        "dt",
        "n",
        "beta",
        (
            F.col("ya")
            - F.col("beta") * F.col("yb")
            - (F.col("mya") - F.col("beta") * F.col("myb"))
        ).alias("e"),
    )
    wp = W.partitionBy("id_a", "id_b").orderBy("dt")
    lagd = resid.select(
        "id_a", "id_b", "n", "beta", "e", F.lag("e").over(wp).alias("pe")
    ).filter(F.col("pe").isNotNull())
    cnt2 = F.count("*")
    ar = lagd.groupBy("id_a", "id_b").agg(
        F.first("n").alias("n"),
        F.first("beta").alias("beta"),
        (
            (F.sum(F.col("e") * F.col("pe")) - F.sum("pe") * F.sum("e") / cnt2)
            / (F.sum(F.col("pe") * F.col("pe")) - F.sum("pe") * F.sum("pe") / cnt2)
        ).alias("rho"),
    )
    return ar.select(
        "id_a",
        "id_b",
        F.col("n").cast("long").alias("n_days"),
        prnd("beta", 6).alias("hedge_beta"),
        prnd("rho", 6).alias("resid_rho"),
        prnd(
            F.when(
                (F.col("rho") > 0) & (F.col("rho") < 1),
                -F.log(F.lit(2.0)) / F.log("rho"),
            ),
            4,
        ).alias("half_life_days"),
    )


# ---------------------------------------------------------------------------
# q245 realized variance vs bipower variation (jump detection)
# ---------------------------------------------------------------------------

_HALF_PI = 1.5707963267948966  # pi/2 as an exact double literal (both engines)


def _q245_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, strftime(date_trunc('month', dt), '%Y-%m') AS mon, dt,
             ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles
    ),
    p AS (
      SELECT id, mon, ret,
             lag(ret) OVER (PARTITION BY id, mon ORDER BY dt) AS pret
      FROM r WHERE ret IS NOT NULL
    ),
    s AS (
      SELECT id, mon,
             count(*) AS n_days,
             sum(ret * ret) AS rv,
             {_HALF_PI} * sum(CASE WHEN pret IS NOT NULL
                                   THEN abs(ret) * abs(pret) ELSE 0.0 END) AS bpv
      FROM p GROUP BY id, mon
    )
    SELECT id, mon, CAST(n_days AS BIGINT) AS n_days,
           {o_rnd('rv', 8)} AS realized_var,
           {o_rnd('bpv', 8)} AS bipower_var,
           {o_rnd('CASE WHEN rv > 0 THEN greatest((rv - bpv) / rv, 0.0) END', 6)} AS jump_share
    FROM s WHERE n_days >= 5
    """


@query("q245_bipower_jumps", oracle=_q245_oracle())
def q245_bipower_jumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jump detection per symbol-month (Barndorff-Nielsen & Shephard
    2004): realized variance (sum of squared daily returns) against
    bipower variation (pi/2 x sum of adjacent |return| products) —
    bipower is robust to jumps, so the normalized gap (rv-bpv)/rv
    estimates how much of the month's variance came from
    DISCONTINUOUS moves rather than diffusion; the regime input a
    volatility model needs before trusting q222's smooth EWMA.

    Two lags on the shared per-id sort (the month-scoped second lag
    restarts cleanly at month boundaries), one partial-agg groupBy;
    pi/2 enters as the same 17-digit double literal in both engines."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id",
        F.date_format(F.date_trunc("month", "dt"), "yyyy-MM").alias("mon"),
        "dt",
        F.log(F.col("close") / F.lag("close").over(w)).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    wm = W.partitionBy("id", "mon").orderBy("dt")
    p = r.select(
        "id", "mon", "ret", F.lag("ret").over(wm).alias("pret")
    )
    s = p.groupBy("id", "mon").agg(
        F.count("*").alias("n_days"),
        F.sum(F.col("ret") * F.col("ret")).alias("rv"),
        (
            F.lit(_HALF_PI)
            * F.sum(
                F.when(
                    F.col("pret").isNotNull(),
                    F.abs("ret") * F.abs("pret"),
                ).otherwise(0.0)
            )
        ).alias("bpv"),
    )
    return s.filter(F.col("n_days") >= 5).select(
        "id",
        "mon",
        F.col("n_days").cast("long").alias("n_days"),
        prnd("rv", 8).alias("realized_var"),
        prnd("bpv", 8).alias("bipower_var"),
        prnd(
            F.when(
                F.col("rv") > 0,
                F.greatest(
                    (F.col("rv") - F.col("bpv")) / F.col("rv"), F.lit(0.0)
                ),
            ),
            6,
        ).alias("jump_share"),
    )


# ---------------------------------------------------------------------------
# q246 Roll implied spread (serial covariance of price changes)
# ---------------------------------------------------------------------------


def _q246_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    d AS (
      SELECT id, dt, close - lag(close) OVER ({_WIN}) AS dp
      FROM candles
    ),
    p AS (
      SELECT id, dp, lag(dp) OVER ({_WIN.replace('ORDER BY dt', 'ORDER BY dt')}) AS pdp
      FROM (SELECT id, dt, dp FROM d WHERE dp IS NOT NULL)
    ),
    s AS (
      SELECT id, count(*) AS n,
             avg(dp * pdp) - avg(dp) * avg(pdp) AS autocov
      FROM (SELECT id, dp, pdp FROM p WHERE pdp IS NOT NULL) GROUP BY id
    )
    SELECT id, CAST(n AS BIGINT) AS n_obs,
           {o_rnd('autocov', 2)} AS autocov,
           {o_rnd('CASE WHEN autocov < 0 THEN 2.0 * sqrt(-autocov) END', 4)} AS roll_spread
    FROM s
    """


@query("q246_roll_spread", oracle=_q246_oracle())
def q246_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll's implied bid-ask spread (Roll 1984): transaction prices
    bouncing between bid and ask induce NEGATIVE first-order serial
    covariance in price changes, and the spread is 2*sqrt(-cov) — an
    effective-cost estimate from trade prices alone, completing the
    microstructure panel next to q185's tick rule and q186's Amihud
    lambda (positive autocov -> estimator undefined -> NULL, the
    standard convention).

    Two stacked lags on the shared per-id sort, then population
    covariance as algebraic sufficient sums — one groupBy, no
    iteration."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    d = c.select(
        "id", "dt", (F.col("close") - F.lag("close").over(w)).alias("dp")
    ).filter(F.col("dp").isNotNull())
    p = d.select("id", "dp", F.lag("dp").over(w).alias("pdp")).filter(
        F.col("pdp").isNotNull()
    )
    s = p.groupBy("id").agg(
        F.count("*").alias("n"),
        (
            F.avg(F.col("dp") * F.col("pdp"))
            - F.avg("dp") * F.avg("pdp")
        ).alias("autocov"),
    )
    return s.select(
        "id",
        F.col("n").cast("long").alias("n_obs"),
        prnd("autocov", 2).alias("autocov"),
        prnd(
            F.when(
                F.col("autocov") < 0, 2.0 * F.sqrt(-F.col("autocov"))
            ),
            4,
        ).alias("roll_spread"),
    )


# ---------------------------------------------------------------------------
# q258 binary-segmentation changepoints (2 levels, 3 segments)
# ---------------------------------------------------------------------------


def _q258_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    m1 AS (
      SELECT id, dt, close, avg(close) OVER (PARTITION BY id) AS mu
      FROM candles
    ),
    c1 AS (
      SELECT id, dt,
             sum(close - mu) OVER ({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cusum
      FROM m1
    ),
    cp1 AS (
      SELECT id, dt AS cp_dt, abs(cusum) AS score
      FROM (
        SELECT id, dt, cusum,
               row_number() OVER (PARTITION BY id
                                  ORDER BY abs(cusum) DESC, dt) AS rk
        FROM c1
      ) WHERE rk = 1
    ),
    sided AS (
      SELECT c.id, c.dt, c.close,
             CASE WHEN c.dt <= p.cp_dt THEN 'L' ELSE 'R' END AS side
      FROM candles c JOIN cp1 p USING (id)
    ),
    m2 AS (
      SELECT id, side, dt, close,
             avg(close) OVER (PARTITION BY id, side) AS mu
      FROM sided
    ),
    c2 AS (
      SELECT id, side, dt,
             sum(close - mu) OVER (PARTITION BY id, side ORDER BY dt
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cusum
      FROM m2
    ),
    cp2 AS (
      SELECT id, side, dt AS cp_dt, abs(cusum) AS score
      FROM (
        SELECT id, side, dt, cusum,
               row_number() OVER (PARTITION BY id, side
                                  ORDER BY abs(cusum) DESC, dt) AS rk
        FROM c2
      ) WHERE rk = 1
    )
    SELECT id, 1 AS level, 'ALL' AS side, cp_dt, {o_rnd('score', 2)} AS score
    FROM cp1
    UNION ALL
    SELECT id, 2 AS level, side, cp_dt, {o_rnd('score', 2)} AS score
    FROM cp2
    """


@query("q258_binary_segmentation", oracle=_q258_oracle())
def q258_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical changepoint detection by binary segmentation: the
    level-1 CUSUM argmax (q175) splits each series, then the SAME
    locator runs independently on each half — two levels, up to three
    regimes per symbol, the classic recursive segmentation unrolled
    into declarative stages (Scott & Knott / binseg shape).

    Level 2 needs no new machinery: side labels come from one
    broadcast join of the 5-row level-1 table, and every window
    simply gains `side` in its partition key — recursion by
    partition-key refinement, each level one shuffle."""
    c = candles(spark, sf_dir)
    def cusum_argmax(df: DataFrame, keys: list[str]) -> DataFrame:
        part = W.partitionBy(*keys)
        cum = part.orderBy("dt").rowsBetween(W.unboundedPreceding, W.currentRow)
        cs = df.select(
            *keys,
            "dt",
            F.sum(F.col("close") - F.avg("close").over(part))
            .over(cum)
            .alias("cusum"),
        )
        rk = cs.withColumn(
            "rk",
            F.row_number().over(
                part.orderBy(F.abs("cusum").desc(), "dt")
            ),
        )
        return rk.filter(F.col("rk") == 1).select(
            *keys,
            F.col("dt").alias("cp_dt"),
            F.abs("cusum").alias("score"),
        )

    cp1 = cusum_argmax(c, ["id"])
    sided = c.join(F.broadcast(cp1.select("id", "cp_dt")), "id").select(
        "id",
        "dt",
        "close",
        F.when(F.col("dt") <= F.col("cp_dt"), "L").otherwise("R").alias(
            "side"
        ),
    )
    cp2 = cusum_argmax(sided, ["id", "side"])
    l1 = cp1.select(
        "id",
        F.lit(1).alias("level"),
        F.lit("ALL").alias("side"),
        "cp_dt",
        prnd("score", 2).alias("score"),
    )
    l2 = cp2.select(
        "id", F.lit(2).alias("level"), "side", "cp_dt",
        prnd("score", 2).alias("score"),
    )
    return l1.unionByName(l2)


# ---------------------------------------------------------------------------
# q260 seasonal-naive forecast baseline + MASE
# ---------------------------------------------------------------------------


def _q260_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    lagd AS (
      SELECT id, dt, close,
             lag(close, 1) OVER ({_WIN}) AS l1,
             lag(close, 7) OVER ({_WIN}) AS l7
      FROM candles
    ),
    s AS (
      SELECT id, count(*) AS n,
             avg(abs(close - l1)) AS mae1,
             avg(abs(close - l7)) AS mae7
      FROM lagd WHERE l7 IS NOT NULL GROUP BY id
    )
    SELECT id, CAST(n AS BIGINT) AS n_obs,
           {o_rnd('mae1', 4)} AS mae_naive1,
           {o_rnd('mae7', 4)} AS mae_snaive7,
           {o_rnd('mae7 / mae1', 6)} AS mase
    FROM s
    """


@query("q260_seasonal_naive_mase", oracle=_q260_oracle())
def q260_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting floor + scale-free error: the seasonal-naive
    baseline (predict last week's value) scored by MASE — its MAE
    over the one-step naive's MAE (Hyndman & Koehler 2006). MASE < 1
    means weekly structure genuinely predicts (and any real model
    must beat BOTH baselines before its metrics mean anything); this
    is the eval floor for q100/q174's forecasting family.

    Two lags on the shared per-id sort, restricted to the common
    support where both baselines exist, one algebraic groupBy."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    lagd = c.select(
        "id",
        "close",
        F.lag("close", 1).over(w).alias("l1"),
        F.lag("close", 7).over(w).alias("l7"),
    ).filter(F.col("l7").isNotNull())
    s = lagd.groupBy("id").agg(
        F.count("*").alias("n"),
        F.avg(F.abs(F.col("close") - F.col("l1"))).alias("mae1"),
        F.avg(F.abs(F.col("close") - F.col("l7"))).alias("mae7"),
    )
    return s.select(
        "id",
        F.col("n").cast("long").alias("n_obs"),
        prnd("mae1", 4).alias("mae_naive1"),
        prnd("mae7", 4).alias("mae_snaive7"),
        prnd(F.col("mae7") / F.col("mae1"), 6).alias("mase"),
    )


# ---------------------------------------------------------------------------
# q262 linear interpolation of calendar gaps
# ---------------------------------------------------------------------------


def _q262_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    spine AS (
      SELECT id, unnest(generate_series(dmin, dmax, INTERVAL 1 DAY))::DATE AS dt
      FROM (SELECT id, min(dt) AS dmin, max(dt) AS dmax FROM candles GROUP BY id)
    ),
    j AS (
      SELECT s.id, s.dt, c.close,
             CAST(c.close IS NOT NULL AS INT) AS observed
      FROM spine s LEFT JOIN candles c ON c.id = s.id AND c.dt = s.dt
    ),
    fences AS (
      SELECT id, dt, close, observed,
             last_value(CASE WHEN observed = 1 THEN close END IGNORE NULLS)
               OVER (PARTITION BY id ORDER BY dt
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc,
             last_value(CASE WHEN observed = 1 THEN dt END IGNORE NULLS)
               OVER (PARTITION BY id ORDER BY dt
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             first_value(CASE WHEN observed = 1 THEN close END IGNORE NULLS)
               OVER (PARTITION BY id ORDER BY dt
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nc,
             first_value(CASE WHEN observed = 1 THEN dt END IGNORE NULLS)
               OVER (PARTITION BY id ORDER BY dt
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM j
    )
    SELECT id, strftime(dt, '%Y-%m-%d') AS dt, observed,
           {o_rnd("CASE WHEN observed = 1 THEN close ELSE pc + (nc - pc) * CAST(date_diff('day', pd, dt) AS DOUBLE) / date_diff('day', pd, nd) END", 4)} AS close_filled
    FROM fences
    WHERE observed = 1 OR (pc IS NOT NULL AND nc IS NOT NULL)
    """


@query("q262_linear_interpolation", oracle=_q262_oracle())
def q262_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing calendar days — the gap-repair
    that the calendar-spine densify (J2/q25) intentionally does NOT
    do (it carries forward): interior gaps fill on the straight line
    between the surrounding observations, weighted by day distance;
    leading/trailing gaps (no fence on one side) stay absent. The
    sensor-series repair op, with the observed flag kept so
    downstream models can discount imputed points.

    One per-id spine explode, then TWO carry windows (last observed
    backward, first observed forward) on the single per-id sort —
    the interpolation weight is pure date arithmetic; no self-join,
    no per-gap iteration."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    back = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    fwd = w.rowsBetween(W.currentRow, W.unboundedFollowing)
    spine = (
        c.groupBy("id")
        .agg(F.min("dt").alias("dmin"), F.max("dt").alias("dmax"))
        .select(
            "id",
            F.explode(
                F.sequence("dmin", "dmax", F.expr("INTERVAL 1 DAY"))
            ).alias("dt"),
        )
    )
    j = spine.join(c.select("id", "dt", "close"), ["id", "dt"], "left").select(
        "id",
        "dt",
        "close",
        F.col("close").isNotNull().cast("int").alias("observed"),
    )
    obs_c = F.when(F.col("observed") == 1, F.col("close"))
    obs_d = F.when(F.col("observed") == 1, F.col("dt"))
    fences = j.select(
        "id",
        "dt",
        "close",
        "observed",
        F.last(obs_c, ignorenulls=True).over(back).alias("pc"),
        F.last(obs_d, ignorenulls=True).over(back).alias("pd"),
        F.first(obs_c, ignorenulls=True).over(fwd).alias("nc"),
        F.first(obs_d, ignorenulls=True).over(fwd).alias("nd"),
    )
    interp = F.col("pc") + (F.col("nc") - F.col("pc")) * F.datediff(
        "dt", "pd"
    ).cast("double") / F.datediff("nd", "pd")
    return fences.filter(
        (F.col("observed") == 1)
        | (F.col("pc").isNotNull() & F.col("nc").isNotNull())
    ).select(
        "id",
        F.date_format("dt", "yyyy-MM-dd").alias("dt"),
        "observed",
        prnd(
            F.when(F.col("observed") == 1, F.col("close")).otherwise(interp),
            4,
        ).alias("close_filled"),
    )


# ---------------------------------------------------------------------------
# q263 winsorized and trimmed means (P5/P95 fences per symbol)
# ---------------------------------------------------------------------------


def _q263_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    f AS (
      SELECT id,
             quantile_cont(close, 0.05) AS lo,
             quantile_cont(close, 0.95) AS hi
      FROM candles GROUP BY id
    ),
    s AS (
      SELECT c.id,
             count(*) AS n,
             avg(c.close) AS mean_raw,
             avg(least(greatest(c.close, f.lo), f.hi)) AS mean_winsor,
             avg(CASE WHEN c.close BETWEEN f.lo AND f.hi THEN c.close END) AS mean_trim,
             sum(CASE WHEN c.close < f.lo OR c.close > f.hi THEN 1 ELSE 0 END) AS n_clamped
      FROM candles c JOIN f USING (id)
      GROUP BY c.id
    )
    SELECT id, CAST(n AS BIGINT) AS n_days,
           CAST(n_clamped AS BIGINT) AS n_clamped,
           {o_rnd('mean_raw', 4)} AS mean_raw,
           {o_rnd('mean_winsor', 4)} AS mean_winsor,
           {o_rnd('mean_trim', 4)} AS mean_trim
    FROM s
    """


@query("q263_winsorized_mean", oracle=_q263_oracle())
def q263_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized vs trimmed vs raw mean per symbol with exact P5/P95
    fences — the outlier-robust estimators between the raw mean and
    q196's median: winsorizing CLAMPS the tails to the fences (keeps
    n), trimming DROPS them; the n_clamped count audits how much tail
    each series carries.

    Exact per-group percentiles via one sort-based aggregate
    (percentile, the q156 machinery), fences broadcast back by key,
    then one conditional aggregate — two passes total, both
    partial-agg friendly."""
    c = candles(spark, sf_dir)
    f = c.groupBy("id").agg(
        F.expr("percentile(close, 0.05)").alias("lo"),
        F.expr("percentile(close, 0.95)").alias("hi"),
    )
    jn = c.join(F.broadcast(f), "id")
    clamped = F.least(F.greatest(F.col("close"), F.col("lo")), F.col("hi"))
    inside = F.col("close").between(F.col("lo"), F.col("hi"))
    s = jn.groupBy("id").agg(
        F.count("*").alias("n"),
        F.avg("close").alias("mean_raw"),
        F.avg(clamped).alias("mean_winsor"),
        F.avg(F.when(inside, F.col("close"))).alias("mean_trim"),
        F.sum((~inside).cast("int")).alias("n_clamped"),
    )
    return s.select(
        "id",
        F.col("n").cast("long").alias("n_days"),
        F.col("n_clamped").cast("long").alias("n_clamped"),
        prnd("mean_raw", 4).alias("mean_raw"),
        prnd("mean_winsor", 4).alias("mean_winsor"),
        prnd("mean_trim", 4).alias("mean_trim"),
    )


# ---------------------------------------------------------------------------
# q266 Theil-Sen robust trend (median of pairwise slopes, monthly grain)
# ---------------------------------------------------------------------------


def _q266_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    m AS (
      SELECT id, date_trunc('month', dt) AS mon, avg(close) AS close,
             row_number() OVER (PARTITION BY id ORDER BY date_trunc('month', dt)) AS t
      FROM candles GROUP BY id, date_trunc('month', dt)
    ),
    slopes AS (
      SELECT a.id, (b.close - a.close) / (b.t - a.t) AS slope
      FROM m a JOIN m b ON b.id = a.id AND b.t > a.t
    )
    SELECT id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {o_rnd('quantile_cont(slope, 0.5)', 4)} AS theil_sen_slope
    FROM slopes GROUP BY id
    """


@query("q266_theil_sen", oracle=_q266_oracle())
def q266_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per symbol: the MEDIAN of all pairwise
    slopes — up to 29% contaminated observations cannot move it,
    where q106's OLS slope follows any fat-fingered spike. Run at
    MONTHLY grain by design: the estimator is inherently quadratic in
    points, so the scale-correct recipe is aggregate-first (k months
    -> k^2/2 pairs per symbol, bounded regardless of daily row
    count); the daily-grain variant would be the q51-style mistake.

    One month-grain aggregate, a per-id pair equi-join on the TINY
    monthly table, one exact median."""
    c = candles(spark, sf_dir)
    m = (
        c.groupBy("id", F.date_trunc("month", "dt").alias("mon"))
        .agg(F.avg("close").alias("close"))
        .select(
            "id",
            "close",
            F.row_number()
            .over(W.partitionBy("id").orderBy("mon"))
            .alias("t"),
        )
    )
    a = m.select("id", F.col("close").alias("ca"), F.col("t").alias("ta"))
    b = m.select(
        F.col("id").alias("idb"),
        F.col("close").alias("cb"),
        F.col("t").alias("tb"),
    )
    slopes = a.join(
        b, (F.col("idb") == F.col("id")) & (F.col("tb") > F.col("ta"))
    ).select(
        "id",
        ((F.col("cb") - F.col("ca")) / (F.col("tb") - F.col("ta"))).alias(
            "slope"
        ),
    )
    return slopes.groupBy("id").agg(
        F.count("*").cast("long").alias("n_pairs"),
        prnd(F.expr("percentile(slope, 0.5)"), 4).alias("theil_sen_slope"),
    )


# ---------------------------------------------------------------------------
# q282 dollar bars (value-clock resampling, de Prado)
# ---------------------------------------------------------------------------

_Q282_BAR_CENTS = 50_000_000_00  # bar closes when cum traded value crosses


def _q282_oracle() -> str:
    cum = f"({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    v AS (
      SELECT id, dt, high, low, close, volume_cents,
             CAST(floor(CAST(sum(volume_cents) OVER {cum} - volume_cents AS DOUBLE)
                  / {_Q282_BAR_CENTS}) AS BIGINT) AS bar_no
      FROM candles
    )
    SELECT id, bar_no,
           CAST(count(*) AS BIGINT) AS n_days,
           strftime(min(dt), '%Y-%m-%d') AS bar_start,
           strftime(max(dt), '%Y-%m-%d') AS bar_end,
           {o_rnd('max(high)', 2)} AS bar_high,
           {o_rnd('min(low)', 2)} AS bar_low,
           {o_rnd('max_by(close, dt)', 2)} AS bar_close,
           CAST(sum(volume_cents) AS BIGINT) AS bar_volume_cents
    FROM v GROUP BY id, bar_no
    """


@query("q282_dollar_bars", oracle=_q282_oracle())
def q282_dollar_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dollar bars (Lopez de Prado): resample each series on the
    VALUE clock — a bar closes whenever cumulative traded value
    crosses the threshold — instead of the wall clock, so bars carry
    comparable information content and return distributions get
    closer to IID (the sampling layer quant ML preps on; q80's OHLC
    resample is the time-clock twin). A day joins the bar where its
    running value STARTS, q227's greedy-packing law applied to
    market value.

    One cumulative-sum window on exact integer cents + one
    partial-agg groupBy for the bar OHLCV — same cost shape as any
    calendar resample."""
    c = candles(spark, sf_dir)
    cum = (
        W.partitionBy("id")
        .orderBy("dt")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    v = c.select(
        "id",
        "dt",
        "high",
        "low",
        "close",
        "volume_cents",
        F.floor(
            (F.sum("volume_cents").over(cum) - F.col("volume_cents")).cast(
                "double"
            )
            / _Q282_BAR_CENTS
        )
        .cast("long")
        .alias("bar_no"),
    )
    return v.groupBy("id", "bar_no").agg(
        F.count("*").cast("long").alias("n_days"),
        F.date_format(F.min("dt"), "yyyy-MM-dd").alias("bar_start"),
        F.date_format(F.max("dt"), "yyyy-MM-dd").alias("bar_end"),
        prnd(F.max("high"), 2).alias("bar_high"),
        prnd(F.min("low"), 2).alias("bar_low"),
        prnd(F.max_by("close", "dt"), 2).alias("bar_close"),
        F.sum("volume_cents").cast("long").alias("bar_volume_cents"),
    )


# ---------------------------------------------------------------------------
# q287 empirical forecast-interval backtest (80% band coverage)
# ---------------------------------------------------------------------------

_Q287_TRAIN_FRAC = 0.7


def _q287_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret,
             row_number() OVER ({_WIN}) AS rn,
             count(*) OVER (PARTITION BY id) AS n
      FROM candles
    ),
    r2 AS (SELECT * FROM r WHERE ret IS NOT NULL),
    band AS (
      SELECT id,
             quantile_cont(ret, 0.1) AS lo,
             quantile_cont(ret, 0.9) AS hi,
             count(*) AS n_train
      FROM r2 WHERE rn <= CAST(floor(n * {_Q287_TRAIN_FRAC}) AS BIGINT)
      GROUP BY id
    ),
    test AS (
      SELECT r2.id, r2.ret, b.lo, b.hi
      FROM r2 JOIN band b USING (id)
      WHERE r2.rn > CAST(floor(r2.n * {_Q287_TRAIN_FRAC}) AS BIGINT)
    )
    SELECT t.id,
           CAST(any_value(b2.n_train) AS BIGINT) AS n_train,
           CAST(count(*) AS BIGINT) AS n_test,
           {o_rnd('any_value(t.lo)', 6)} AS band_lo,
           {o_rnd('any_value(t.hi)', 6)} AS band_hi,
           {o_rnd('avg(CASE WHEN t.ret BETWEEN t.lo AND t.hi THEN 1.0 ELSE 0.0 END)', 6)} AS coverage
    FROM test t JOIN band b2 ON b2.id = t.id
    GROUP BY t.id
    """


@query("q287_interval_backtest", oracle=_q287_oracle())
def q287_interval_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-interval backtest: fit an empirical 80% return band
    (P10-P90) on the first 70% of each series, then measure how often
    the held-out 30% actually lands inside — realized coverage far
    from 0.8 means the band (and any VaR built like it, q222) is
    mis-calibrated for that symbol. The prediction-interval
    counterpart of q240's probability calibration.

    One lag + rank windows on the shared per-id sort, exact train
    percentiles per key, a broadcast band join, one conditional
    aggregate — a complete backtest in three shuffles."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id",
        F.log(F.col("close") / F.lag("close").over(w)).alias("ret"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("id")).alias("n"),
    ).filter(F.col("ret").isNotNull())
    cut = F.floor(F.col("n") * _Q287_TRAIN_FRAC).cast("long")
    band = (
        r.filter(F.col("rn") <= cut)
        .groupBy("id")
        .agg(
            F.expr("percentile(ret, 0.1)").alias("lo"),
            F.expr("percentile(ret, 0.9)").alias("hi"),
            F.count("*").alias("n_train"),
        )
    )
    test = r.filter(F.col("rn") > cut).join(F.broadcast(band), "id")
    return test.groupBy("id").agg(
        F.first("n_train").cast("long").alias("n_train"),
        F.count("*").cast("long").alias("n_test"),
        prnd(F.first("lo"), 6).alias("band_lo"),
        prnd(F.first("hi"), 6).alias("band_hi"),
        prnd(
            F.avg(
                F.when(
                    F.col("ret").between(F.col("lo"), F.col("hi")), 1.0
                ).otherwise(0.0)
            ),
            6,
        ).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# q288 stale-feed audit (runs of unchanged prices)
# ---------------------------------------------------------------------------


def _q288_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    m AS (
      SELECT id, dt, close,
             CASE WHEN close = lag(close) OVER ({_WIN}) THEN 0 ELSE 1 END AS chg
      FROM candles
    ),
    runs AS (
      SELECT id, dt, chg,
             sum(chg) OVER ({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS run_id
      FROM m
    ),
    rl AS (
      SELECT id, run_id, count(*) AS run_len
      FROM runs GROUP BY id, run_id
    )
    SELECT id,
           CAST(sum(run_len) AS BIGINT) AS n_days,
           CAST(sum(run_len - 1) AS BIGINT) AS n_stale_days,
           {o_rnd('sum(run_len - 1.0) / sum(run_len)', 6)} AS stale_share,
           CAST(max(run_len) AS BIGINT) AS max_run
    FROM rl GROUP BY id
    """


@query("q288_stale_price_audit", oracle=_q288_oracle())
def q288_stale_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stale-feed detection: runs of IDENTICAL consecutive closes per
    symbol — repeated values are how a dead upstream feed looks
    downstream (the reference's freshness probe, quality/checks.py,
    catches missing rows; this catches rows that arrive but don't
    MOVE). Emits the stale-day share and the longest flat run; a max
    run of 5+ business days is a paused feed, not a calm market.

    One lag + one running-sum (gaps-and-islands run ids) on the
    shared per-id sort, then two tiny aggregates."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    m = c.select(
        "id",
        "dt",
        F.when(F.col("close") == F.lag("close").over(w), 0)
        .otherwise(1)
        .alias("chg"),
    )
    runs = m.select("id", F.sum("chg").over(cum).alias("run_id"))
    rl = runs.groupBy("id", "run_id").agg(F.count("*").alias("run_len"))
    return rl.groupBy("id").agg(
        F.sum("run_len").cast("long").alias("n_days"),
        F.sum(F.col("run_len") - 1).cast("long").alias("n_stale_days"),
        prnd(
            F.sum(F.col("run_len") - 1.0) / F.sum("run_len"), 6
        ).alias("stale_share"),
        F.max("run_len").cast("long").alias("max_run"),
    )


# ---------------------------------------------------------------------------
# q299 Holt-Winters additive seasonal smoothing (weekly period)
# ---------------------------------------------------------------------------


def _q299_oracle() -> str:
    from ..operators.indicators import HW_ALPHA, HW_BETA, HW_GAMMA, HW_PERIOD

    a, b, g, m = HW_ALPHA, HW_BETA, HW_GAMMA, HW_PERIOD
    return f"""
    WITH RECURSIVE candles AS ({CANDLES_SQL}),
    c AS MATERIALIZED (
      SELECT id, dt, close, row_number() OVER ({_WIN}) AS rn FROM candles
    ),
    init AS (
      SELECT id, avg(close) AS l0,
             list(close - l ORDER BY rn) AS s0
      FROM (
        SELECT id, rn, close,
               avg(close) OVER (PARTITION BY id) AS l
        FROM c WHERE rn <= {m}
      ) GROUP BY id
    ),
    r AS (
      SELECT id, CAST({m} AS BIGINT) AS rn,
             l0 AS l, CAST(0.0 AS DOUBLE) AS b, s0 AS season,
             CAST(NULL AS DOUBLE) AS s_emit, CAST(NULL AS DOUBLE) AS fc
      FROM init
      UNION ALL
      SELECT id, rn, new_l AS l,
             {b} * (new_l - l) + (1.0 - {b}) * b AS b,
             list_append(season[2:{m}], {g} * (x - new_l) + (1.0 - {g}) * season[1]) AS season,
             {g} * (x - new_l) + (1.0 - {g}) * season[1] AS s_emit,
             l + b + season[1] AS fc
      FROM (
        SELECT c.id, c.rn, c.close AS x, p.l, p.b, p.season,
               {a} * (c.close - p.season[1]) + (1.0 - {a}) * (p.l + p.b) AS new_l
        FROM r p JOIN c ON c.id = p.id AND c.rn = p.rn + 1
      )
    )
    SELECT r.id, c.dt,
           {o_rnd('r.l', 4)} AS hw_level,
           {o_rnd('r.b', 4)} AS hw_trend,
           {o_rnd('r.s_emit', 4)} AS hw_season,
           {o_rnd('r.fc', 4)} AS hw_forecast
    FROM r JOIN c ON c.id = r.id AND c.rn = r.rn
    WHERE r.s_emit IS NOT NULL
    """


@query("q299_holt_winters", oracle=_q299_oracle())
def q299_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters with weekly seasonality (alpha=.3,
    beta=.1, gamma=.2, m=7): level + trend + a rotating 7-slot
    seasonal state, emitting the one-step-ahead forecast — the
    seasonal forecaster that closes the smoothing ladder
    EMA (q37) -> Holt (q100) -> Holt-Winters, and the model q260's
    MASE baseline exists to beat.

    The seasonal state makes the recursion vector-valued: the pandas
    kernel carries m floats per key (operators.indicators
    .holt_winters_additive), and the oracle's recursive CTE carries
    the SAME state as a LIST column, shifted one slot per step — a
    vector-state recurrence hash-checked bit-for-bit."""
    from ..operators.indicators import holt_winters_additive

    out = holt_winters_additive(candles(spark, sf_dir))
    return out.filter(F.col("hw_season").isNotNull()).select(
        "id",
        "dt",
        prnd("hw_level", 4).alias("hw_level"),
        prnd("hw_trend", 4).alias("hw_trend"),
        prnd("hw_season", 4).alias("hw_season"),
        prnd("hw_forecast", 4).alias("hw_forecast"),
    )


# ---------------------------------------------------------------------------
# q300 momentum strategy backtest (leak-free monthly rebalance)
# ---------------------------------------------------------------------------

_Q300_LOOKBACK = 3  # signal: trailing 3-month return
_Q300_TOP = 2  # hold the top-2 symbols


def _q300_oracle() -> str:
    mw = "PARTITION BY id ORDER BY mon"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    mc AS (
      SELECT id, strftime(date_trunc('month', dt), '%Y-%m') AS mon,
             max_by(close, dt) AS close
      FROM candles GROUP BY id, date_trunc('month', dt)
    ),
    mr AS (
      SELECT id, mon, close,
             close / lag(close) OVER ({mw}) - 1.0 AS ret,
             lag(close, 1) OVER ({mw})
               / lag(close, {_Q300_LOOKBACK + 1}) OVER ({mw}) - 1.0 AS signal
      FROM mc
    ),
    sel AS (
      SELECT id, mon, ret, signal,
             row_number() OVER (PARTITION BY mon
                                ORDER BY signal DESC, id) AS rk,
             count(signal) OVER (PARTITION BY mon) AS n_sig
      FROM mr WHERE ret IS NOT NULL AND signal IS NOT NULL
    ),
    monthly AS (
      SELECT mon,
             {o_rnd(f'avg(CASE WHEN rk <= {_Q300_TOP} THEN ret END)', 6)} AS strat_ret,
             {o_rnd('avg(ret)', 6)} AS bench_ret
      FROM sel WHERE n_sig >= {_Q300_TOP}
      GROUP BY mon
    )
    SELECT mon,
           strat_ret,
           bench_ret,
           {o_rnd("sum(ln(1.0 + strat_ret)) OVER (ORDER BY mon ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 6)} AS strat_log_equity,
           {o_rnd("sum(ln(1.0 + bench_ret)) OVER (ORDER BY mon ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 6)} AS bench_log_equity
    FROM monthly
    """


@query("q300_momentum_backtest", oracle=_q300_oracle())
def q300_momentum_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional momentum backtest, the capstone the
    reference's prediction warehouse feeds: each month, rank symbols
    by their trailing 3-month return AS OF THE PRIOR MONTH-END (both
    lags start at lag-1, so the signal never sees the month it
    trades — the leak-freedom q172's feature matrix enforces
    row-wise, enforced here at the REBALANCE boundary), hold the
    top 2 equal-weighted, and compound both the strategy and the
    equal-weight benchmark into LOG equity curves (log space keeps
    long-horizon compounding on an fp-stable magnitude).

    Month-end closes via max_by, signals and selection as windows on
    the tiny monthly panel, compounding as exp-sum-log (exact given
    the rounded monthly returns) — a full backtest in three windows
    and two groupBys, no driver loop."""
    c = candles(spark, sf_dir)
    mc = c.groupBy(
        "id",
        F.date_format(F.date_trunc("month", "dt"), "yyyy-MM").alias("mon"),
    ).agg(F.max_by("close", "dt").alias("close"))
    mw = W.partitionBy("id").orderBy("mon")
    mr = mc.select(
        "id",
        "mon",
        (F.col("close") / F.lag("close").over(mw) - 1.0).alias("ret"),
        (
            F.lag("close", 1).over(mw)
            / F.lag("close", _Q300_LOOKBACK + 1).over(mw)
            - 1.0
        ).alias("signal"),
    ).filter(F.col("ret").isNotNull() & F.col("signal").isNotNull())
    sel = mr.select(
        "mon",
        "ret",
        F.row_number()
        .over(W.partitionBy("mon").orderBy(F.col("signal").desc(), "id"))
        .alias("rk"),
        F.count("signal").over(W.partitionBy("mon")).alias("n_sig"),
    ).filter(F.col("n_sig") >= _Q300_TOP)
    monthly = sel.groupBy("mon").agg(
        prnd(
            F.avg(F.when(F.col("rk") <= _Q300_TOP, F.col("ret"))), 6
        ).alias("strat_ret"),
        prnd(F.avg("ret"), 6).alias("bench_ret"),
    )
    cum = W.orderBy("mon").rowsBetween(W.unboundedPreceding, W.currentRow)
    return monthly.select(
        "mon",
        "strat_ret",
        "bench_ret",
        prnd(
            F.sum(F.log(1.0 + F.col("strat_ret"))).over(cum), 6
        ).alias("strat_log_equity"),
        prnd(
            F.sum(F.log(1.0 + F.col("bench_ret"))).over(cum), 6
        ).alias("bench_log_equity"),
    )


# ---------------------------------------------------------------------------
# q308 Wald-Wolfowitz runs test (randomness of return signs)
# ---------------------------------------------------------------------------


def _q308_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt,
             CASE WHEN close > lag(close) OVER ({_WIN}) THEN 1
                  WHEN close < lag(close) OVER ({_WIN}) THEN 0 END AS up
      FROM candles
    ),
    s AS (
      SELECT id, dt, up,
             CASE WHEN lag(up) OVER ({_WIN}) IS NULL
                   OR up <> lag(up) OVER ({_WIN}) THEN 1 ELSE 0 END AS new_run
      FROM r WHERE up IS NOT NULL
    ),
    agg AS (
      SELECT id,
             CAST(sum(new_run) AS DOUBLE) AS runs,
             CAST(sum(up) AS DOUBLE) AS n_up,
             CAST(count(*) - sum(up) AS DOUBLE) AS n_dn,
             CAST(count(*) AS DOUBLE) AS n
      FROM s GROUP BY id
    )
    SELECT id, CAST(n AS BIGINT) AS n_obs, CAST(runs AS BIGINT) AS n_runs,
           {o_rnd('2.0 * n_up * n_dn / n + 1.0', 4)} AS expected_runs,
           {o_rnd('(runs - (2.0 * n_up * n_dn / n + 1.0)) / sqrt(2.0 * n_up * n_dn * (2.0 * n_up * n_dn - n) / (n * n * (n - 1.0)))', 4)} AS z_score
    FROM agg
    """


@query("q308_runs_test", oracle=_q308_oracle())
def q308_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily return signs: the observed
    number of up/down runs against its null expectation
    2*n+*n-/n + 1, z-scored — too FEW runs means trending
    (momentum, q300's premise), too MANY means mean-reversion
    (q205's premise); the 3-line hypothesis test that says which
    of the engine's two strategy families a series even supports.

    One lag for signs, one lag for run boundaries, one algebraic
    groupBy — all on the shared per-id sort (flat days drop out,
    the standard two-category reduction)."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id",
        "dt",
        F.when(F.col("close") > F.lag("close").over(w), 1)
        .when(F.col("close") < F.lag("close").over(w), 0)
        .alias("up"),
    ).filter(F.col("up").isNotNull())
    s = r.select(
        "id",
        "up",
        F.when(
            F.lag("up").over(w).isNull()
            | (F.col("up") != F.lag("up").over(w)),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = s.groupBy("id").agg(
        F.sum("new_run").cast("double").alias("runs"),
        F.sum("up").cast("double").alias("n_up"),
        (F.count("*") - F.sum("up")).cast("double").alias("n_dn"),
        F.count("*").cast("double").alias("n"),
    )
    exp_runs = 2.0 * F.col("n_up") * F.col("n_dn") / F.col("n") + 1.0
    var = (
        2.0
        * F.col("n_up")
        * F.col("n_dn")
        * (2.0 * F.col("n_up") * F.col("n_dn") - F.col("n"))
        / (F.col("n") * F.col("n") * (F.col("n") - 1.0))
    )
    return agg.select(
        "id",
        F.col("n").cast("long").alias("n_obs"),
        F.col("runs").cast("long").alias("n_runs"),
        prnd(exp_runs, 4).alias("expected_runs"),
        prnd((F.col("runs") - exp_runs) / F.sqrt(var), 4).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# q309 effective sample size from return autocorrelation
# ---------------------------------------------------------------------------

_Q309_MAX_LAG = 5


def _q309_oracle() -> str:
    lag_terms = []
    for k in range(1, _Q309_MAX_LAG + 1):
        lag_terms.append(f"""
      SELECT id, {k} AS k,
             (avg(ret * ret_l) - avg(ret) * avg(ret_l))
               / nullif(sqrt((avg(ret * ret) - avg(ret) * avg(ret))
                       * (avg(ret_l * ret_l) - avg(ret_l) * avg(ret_l))), 0.0) AS rho
      FROM (
        SELECT id, ret, lag(ret, {k}) OVER ({_WIN.replace("ORDER BY dt", "ORDER BY dt")}) AS ret_l
        FROM rets
      ) WHERE ret_l IS NOT NULL
      GROUP BY id""")
    u = " UNION ALL ".join(lag_terms)
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    rets AS (
      SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles QUALIFY ret IS NOT NULL
    ),
    rhos AS ({u}),
    n_tab AS (SELECT id, CAST(count(*) AS DOUBLE) AS n FROM rets GROUP BY id)
    SELECT r.id, CAST(any_value(n_tab.n) AS BIGINT) AS n_obs,
           {o_rnd('sum(r.rho)', 6)} AS sum_rho,
           {o_rnd('any_value(n_tab.n) / (1.0 + 2.0 * sum(r.rho))', 2)} AS ess,
           {o_rnd('1.0 / (1.0 + 2.0 * sum(r.rho))', 6)} AS efficiency
    FROM rhos r JOIN n_tab ON n_tab.id = r.id
    GROUP BY r.id
    """


@query("q309_effective_sample_size", oracle=_q309_oracle())
def q309_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of each return series: n / (1 + 2 sum
    rho_k), truncated at lag 5 — the honest observation count when
    samples are serially correlated (q284 corrects for CLUSTER
    structure; this corrects for TIME structure). Every t-statistic
    and standard error over these series (q168, q216) implicitly
    claims n independent draws; ESS says how many they really have.

    Five lag windows on the shared per-id sort (one per
    autocorrelation term), each reduced by algebraic correlation
    sums, then a 5-row-per-id rollup."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    rets = c.select(
        "id", "dt", F.log(F.col("close") / F.lag("close").over(w)).alias("ret")
    ).filter(F.col("ret").isNotNull())
    rho_frames = []
    for k in range(1, _Q309_MAX_LAG + 1):
        lagd = rets.select(
            "id", "ret", F.lag("ret", k).over(w).alias("ret_l")
        ).filter(F.col("ret_l").isNotNull())
        cov = F.avg(F.col("ret") * F.col("ret_l")) - F.avg("ret") * F.avg(
            "ret_l"
        )
        va = F.avg(F.col("ret") * F.col("ret")) - F.avg("ret") * F.avg("ret")
        vb = F.avg(F.col("ret_l") * F.col("ret_l")) - F.avg("ret_l") * F.avg(
            "ret_l"
        )
        rho_frames.append(
            lagd.groupBy("id").agg(
                (cov / F.nullif(F.sqrt(va * vb), F.lit(0.0))).alias("rho")
            )
        )
    rhos = rho_frames[0]
    for fr in rho_frames[1:]:
        rhos = rhos.unionByName(fr)
    n_tab = rets.groupBy("id").agg(F.count("*").cast("double").alias("n"))
    j = rhos.join(n_tab, "id")
    return j.groupBy("id").agg(
        F.first("n").cast("long").alias("n_obs"),
        prnd(F.sum("rho"), 6).alias("sum_rho"),
        prnd(F.first("n") / (1.0 + 2.0 * F.sum("rho")), 2).alias("ess"),
        prnd(1.0 / (1.0 + 2.0 * F.sum("rho")), 6).alias("efficiency"),
    )


# ---------------------------------------------------------------------------
# q310 Holm-Bonferroni multiplicity control over per-symbol tests
# ---------------------------------------------------------------------------

# two-sided N(0,1) critical values for Holm step-down at alpha=0.05, m=5:
# rank k tests against alpha / (m - k + 1) (precomputed via erfc bisection;
# shared literals keep both engines on identical thresholds)
_Q310_CRITS = [2.575829, 2.497705, 2.39398, 2.241403, 1.959964]


def _q310_oracle() -> str:
    crit_cases = " ".join(
        f"WHEN {k + 1} THEN {c}" for k, c in enumerate(_Q310_CRITS)
    )
    return f"""
    WITH base AS ({_q308_oracle()}),
    ranked AS (
      SELECT id, n_obs, z_score,
             row_number() OVER (ORDER BY abs(z_score) DESC, id) AS rk
      FROM base
    ),
    tested AS (
      SELECT id, n_obs, z_score, rk,
             CASE rk {crit_cases} END AS z_crit,
             CASE WHEN abs(z_score) > (CASE rk {crit_cases} END)
                  THEN 1 ELSE 0 END AS passes_own
      FROM ranked
    )
    SELECT id, n_obs,
           {o_rnd('z_score', 4)} AS z_score,
           CAST(rk AS INTEGER) AS holm_rank,
           {o_rnd('z_crit', 6)} AS z_crit,
           CAST(min(passes_own) OVER (ORDER BY rk
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS significant,
           CAST(abs(z_score) > {_Q310_CRITS[0]} AS INT) AS bonferroni_significant
    FROM tested
    """


@query("q310_holm_correction", oracle=_q310_oracle())
def q310_holm_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control over the per-symbol randomness tests
    (q308's z-scores): Holm's step-down — rank by |z|, test rank k
    against alpha/(m-k+1), and STOP at the first failure (the
    running-min flag), next to plain Bonferroni for contrast. Run 5
    symbols' tests at raw alpha=0.05 and on average one 'discovery'
    per 20 dashboards is noise; multiplicity control is what makes a
    screen's alerts trustworthy, and it closes the inference family
    (q168/q275/q296/q309).

    The step-down 'stop at first failure' is a running min over the
    rank order — sequential semantics as one window; critical values
    are shared precomputed literals (no inverse-normal needed in
    either engine)."""
    base = q308_runs_test(spark, sf_dir)
    ranked = base.select(
        "id",
        "n_obs",
        "z_score",
        F.row_number()
        .over(W.orderBy(F.abs("z_score").desc(), "id"))
        .alias("rk"),
    )
    crit = F.col("rk")
    crit_expr = None
    for k, c in enumerate(_Q310_CRITS):
        cond = F.when(F.col("rk") == k + 1, F.lit(c))
        crit_expr = cond if crit_expr is None else crit_expr.when(
            F.col("rk") == k + 1, F.lit(c)
        )
    tested = ranked.select(
        "id",
        "n_obs",
        "z_score",
        "rk",
        crit_expr.alias("z_crit"),
    ).withColumn(
        "passes_own",
        (F.abs("z_score") > F.col("z_crit")).cast("int"),
    )
    chain = W.orderBy("rk").rowsBetween(W.unboundedPreceding, W.currentRow)
    return tested.select(
        "id",
        "n_obs",
        prnd("z_score", 4).alias("z_score"),
        F.col("rk").cast("int").alias("holm_rank"),
        prnd("z_crit", 6).alias("z_crit"),
        F.min("passes_own").over(chain).cast("int").alias("significant"),
        (F.abs("z_score") > _Q310_CRITS[0]).cast("int").alias(
            "bonferroni_significant"
        ),
    )


# ---------------------------------------------------------------------------
# q312 GARCH(1,1) conditional volatility (pinned params, variance target)
# ---------------------------------------------------------------------------


def _q312_oracle() -> str:
    from ..operators.indicators import GARCH_ALPHA, GARCH_BETA

    a, b = GARCH_ALPHA, GARCH_BETA
    return f"""
    WITH RECURSIVE candles AS ({CANDLES_SQL}),
    r0 AS MATERIALIZED (
      SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles
    ),
    c AS MATERIALIZED (
      SELECT id, dt, ret, row_number() OVER ({_WIN}) AS rn
      FROM r0 WHERE ret IS NOT NULL
    ),
    vb AS MATERIALIZED (
      SELECT id, floor(avg(ret * ret) * 10000000000.0 + 0.5001)
                 / 10000000000.0 AS vbar
      FROM c GROUP BY id
    ),
    r AS (
      SELECT c.id, c.rn, c.dt, c.ret, vb.vbar AS v, vb.vbar
      FROM c JOIN vb USING (id) WHERE c.rn = 1
      UNION ALL
      SELECT c.id, c.rn, c.dt, c.ret,
             (1.0 - {a} - {b}) * p.vbar + {a} * p.ret * p.ret + {b} * p.v AS v,
             p.vbar
      FROM r p JOIN c ON c.id = p.id AND c.rn = p.rn + 1
    )
    SELECT id, dt,
           {o_rnd('ret', 6)} AS ret,
           {o_rnd('sqrt(v * 365.0)', 6)} AS garch_vol_annual
    FROM r
    """


@query("q312_garch_filter", oracle=_q312_oracle())
def q312_garch_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1) conditional volatility with pinned (0.08, 0.90) and
    variance targeting (omega = 0.02 * mean squared return), annualized
    — the mean-reverting risk model next to q222's EWMA edge case:
    shocks decay toward the series' long-run variance instead of
    persisting forever. Two-regime behaviour (spike on shock, geometric
    relaxation to vbar) is exactly what volatility-regime features
    (q219) consume upstream.

    Execution: the ``_per_id`` kernel law (one id-shuffle, O(rows)
    state per key); the unconditional variance seeds on the 1e-10
    portable grid so the recursion stays bit-identical cross-engine,
    and the oracle replays it as a recursive CTE joined to the
    grid-rounded per-id variance (reference family:
    calculate_market_indicators.py volatility consumers)."""
    from ..operators.indicators import garch_filter

    out = garch_filter(candles(spark, sf_dir))
    return out.filter(F.col("garch_var").isNotNull()).select(
        "id",
        "dt",
        prnd("ret", 6).alias("ret"),
        prnd(F.sqrt(F.col("garch_var") * 365.0), 6).alias("garch_vol_annual"),
    )


# ---------------------------------------------------------------------------
# q313 range-based volatility estimators (Parkinson / Garman-Klass /
# Rogers-Satchell)
# ---------------------------------------------------------------------------

_Q313_N = 20
_Q313_LN2 = 0.6931471805599453  # repr round-trips exactly on both engines


def _q313_oracle() -> str:
    frame = f"OVER ({_WIN} ROWS BETWEEN {_Q313_N - 1} PRECEDING AND CURRENT ROW)"
    hl = "ln(high / low)"
    co = "ln(close / open)"
    park_m = f"avg({hl} * {hl}) {frame}"
    gk_m = (
        f"avg(0.5 * {hl} * {hl} - (2.0 * {_Q313_LN2} - 1.0) * {co} * {co}) {frame}"
    )
    rs_m = (
        f"avg(ln(high / close) * ln(high / open)"
        f" + ln(low / close) * ln(low / open)) {frame}"
    )
    guard = f"count(open) {frame} >= {_Q313_N}"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    o AS (
      SELECT id, dt, high, low, close,
             lag(close) OVER ({_WIN}) AS open
      FROM candles
    ),
    m AS (
      SELECT id, dt,
             CASE WHEN {guard} THEN {park_m} END AS park_m,
             CASE WHEN {guard} THEN {gk_m} END AS gk_m,
             CASE WHEN {guard} THEN {rs_m} END AS rs_m
      FROM o WHERE open IS NOT NULL
    )
    SELECT id, dt,
           {o_rnd(f'sqrt(park_m / (4.0 * {_Q313_LN2}) * 365.0)', 6)} AS parkinson_ann,
           {o_rnd('CASE WHEN gk_m > 0 THEN sqrt(gk_m * 365.0) END', 6)} AS garman_klass_ann,
           {o_rnd('CASE WHEN rs_m > 0 THEN sqrt(rs_m * 365.0) END', 6)} AS rogers_satchell_ann
    FROM m WHERE park_m IS NOT NULL
    """


@query("q313_range_volatility", oracle=_q313_oracle())
def q313_range_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-based volatility estimators over a 20-bar window,
    annualized: Parkinson (high/low range only, ~5x more efficient
    than close-to-close), Garman-Klass (adds open/close, can go
    negative on close-dominated bars — guarded to NULL like the
    library's NaN), and Rogers-Satchell (drift-independent). Open
    derives as the prior close (the q129 Heikin-Ashi convention for
    this daily series). These are the estimators a 100 TB OHLC store
    computes in one window pass where realized-vol from ticks would
    need the raw trades — pure guarded window aggregates on the shared
    per-id sort, whole-stage codegen, one shuffle."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    o = c.select(
        "id", "dt", "high", "low", "close",
        F.lag("close").over(w).alias("open"),
    ).filter(F.col("open").isNotNull())
    frame = w.rowsBetween(-(_Q313_N - 1), 0)
    hl = F.log(F.col("high") / F.col("low"))
    co = F.log(F.col("close") / F.col("open"))
    guard = F.count("open").over(frame) >= _Q313_N
    park_m = F.when(guard, F.avg(hl * hl).over(frame))
    gk_m = F.when(
        guard,
        F.avg(
            0.5 * hl * hl - (2.0 * _Q313_LN2 - 1.0) * co * co
        ).over(frame),
    )
    rs_m = F.when(
        guard,
        F.avg(
            F.log(F.col("high") / F.col("close"))
            * F.log(F.col("high") / F.col("open"))
            + F.log(F.col("low") / F.col("close"))
            * F.log(F.col("low") / F.col("open"))
        ).over(frame),
    )
    m = o.select(
        "id", "dt",
        park_m.alias("park_m"), gk_m.alias("gk_m"), rs_m.alias("rs_m"),
    ).filter(F.col("park_m").isNotNull())
    return m.select(
        "id",
        "dt",
        prnd(F.sqrt(F.col("park_m") / (4.0 * _Q313_LN2) * 365.0), 6).alias(
            "parkinson_ann"
        ),
        prnd(
            F.when(F.col("gk_m") > 0, F.sqrt(F.col("gk_m") * 365.0)), 6
        ).alias("garman_klass_ann"),
        prnd(
            F.when(F.col("rs_m") > 0, F.sqrt(F.col("rs_m") * 365.0)), 6
        ).alias("rogers_satchell_ann"),
    )


# ---------------------------------------------------------------------------
# q316 Jensen-Shannon drift between early/late close distributions
# ---------------------------------------------------------------------------

_Q316_BINS = 20


def _q316_oracle() -> str:
    nb = _Q316_BINS
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, close,
             row_number() OVER ({_WIN}) AS rn,
             count(*) OVER (PARTITION BY id) AS n,
             min(close) OVER (PARTITION BY id) AS mn,
             max(close) OVER (PARTITION BY id) AS mx
      FROM candles
    ),
    b AS (
      SELECT id, n,
             CASE WHEN rn <= n // 2 THEN 0 ELSE 1 END AS period,
             least({nb - 1}, CAST(floor((close - mn) / (mx - mn) * {nb}.0)
                                  AS INTEGER)) AS bin
      FROM r WHERE mx > mn
    ),
    c AS (
      SELECT id, bin,
             count(*) FILTER (WHERE period = 0) AS cp,
             count(*) FILTER (WHERE period = 1) AS cq
      FROM b GROUP BY id, bin
    ),
    t AS (
      SELECT id, sum(cp) AS np, sum(cq) AS nq FROM c GROUP BY id
    ),
    probs AS (
      SELECT c.id, c.bin,
             CAST(c.cp AS DOUBLE) / t.np AS p,
             CAST(c.cq AS DOUBLE) / t.nq AS q
      FROM c JOIN t USING (id)
    )
    SELECT id,
           {o_rnd('''sum(CASE WHEN p > 0 THEN 0.5 * p * ln(2.0 * p / (p + q)) ELSE 0.0 END
                 + CASE WHEN q > 0 THEN 0.5 * q * ln(2.0 * q / (p + q)) ELSE 0.0 END)''', 6)} AS js_divergence,
           CAST(count(*) AS INTEGER) AS n_bins_used
    FROM probs GROUP BY id
    """


@query("q316_js_divergence", oracle=_q316_oracle())
def q316_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each symbol's early-half and
    late-half close distributions (20 equal-width bins over the
    symbol's own range) — the bounded, symmetric drift metric next to
    q194's PSI (PSI explodes on empty bins and is asymmetric; JS is
    [0, ln 2] and zero-bin-safe, the form train/serve skew monitors
    report). Zero-probability terms contribute exactly 0 on both
    engines (guarded, no epsilon smoothing to argue about).

    One pass builds rank/extent windows, binning is closed-form float
    arithmetic, probabilities are exact integer counts over exact
    totals, and the divergence is one grouped sum — at 100 TB this is
    two shuffles (id window sort + bin agg) regardless of row count.
    The sum order across 20 bins is shuffle-dependent but the 1e-6
    grid absorbs the ~1e-17 drift (term magnitudes are <= ln 2)."""
    c = candles(spark, sf_dir)
    nb = _Q316_BINS
    w = W.partitionBy("id").orderBy("dt")
    byid = W.partitionBy("id")
    r = c.select(
        "id",
        "close",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(byid).alias("n"),
        F.min("close").over(byid).alias("mn"),
        F.max("close").over(byid).alias("mx"),
    ).filter(F.col("mx") > F.col("mn"))
    b = r.select(
        "id",
        "n",
        F.when(F.col("rn") <= F.floor(F.col("n") / 2), 0)
        .otherwise(1)
        .alias("period"),
        F.least(
            F.lit(nb - 1),
            F.floor(
                (F.col("close") - F.col("mn"))
                / (F.col("mx") - F.col("mn"))
                * float(nb)
            ).cast("int"),
        ).alias("bin"),
    )
    cnt = b.groupBy("id", "bin").agg(
        F.count(F.when(F.col("period") == 0, 1)).alias("cp"),
        F.count(F.when(F.col("period") == 1, 1)).alias("cq"),
    )
    t = cnt.groupBy("id").agg(
        F.sum("cp").alias("np"), F.sum("cq").alias("nq")
    )
    probs = cnt.join(t, "id").select(
        "id",
        (F.col("cp").cast("double") / F.col("np")).alias("p"),
        (F.col("cq").cast("double") / F.col("nq")).alias("q"),
    )
    term = F.when(
        F.col("p") > 0,
        0.5 * F.col("p") * F.log(2.0 * F.col("p") / (F.col("p") + F.col("q"))),
    ).otherwise(0.0) + F.when(
        F.col("q") > 0,
        0.5 * F.col("q") * F.log(2.0 * F.col("q") / (F.col("p") + F.col("q"))),
    ).otherwise(0.0)
    return probs.groupBy("id").agg(
        prnd(F.sum(term), 6).alias("js_divergence"),
        F.count("*").cast("int").alias("n_bins_used"),
    )


# ---------------------------------------------------------------------------
# q317 volatility cones
# ---------------------------------------------------------------------------

_Q317_HORIZONS = (5, 10, 20)


def _q317_oracle() -> str:
    arms = []
    for h in _Q317_HORIZONS:
        frame = f"OVER ({_WIN} ROWS BETWEEN {h - 1} PRECEDING AND CURRENT ROW)"
        arms.append(f"""
    SELECT id, {h} AS horizon,
           CASE WHEN count(ret) {frame} >= {h}
                THEN sqrt(var_pop(ret) {frame} * 365.0) END AS rv,
           row_number() OVER ({_WIN}) AS rn,
           count(*) OVER (PARTITION BY id) AS n
    FROM r""")
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles
    ),
    rv AS ({" UNION ALL ".join(arms)})
    SELECT id, CAST(horizon AS INTEGER) AS horizon,
           {o_rnd('min(rv)', 6)} AS vol_min,
           {o_rnd('quantile_cont(rv, 0.25)', 6)} AS vol_p25,
           {o_rnd('quantile_cont(rv, 0.5)', 6)} AS vol_median,
           {o_rnd('quantile_cont(rv, 0.75)', 6)} AS vol_p75,
           {o_rnd('max(rv)', 6)} AS vol_max,
           {o_rnd('max(CASE WHEN rn = n THEN rv END)', 6)} AS vol_now
    FROM rv WHERE rv IS NOT NULL
    GROUP BY id, horizon
    """


@query("q317_volatility_cones", oracle=_q317_oracle())
def q317_volatility_cones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volatility cones: for each symbol and horizon (5/10/20 bars),
    the historical distribution of annualized rolling volatility
    (min / quartiles / max) next to the CURRENT reading — the classic
    options-desk display answering "is today's vol rich or cheap vs
    this horizon's own history". Multi-horizon rolling stddevs all
    ride one (id, dt) window sort; the cone summary is exact
    interpolated percentiles per (id, horizon) (q29 convention).

    Scale: horizons fan out as a union over the SAME windowed frame
    (scan reused, no re-shuffle per horizon beyond the window
    exchange), and the percentile pass sees one row per bar per
    horizon — linear in data, constant output."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    byid = W.partitionBy("id")
    r = c.select(
        "id", "dt",
        F.log(F.col("close") / F.lag("close").over(w)).alias("ret"),
    )
    arms = []
    for h in _Q317_HORIZONS:
        frame = w.rowsBetween(-(h - 1), 0)
        rv = F.when(
            F.count("ret").over(frame) >= h,
            F.sqrt(F.var_pop("ret").over(frame) * 365.0),
        )
        arms.append(
            r.select(
                "id",
                F.lit(h).alias("horizon"),
                rv.alias("rv"),
                F.row_number().over(w).alias("rn"),
                F.count("*").over(byid).alias("n"),
            )
        )
    rv_all = arms[0]
    for a in arms[1:]:
        rv_all = rv_all.union(a)
    return (
        rv_all.filter(F.col("rv").isNotNull())
        .groupBy("id", F.col("horizon").cast("int").alias("horizon"))
        .agg(
            prnd(F.min("rv"), 6).alias("vol_min"),
            prnd(F.expr("percentile(rv, 0.25)"), 6).alias("vol_p25"),
            prnd(F.expr("percentile(rv, 0.5)"), 6).alias("vol_median"),
            prnd(F.expr("percentile(rv, 0.75)"), 6).alias("vol_p75"),
            prnd(F.max("rv"), 6).alias("vol_max"),
            prnd(
                F.max(F.when(F.col("rn") == F.col("n"), F.col("rv"))), 6
            ).alias("vol_now"),
        )
    )


# ---------------------------------------------------------------------------
# q318 Ljung-Box autocorrelation test
# ---------------------------------------------------------------------------

_Q318_LAGS = 10
_Q318_CHI2_CRIT = 18.307038053275146  # chi2.ppf(0.95, df=10)


def _q318_oracle() -> str:
    lag_cols = ",\n             ".join(
        f"lag(ret, {k}) OVER ({_WIN}) AS l{k}" for k in range(1, _Q318_LAGS + 1)
    )
    rho_terms = []
    for k in range(1, _Q318_LAGS + 1):
        rho_terms.append(
            f"power(sum((ret - mu) * (l{k} - mu)) FILTER (WHERE l{k} IS NOT NULL)"
            f" / sum((ret - mu) * (ret - mu)), 2) / (max(n) - {k})"
        )
    qsum = " + ".join(rho_terms)
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r0 AS (
      SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles
    ),
    r1 AS (
      SELECT id, ret,
             {lag_cols}
      FROM (SELECT id, dt, ret FROM r0 WHERE ret IS NOT NULL) t
    ),
    m AS (
      SELECT id, avg(ret) AS mu, count(*) AS n FROM r1 GROUP BY id
    ),
    j AS (SELECT r1.*, m.mu, m.n FROM r1 JOIN m USING (id))
    SELECT id,
           CAST(max(n) AS BIGINT) AS n_obs,
           {o_rnd(f'max(n) * (max(n) + 2.0) * ({qsum})', 6)} AS lb_q,
           CAST({_Q318_LAGS} AS INTEGER) AS df,
           CAST((max(n) * (max(n) + 2.0) * ({qsum})) > {_Q318_CHI2_CRIT!r} AS INT)
             AS reject_iid
    FROM j GROUP BY id
    """


@query("q318_ljung_box", oracle=_q318_oracle())
def q318_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on daily log returns (lags 1..10):
    Q = n(n+2) * sum_k rho_k^2/(n-k) against the chi-square(10) 95%
    critical value — the standard "is this series white noise"
    diagnostic run before fitting any AR/GARCH model (complements
    q308's distribution-free runs test and q203's single-lag ACF with
    a joint multi-lag statistic).

    One id-window builds all 10 lag columns off the shared sort, the
    per-id mean joins back broadcast, and the statistic is a single
    algebraic aggregation — sums of products whose cross-engine
    accumulation drift (~1e-15 relative) the 1e-6 output grid
    absorbs."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r0 = c.select(
        "id", "dt",
        F.log(F.col("close") / F.lag("close").over(w)).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    lagged = r0.select(
        "id",
        "ret",
        *[
            F.lag("ret", k).over(w).alias(f"l{k}")
            for k in range(1, _Q318_LAGS + 1)
        ],
    )
    m = lagged.groupBy("id").agg(
        F.avg("ret").alias("mu"), F.count("*").alias("n")
    )
    j = lagged.join(F.broadcast(m), "id")
    dc = F.col("ret") - F.col("mu")
    denom = F.sum(dc * dc)
    rho_sq_terms = []
    for k in range(1, _Q318_LAGS + 1):
        num = F.sum(
            F.when(
                F.col(f"l{k}").isNotNull(),
                dc * (F.col(f"l{k}") - F.col("mu")),
            )
        )
        rho_sq_terms.append(
            F.pow(num / denom, 2) / (F.max("n") - F.lit(k))
        )
    qsum = rho_sq_terms[0]
    for t in rho_sq_terms[1:]:
        qsum = qsum + t
    lb = F.max("n") * (F.max("n") + F.lit(2.0)) * qsum
    return j.groupBy("id").agg(
        F.max("n").cast("long").alias("n_obs"),
        prnd(lb, 6).alias("lb_q"),
        F.lit(_Q318_LAGS).cast("int").alias("df"),
        (lb > F.lit(_Q318_CHI2_CRIT)).cast("int").alias("reject_iid"),
    )


# ---------------------------------------------------------------------------
# q319 rolling higher moments (skewness / excess kurtosis)
# ---------------------------------------------------------------------------

_Q319_N = 20


def _q319_oracle() -> str:
    frame = f"OVER ({_WIN} ROWS BETWEEN {_Q319_N - 1} PRECEDING AND CURRENT ROW)"
    m1 = f"avg(ret) {frame}"
    m2r = f"avg(ret * ret) {frame}"
    m3r = f"avg(ret * ret * ret) {frame}"
    m4r = f"avg(ret * ret * ret * ret) {frame}"
    guard = f"count(ret) {frame} >= {_Q319_N}"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles
    ),
    m AS (
      SELECT id, dt,
             CASE WHEN {guard} THEN {m1} END AS m1,
             CASE WHEN {guard} THEN {m2r} END AS m2r,
             CASE WHEN {guard} THEN {m3r} END AS m3r,
             CASE WHEN {guard} THEN {m4r} END AS m4r
      FROM r WHERE ret IS NOT NULL
    ),
    c2 AS (
      SELECT id, dt,
             m2r - m1 * m1 AS v,
             m3r - 3.0 * m1 * m2r + 2.0 * m1 * m1 * m1 AS c3,
             m4r - 4.0 * m1 * m3r + 6.0 * m1 * m1 * m2r
                 - 3.0 * m1 * m1 * m1 * m1 AS c4
      FROM m WHERE m1 IS NOT NULL
    )
    SELECT id, dt,
           {o_rnd('CASE WHEN v > 0 THEN c3 / power(v, 1.5) END', 6)} AS roll_skew,
           {o_rnd('CASE WHEN v > 0 THEN c4 / (v * v) - 3.0 END', 6)} AS roll_exkurt
    FROM c2
    """


@query("q319_rolling_moments", oracle=_q319_oracle())
def q319_rolling_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-bar skewness and excess kurtosis of daily log
    returns — the tail-shape features (crash asymmetry, fat tails)
    volatility models and risk filters consume beyond plain variance
    (q130). Central moments come from raw-moment window averages via
    the standard binomial expansion, so everything is four avg windows
    on ONE shared (id, dt) sort — no second pass to subtract a mean,
    no UDF; both engines evaluate the identical closed-form polynomial
    and the 1e-6 grid absorbs window-accumulation drift."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id", "dt",
        F.log(F.col("close") / F.lag("close").over(w)).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    frame = w.rowsBetween(-(_Q319_N - 1), 0)
    guard = F.count("ret").over(frame) >= _Q319_N
    ret = F.col("ret")
    m1 = F.when(guard, F.avg(ret).over(frame))
    m2r = F.when(guard, F.avg(ret * ret).over(frame))
    m3r = F.when(guard, F.avg(ret * ret * ret).over(frame))
    m4r = F.when(guard, F.avg(ret * ret * ret * ret).over(frame))
    m = r.select(
        "id", "dt",
        m1.alias("m1"), m2r.alias("m2r"), m3r.alias("m3r"), m4r.alias("m4r"),
    ).filter(F.col("m1").isNotNull())
    v = F.col("m2r") - F.col("m1") * F.col("m1")
    c3 = (
        F.col("m3r")
        - 3.0 * F.col("m1") * F.col("m2r")
        + 2.0 * F.col("m1") * F.col("m1") * F.col("m1")
    )
    c4 = (
        F.col("m4r")
        - 4.0 * F.col("m1") * F.col("m3r")
        + 6.0 * F.col("m1") * F.col("m1") * F.col("m2r")
        - 3.0 * F.col("m1") * F.col("m1") * F.col("m1") * F.col("m1")
    )
    c2 = m.select("id", "dt", v.alias("v"), c3.alias("c3"), c4.alias("c4"))
    return c2.select(
        "id",
        "dt",
        prnd(
            F.when(F.col("v") > 0, F.col("c3") / F.pow(F.col("v"), 1.5)), 6
        ).alias("roll_skew"),
        prnd(
            F.when(
                F.col("v") > 0, F.col("c4") / (F.col("v") * F.col("v")) - 3.0
            ),
            6,
        ).alias("roll_exkurt"),
    )


# ---------------------------------------------------------------------------
# q323 purged + embargoed forward labels
# ---------------------------------------------------------------------------

_Q323_HORIZON = 5  # label = forward 5-bar log return
_Q323_EMBARGO = 10
_Q323_TEST_LO, _Q323_TEST_HI = "1998-01-01", "1998-12-31"


def _q323_oracle() -> str:
    h, e = _Q323_HORIZON, _Q323_EMBARGO
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt, close,
             row_number() OVER ({_WIN}) AS rn,
             lead(close, {h}) OVER ({_WIN}) AS fwd_close
      FROM candles
    ),
    b AS (
      SELECT id,
             min(CASE WHEN dt >= DATE '{_Q323_TEST_LO}' THEN rn END) AS t_lo,
             max(CASE WHEN dt <= DATE '{_Q323_TEST_HI}' THEN rn END) AS t_hi
      FROM r GROUP BY id
    )
    SELECT r.id, r.dt,
           {o_rnd('ln(fwd_close / close)', 6)} AS fwd_ret_{h},
           CASE
             WHEN r.rn >= b.t_lo AND r.rn <= b.t_hi THEN 'test'
             WHEN r.rn < b.t_lo AND r.rn + {h} >= b.t_lo THEN 'purged'
             WHEN r.rn > b.t_hi AND r.rn <= b.t_hi + {e} THEN 'embargo'
             ELSE 'train'
           END AS role
    FROM r JOIN b USING (id)
    """


@query("q323_purged_labels", oracle=_q323_oracle())
def q323_purged_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free supervised labels for financial training data: the
    label is the FORWARD 5-bar log return (null near series end), and
    every bar gets a role under a purged + embargoed split (Lopez de
    Prado's protocol): bars inside the 1998 test year are 'test';
    train bars whose 5-bar label window REACHES INTO the test region
    are 'purged' (their label contains test-period information — the
    classic leakage q250 screens for, prevented here at labeling
    time); the 10 bars after the test region are 'embargo' (serial
    correlation leaks backward); everything else is clean 'train'.

    One (id, dt) window pass builds row numbers + forward closes; the
    per-id test-region bounds are a 5-row conditional aggregate joined
    back broadcast — two shuffles total at any scale."""
    h, e = _Q323_HORIZON, _Q323_EMBARGO
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id", "dt", "close",
        F.row_number().over(w).alias("rn"),
        F.lead("close", h).over(w).alias("fwd_close"),
    )
    b = r.groupBy("id").agg(
        F.min(
            F.when(F.col("dt") >= F.lit(_Q323_TEST_LO).cast("date"), F.col("rn"))
        ).alias("t_lo"),
        F.max(
            F.when(F.col("dt") <= F.lit(_Q323_TEST_HI).cast("date"), F.col("rn"))
        ).alias("t_hi"),
    )
    j = r.join(F.broadcast(b), "id")
    role = (
        F.when(
            (F.col("rn") >= F.col("t_lo")) & (F.col("rn") <= F.col("t_hi")),
            "test",
        )
        .when(
            (F.col("rn") < F.col("t_lo"))
            & (F.col("rn") + h >= F.col("t_lo")),
            "purged",
        )
        .when(
            (F.col("rn") > F.col("t_hi"))
            & (F.col("rn") <= F.col("t_hi") + e),
            "embargo",
        )
        .otherwise("train")
    )
    return j.select(
        "id",
        "dt",
        prnd(F.log(F.col("fwd_close") / F.col("close")), 6).alias(
            f"fwd_ret_{h}"
        ),
        role.alias("role"),
    )


# ---------------------------------------------------------------------------
# q324 portfolio VaR / expected shortfall (historical simulation)
# ---------------------------------------------------------------------------


def _q324_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles
    ),
    p AS (
      SELECT dt, avg(ret) AS port_ret, count(*) AS n_ids
      FROM r WHERE ret IS NOT NULL
      GROUP BY dt HAVING count(*) >= 2
    ),
    q AS (
      SELECT {o_rnd('quantile_cont(port_ret, 0.05)', 6)} AS q05 FROM p
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           {o_rnd('-max(q.q05)', 6)} AS var95,
           {o_rnd('-avg(port_ret) FILTER (WHERE port_ret <= q.q05)', 6)} AS es95,
           {o_rnd('min(port_ret)', 6)} AS worst_ret,
           min_by(dt, port_ret) AS worst_dt
    FROM p CROSS JOIN q
    """


@query("q324_portfolio_var_es", oracle=_q324_oracle())
def q324_portfolio_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical-simulation portfolio risk: equal-weight the five
    symbols' daily log returns into one portfolio series, then report
    95% Value-at-Risk (negated 5th percentile), expected shortfall
    (mean loss BEYOND the VaR cut — the coherent tail measure Basel
    moved to), the worst day and its date. The tail membership test
    compares against the GRID-ROUNDED quantile so both engines select
    the identical exceedance set (no epsilon disagreement at the
    cut). Shape: one window pass for returns, one date aggregation,
    one scalar quantile broadcast back — nothing quadratic."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id", "dt", F.log(F.col("close") / F.lag("close").over(w)).alias("ret")
    ).filter(F.col("ret").isNotNull())
    p = (
        r.groupBy("dt")
        .agg(F.avg("ret").alias("port_ret"), F.count("*").alias("n_ids"))
        .filter(F.col("n_ids") >= 2)
    )
    q = p.agg(prnd(F.expr("percentile(port_ret, 0.05)"), 6).alias("q05"))
    return (
        p.crossJoin(F.broadcast(q))
        .agg(
            F.count("*").cast("long").alias("n_days"),
            prnd(-F.max("q05"), 6).alias("var95"),
            prnd(
                -F.avg(
                    F.when(
                        F.col("port_ret") <= F.col("q05"), F.col("port_ret")
                    )
                ),
                6,
            ).alias("es95"),
            prnd(F.min("port_ret"), 6).alias("worst_ret"),
            F.expr("min_by(dt, port_ret)").alias("worst_dt"),
        )
    )


# ---------------------------------------------------------------------------
# q325 empirical tail dependence between symbol pairs
# ---------------------------------------------------------------------------

_Q325_TAIL = 0.1


def _q325_oracle() -> str:
    t = _Q325_TAIL
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles
    ),
    pr AS (
      SELECT id, dt, ret,
             percent_rank() OVER (PARTITION BY id ORDER BY ret, dt) AS u
      FROM r WHERE ret IS NOT NULL
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(count(*) FILTER (WHERE a.u <= {t} AND b.u <= {t}) AS BIGINT)
             AS joint_lower,
           {o_rnd(f'(count(*) FILTER (WHERE a.u <= {t} AND b.u <= {t}))'
                  f' / (count(*) * {t})', 6)} AS lower_tail_dep,
           {o_rnd(f'(count(*) FILTER (WHERE a.u >= {1.0 - t} AND b.u >= {1.0 - t}))'
                  f' / (count(*) * {t})', 6)} AS upper_tail_dep
    FROM pr a JOIN pr b ON a.dt = b.dt AND a.id < b.id
    GROUP BY a.id, b.id
    """


@query("q325_tail_dependence", oracle=_q325_oracle())
def q325_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical tail-dependence coefficients per symbol pair: the
    probability both symbols land in their own worst (best) decile on
    the SAME day, normalized by the independence baseline — the
    copula-level diversification check correlation misses (Gaussian
    correlation says nothing about joint crashes; tail dependence is
    exactly that). percent_rank with a (ret, dt) tie-break makes the
    marginal transform deterministic on both engines.

    Shape: one window pass for per-symbol ranks, then a dt equi-join
    of the 5-symbol panel against itself (10 pairs — the pair fanout
    is #symbols^2, never #rows^2) and one grouped conditional count."""
    t = _Q325_TAIL
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id", "dt", F.log(F.col("close") / F.lag("close").over(w)).alias("ret")
    ).filter(F.col("ret").isNotNull())
    pr = r.select(
        "id", "dt",
        F.percent_rank().over(W.partitionBy("id").orderBy("ret", "dt")).alias("u"),
    )
    a = pr.select(F.col("id").alias("id_a"), "dt", F.col("u").alias("ua"))
    b = pr.select(F.col("id").alias("id_b"), "dt", F.col("u").alias("ub"))
    j = a.join(b, "dt").filter(F.col("id_a") < F.col("id_b"))
    joint_lo = F.count(
        F.when((F.col("ua") <= t) & (F.col("ub") <= t), 1)
    )
    joint_hi = F.count(
        F.when((F.col("ua") >= 1.0 - t) & (F.col("ub") >= 1.0 - t), 1)
    )
    return j.groupBy("id_a", "id_b").agg(
        F.count("*").cast("long").alias("n_days"),
        joint_lo.cast("long").alias("joint_lower"),
        prnd(joint_lo / (F.count("*") * t), 6).alias("lower_tail_dep"),
        prnd(joint_hi / (F.count("*") * t), 6).alias("upper_tail_dep"),
    )


# ---------------------------------------------------------------------------
# q326 day-of-week ANOVA (seasonality F-test)
# ---------------------------------------------------------------------------


def _q326_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt, dayofweek(dt) AS dow,
             ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles
    ),
    g AS (
      SELECT id, dow, count(*) AS ng, avg(ret) AS mg
      FROM r WHERE ret IS NOT NULL GROUP BY id, dow
    ),
    tot AS (
      SELECT id, count(*) AS n, avg(ret) AS mu,
             sum(ret * ret) AS ss
      FROM r WHERE ret IS NOT NULL GROUP BY id
    ),
    parts AS (
      SELECT g.id,
             count(*) AS k,
             sum(g.ng * (g.mg - tot.mu) * (g.mg - tot.mu)) AS ssb,
             max(tot.n) AS n,
             max(tot.ss - tot.n * tot.mu * tot.mu) AS sst
      FROM g JOIN tot USING (id)
      GROUP BY g.id
    )
    SELECT id,
           CAST(n AS BIGINT) AS n_obs,
           CAST(k AS INTEGER) AS n_groups,
           {o_rnd('ssb', 8)} AS ss_between,
           {o_rnd('sst - ssb', 8)} AS ss_within,
           {o_rnd('(ssb / (k - 1)) / ((sst - ssb) / (n - k))', 6)} AS f_stat
    FROM parts
    """


@query("q326_seasonality_anova", oracle=_q326_oracle())
def q326_seasonality_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of daily returns by day-of-week: between-group vs
    within-group variance and the F statistic — the formal test behind
    q120's descriptive day-of-week means (is the weekday effect larger
    than chance?). Everything is sufficient-statistics algebra (group
    sums + totals, SST decomposed as SSB + SSW), so the whole test is
    two partial-aggregations and a broadcast join at any scale.
    Day-of-week uses Spark ``dayofweek()-1`` to match DuckDB's 0-based
    convention (the known cross-engine offset trap)."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id", "dt",
        (F.dayofweek("dt") - 1).alias("dow"),
        F.log(F.col("close") / F.lag("close").over(w)).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    g = r.groupBy("id", "dow").agg(
        F.count("*").alias("ng"), F.avg("ret").alias("mg")
    )
    tot = r.groupBy("id").agg(
        F.count("*").alias("n"),
        F.avg("ret").alias("mu"),
        F.sum(F.col("ret") * F.col("ret")).alias("ss"),
    )
    parts = (
        g.join(F.broadcast(tot), "id")
        .groupBy("id")
        .agg(
            F.count("*").alias("k"),
            F.sum(
                F.col("ng")
                * (F.col("mg") - F.col("mu"))
                * (F.col("mg") - F.col("mu"))
            ).alias("ssb"),
            F.max("n").alias("n"),
            F.max(
                F.col("ss") - F.col("n") * F.col("mu") * F.col("mu")
            ).alias("sst"),
        )
    )
    return parts.select(
        "id",
        F.col("n").cast("long").alias("n_obs"),
        F.col("k").cast("int").alias("n_groups"),
        prnd(F.col("ssb"), 8).alias("ss_between"),
        prnd(F.col("sst") - F.col("ssb"), 8).alias("ss_within"),
        prnd(
            (F.col("ssb") / (F.col("k") - 1))
            / ((F.col("sst") - F.col("ssb")) / (F.col("n") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# q331 Kyle's lambda (price-impact regression)
# ---------------------------------------------------------------------------


def _q331_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt,
             ln(close / lag(close) OVER ({_WIN})) AS ret,
             CASE WHEN close > lag(close) OVER ({_WIN}) THEN volume
                  WHEN close < lag(close) OVER ({_WIN}) THEN -volume
                  ELSE 0.0 END AS sv
      FROM (SELECT id, dt, close,
                   CAST(volume_cents AS DOUBLE) / 100.0 AS volume
            FROM candles) t
    ),
    s AS (
      SELECT id, count(*) AS n, avg(ret) AS mr, avg(sv) AS mv,
             sum(ret * sv) AS srv, sum(sv * sv) AS svv,
             sum(ret * ret) AS srr
      FROM r WHERE ret IS NOT NULL GROUP BY id
    )
    SELECT id,
           CAST(n AS BIGINT) AS n_obs,
           {o_rnd('(srv - n * mr * mv) / (svv - n * mv * mv) * 1000000.0', 6)}
             AS kyle_lambda_ppm,
           {o_rnd('''power(srv - n * mr * mv, 2)
                  / ((svv - n * mv * mv) * (srr - n * mr * mr))''', 6)} AS r_squared
    FROM s
    """


@query("q331_kyle_lambda", oracle=_q331_oracle())
def q331_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle's lambda — price impact per unit of signed volume: the OLS
    slope of daily log returns on tick-rule signed volume (q185's flow
    sign convention), scaled to parts-per-million, with the regression
    R^2. The microstructure liquidity measure next to Amihud (q186):
    Amihud is |ret|/volume averaged; lambda is the REGRESSION impact
    coefficient a market maker quotes around. Pure sufficient
    statistics (five sums per symbol) — one window pass + one
    aggregation at any scale."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    prev = F.lag("close").over(w)
    vol = F.col("volume_cents").cast("double") / 100.0
    r = c.select(
        "id",
        "dt",
        F.log(F.col("close") / prev).alias("ret"),
        F.when(F.col("close") > prev, vol)
        .when(F.col("close") < prev, -vol)
        .otherwise(0.0)
        .alias("sv"),
    ).filter(F.col("ret").isNotNull())
    s = r.groupBy("id").agg(
        F.count("*").alias("n"),
        F.avg("ret").alias("mr"),
        F.avg("sv").alias("mv"),
        F.sum(F.col("ret") * F.col("sv")).alias("srv"),
        F.sum(F.col("sv") * F.col("sv")).alias("svv"),
        F.sum(F.col("ret") * F.col("ret")).alias("srr"),
    )
    cov = F.col("srv") - F.col("n") * F.col("mr") * F.col("mv")
    varv = F.col("svv") - F.col("n") * F.col("mv") * F.col("mv")
    varr = F.col("srr") - F.col("n") * F.col("mr") * F.col("mr")
    return s.select(
        "id",
        F.col("n").cast("long").alias("n_obs"),
        prnd(cov / varv * 1000000.0, 6).alias("kyle_lambda_ppm"),
        prnd(F.pow(cov, 2) / (varv * varr), 6).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# q335 Spearman rank correlation between symbol pairs
# ---------------------------------------------------------------------------


def _q335_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles
    ),
    rk AS (
      SELECT id, dt,
             CAST(row_number() OVER (PARTITION BY id ORDER BY ret, dt)
                  AS DOUBLE) AS rnk
      FROM r WHERE ret IS NOT NULL
    ),
    s AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n,
             avg(a.rnk) AS ma, avg(b.rnk) AS mb,
             sum(a.rnk * b.rnk) AS sab,
             sum(a.rnk * a.rnk) AS saa,
             sum(b.rnk * b.rnk) AS sbb
      FROM rk a JOIN rk b ON a.dt = b.dt AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b, CAST(n AS BIGINT) AS n_days,
           {o_rnd('''(sab - n * ma * mb)
                  / sqrt((saa - n * ma * ma) * (sbb - n * mb * mb))''', 6)}
             AS spearman_rho
    FROM s
    """


@query("q335_spearman_rho", oracle=_q335_oracle())
def q335_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per symbol pair — Pearson on the
    per-symbol return RANKS (deterministic (ret, dt) tie-break gives
    distinct integer ranks, so no tie-correction ambiguity): the
    monotone-dependence measure robust to the fat tails that distort
    q115's linear correlation; with q325's tail dependence it
    completes the dependence-structure toolkit (linear / monotone /
    extreme).

    NOTE the ranks come from each symbol's FULL sample, so the
    pairwise Pearson over matched days is the standard panel
    approximation. Shape: one rank window per symbol, a dt equi-join
    bounded by symbols^2 per day, sufficient-statistics algebra."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id", "dt", F.log(F.col("close") / F.lag("close").over(w)).alias("ret")
    ).filter(F.col("ret").isNotNull())
    rk = r.select(
        "id",
        "dt",
        F.row_number()
        .over(W.partitionBy("id").orderBy("ret", "dt"))
        .cast("double")
        .alias("rnk"),
    )
    a = rk.select(F.col("id").alias("id_a"), "dt", F.col("rnk").alias("ra"))
    b = rk.select(F.col("id").alias("id_b"), "dt", F.col("rnk").alias("rb"))
    s = (
        a.join(b, "dt")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n"),
            F.avg("ra").alias("ma"),
            F.avg("rb").alias("mb"),
            F.sum(F.col("ra") * F.col("rb")).alias("sab"),
            F.sum(F.col("ra") * F.col("ra")).alias("saa"),
            F.sum(F.col("rb") * F.col("rb")).alias("sbb"),
        )
    )
    num = F.col("sab") - F.col("n") * F.col("ma") * F.col("mb")
    den = F.sqrt(
        (F.col("saa") - F.col("n") * F.col("ma") * F.col("ma"))
        * (F.col("sbb") - F.col("n") * F.col("mb") * F.col("mb"))
    )
    return s.select(
        "id_a",
        "id_b",
        F.col("n").cast("long").alias("n_days"),
        prnd(num / den, 6).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# q336 triple-barrier labels (de Prado) over the candle series
# ---------------------------------------------------------------------------

_TB_H = 10          # vertical barrier: 10 bars ahead
_TB_UP = 1.02       # +2% profit-take barrier
_TB_DN = 0.98       # -2% stop-loss barrier


def _q336_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    base AS (
      SELECT id, dt,
             row_number() OVER ({_WIN}) AS rn,
             {o_rnd('close', 2)} AS entry,
             high, low,
             count(*) OVER (PARTITION BY id) AS nrows
      FROM candles
    ),
    a AS (SELECT * FROM base WHERE rn <= nrows - {_TB_H}),
    j AS (
      SELECT a.id, a.rn, a.entry,
             b.rn - a.rn AS off,
             b.high AS h_b, b.low AS l_b, b.entry AS exit
      FROM a JOIN base b
        ON b.id = a.id AND b.rn - a.rn BETWEEN 1 AND {_TB_H}
    ),
    coded AS (
      SELECT id, rn, entry, off, exit,
             CASE
               WHEN h_b >= entry * {_TB_UP} AND l_b <= entry * {_TB_DN} THEN 0
               WHEN h_b >= entry * {_TB_UP} THEN 1
               WHEN l_b <= entry * {_TB_DN} THEN -1
             END AS code
      FROM j
    ),
    per_anchor AS (
      SELECT id, rn,
             min(CASE WHEN code IS NOT NULL
                      THEN off * 4 + (code + 1) END) AS enc,
             max(CASE WHEN off = {_TB_H} THEN exit END) / any_value(entry)
               - 1.0 AS ret_v
      FROM coded
      GROUP BY id, rn
    ),
    labeled AS (
      SELECT id,
             CAST(COALESCE(enc % 4 - 1, 0) AS BIGINT) AS label,
             CAST(enc // 4 AS BIGINT) AS days_to_hit,
             ret_v
      FROM per_anchor
    )
    SELECT id, label,
           CAST(count(*) AS BIGINT) AS n_anchors,
           {o_rnd('avg(days_to_hit)', 6)} AS avg_days_to_hit,
           {o_rnd('avg(ret_v)', 6)} AS avg_vertical_ret
    FROM labeled
    GROUP BY id, label
    """


@query("q336_triple_barrier", oracle=_q336_oracle())
def q336_triple_barrier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple-barrier event labels (de Prado, *Advances in Financial
    ML* ch.3) — the supervised-learning label generator for the
    prediction models the reference's marts feed (its indicator marts
    are the feature side; this is the target side). Each anchor bar
    gets +1 / -1 / 0 by which barrier the path touches FIRST within a
    10-bar horizon: +2% profit-take (future high), -2% stop (future
    low), else the vertical barrier (label 0, sign-free). Same-bar
    double-touch is ambiguous and coded 0. Entry prices are grid-
    quantized BEFORE the barrier compare so both engines test the
    exact same doubles. Shape: the horizon join is an equi-join on
    (id, rn+off) from a 10-way offset explode — per-row fan-out is the
    constant H, never a range scan, so it survives 100 TB; first-touch
    selection is an integer min over off*4+code encoding (no min_by
    null-key semantics to trip on)."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    base = c.select(
        "id",
        "dt",
        F.row_number().over(w).alias("rn"),
        prnd("close", 2).alias("entry"),
        "high",
        "low",
        F.count("*").over(W.partitionBy("id")).alias("nrows"),
    )
    a = base.filter(F.col("rn") <= F.col("nrows") - _TB_H).select(
        "id", "rn", "entry"
    )
    offs = a.withColumn(
        "off", F.explode(F.array(*[F.lit(i) for i in range(1, _TB_H + 1)]))
    ).withColumn("rn_b", F.col("rn") + F.col("off"))
    b = base.select(
        "id",
        F.col("rn").alias("rn_b"),
        F.col("high").alias("h_b"),
        F.col("low").alias("l_b"),
        F.col("entry").alias("exit"),
    )
    j = offs.join(b, ["id", "rn_b"])
    up = F.col("h_b") >= F.col("entry") * _TB_UP
    dn = F.col("l_b") <= F.col("entry") * _TB_DN
    coded = j.withColumn(
        "code", F.when(up & dn, 0).when(up, 1).when(dn, -1)
    )
    per_anchor = coded.groupBy("id", "rn").agg(
        F.min(
            F.when(
                F.col("code").isNotNull(),
                F.col("off") * 4 + (F.col("code") + 1),
            )
        ).alias("enc"),
        (
            F.max(F.when(F.col("off") == _TB_H, F.col("exit")))
            / F.any_value("entry")
            - 1.0
        ).alias("ret_v"),
    )
    labeled = per_anchor.select(
        "id",
        F.coalesce(F.col("enc") % 4 - 1, F.lit(0)).cast("long").alias("label"),
        F.floor(F.col("enc") / 4).cast("long").alias("days_to_hit"),
        "ret_v",
    )
    return labeled.groupBy("id", "label").agg(
        F.count("*").cast("long").alias("n_anchors"),
        prnd(F.avg("days_to_hit"), 6).alias("avg_days_to_hit"),
        prnd(F.avg("ret_v"), 6).alias("avg_vertical_ret"),
    )


# ---------------------------------------------------------------------------
# q337 VPIN — volume-synchronized probability of informed trading
# ---------------------------------------------------------------------------

_VPIN_BUCKET_CENTS = 1_000_000_000  # 10M-currency volume buckets


def _q337_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    signed AS (
      SELECT id, dt, volume_cents,
             CASE
               WHEN close > lag(close) OVER ({_WIN}) THEN 1
               WHEN close < lag(close) OVER ({_WIN}) THEN -1
               ELSE 0
             END AS sgn,
             sum(volume_cents) OVER ({_WIN}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_vol
      FROM candles
    ),
    buckets AS (
      SELECT id,
             (cum_vol - volume_cents) // {_VPIN_BUCKET_CENTS} AS bucket,
             sum(sgn * volume_cents) AS signed_vol,
             sum(volume_cents) AS tot_vol
      FROM signed
      GROUP BY id, (cum_vol - volume_cents) // {_VPIN_BUCKET_CENTS}
    )
    SELECT id,
           CAST(count(*) AS BIGINT) AS n_buckets,
           {o_rnd('avg(abs(signed_vol) * 1.0 / tot_vol)', 6)} AS avg_vpin,
           {o_rnd('max(abs(signed_vol) * 1.0 / tot_vol)', 6)} AS max_vpin
    FROM buckets
    GROUP BY id
    """


@query("q337_vpin", oracle=_q337_oracle())
def q337_vpin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN (Easley/Lopez de Prado/O'Hara 2012) — order-flow toxicity
    as |buy - sell| volume imbalance inside equal-VOLUME buckets, the
    flash-crash early-warning metric; complements q331's Kyle lambda
    (price impact per unit flow) with a flow-composition view. Days
    are tick-rule classified (close vs prior close, all-or-nothing at
    daily granularity, documented approximation of the intra-bar BVC
    split); buckets come from integer-cents cumulative volume floor-
    divided by a fixed bucket size, so bucketing and the imbalance
    ratio are EXACT integer arithmetic in both engines — a whole day's
    volume lands in the bucket where its first cent falls. Shape: one
    running-sum window per id then a hash groupBy on (id, bucket);
    map-side partial aggs, no self-join, scales linearly."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    prev = F.lag("close").over(w)
    signed = c.select(
        "id",
        "volume_cents",
        F.when(F.col("close") > prev, 1)
        .when(F.col("close") < prev, -1)
        .otherwise(0)
        .alias("sgn"),
        F.sum("volume_cents")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum_vol"),
    )
    buckets = (
        signed.withColumn(
            "bucket",
            F.floor(
                (F.col("cum_vol") - F.col("volume_cents"))
                / F.lit(_VPIN_BUCKET_CENTS)
            ),
        )
        .groupBy("id", "bucket")
        .agg(
            F.sum(F.col("sgn") * F.col("volume_cents")).alias("signed_vol"),
            F.sum("volume_cents").alias("tot_vol"),
        )
    )
    vpin = F.abs(F.col("signed_vol")) * 1.0 / F.col("tot_vol")
    return buckets.groupBy("id").agg(
        F.count("*").cast("long").alias("n_buckets"),
        prnd(F.avg(vpin), 6).alias("avg_vpin"),
        prnd(F.max(vpin), 6).alias("max_vpin"),
    )


# ---------------------------------------------------------------------------
# q338 fixed-window fractional differencing (de Prado FFD)
# ---------------------------------------------------------------------------

_FFD_D = 0.4
_FFD_K = 20


def _ffd_weights() -> list[float]:
    """Binomial-series FFD weights w_0=1, w_k = -w_{k-1}(d-k+1)/k.

    Computed once in driver Python and embedded as repr() literals in
    BOTH engines' expressions — repr round-trips doubles exactly, so
    the two engines multiply by bit-identical coefficients."""
    w = [1.0]
    for k in range(1, _FFD_K):
        w.append(-w[-1] * (_FFD_D - k + 1) / k)
    return w


def _q338_oracle() -> str:
    ws = _ffd_weights()
    terms = " + ".join(
        f"({w!r}) * lag(c2, {k}) OVER ({_WIN})" for k, w in enumerate(ws)
    )
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    q AS (
      SELECT id, dt, {o_rnd('close', 2)} AS c2,
             row_number() OVER ({_WIN}) AS rn
      FROM candles
    ),
    fd AS (
      SELECT id, dt, rn, {terms} AS ffd
      FROM q
    )
    SELECT id, dt, {o_rnd('ffd', 6)} AS ffd_close
    FROM fd
    WHERE rn >= {_FFD_K} AND rn % 97 = 1
    """


@query("q338_fracdiff", oracle=_q338_oracle())
def q338_fracdiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window fractional differencing (de Prado FFD, d=0.4,
    K=20) — the memory-preserving stationarity transform for ML
    features: integer differencing (q36's ROC) erases long memory,
    while FFD keeps it by applying truncated binomial-series weights
    to the last K closes. Closes are grid-quantized FIRST and the
    weights are repr()-embedded literals, so the 20-term weighted sum
    is bit-identical IEEE arithmetic in both engines (same operand
    order, left-associated). Rows before the window fills (rn < K)
    are dropped, and the output samples every 97th bar to keep the
    verified surface small while spanning the whole series. Shape:
    one window per id with K lag taps — no self-join, no shuffle
    beyond the per-id sort, linear at 100 TB."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    q = c.select(
        "id",
        "dt",
        prnd("close", 2).alias("c2"),
        F.row_number().over(w).alias("rn"),
    )
    ws = _ffd_weights()
    expr = F.lit(ws[0]) * F.col("c2")
    for k in range(1, _FFD_K):
        expr = expr + F.lit(ws[k]) * F.lag("c2", k).over(w)
    fd = q.select("id", "dt", "rn", expr.alias("ffd"))
    return fd.filter(
        (F.col("rn") >= _FFD_K) & (F.col("rn") % 97 == 1)
    ).select("id", "dt", prnd("ffd", 6).alias("ffd_close"))


# ---------------------------------------------------------------------------
# q339 Corwin-Schultz high-low spread estimator
# ---------------------------------------------------------------------------

_CS_KDEN = 3.0 - 2.0 * math.sqrt(2.0)


def _q339_oracle() -> str:
    kd = repr(_CS_KDEN)
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    p AS (
      SELECT id, dt, high, low,
             lead(high) OVER ({_WIN}) AS h1,
             lead(low)  OVER ({_WIN}) AS l1
      FROM candles
    ),
    cs AS (
      SELECT id,
             pow(ln(high / low), 2) + pow(ln(h1 / l1), 2) AS beta,
             pow(ln(greatest(high, h1) / least(low, l1)), 2) AS gamma
      FROM p WHERE h1 IS NOT NULL
    ),
    a AS (
      SELECT id,
             (sqrt(2.0 * beta) - sqrt(beta)) / ({kd})
               - sqrt(gamma / ({kd})) AS alpha
      FROM cs
    ),
    s AS (
      SELECT id, alpha,
             2.0 * (exp(alpha) - 1.0) / (1.0 + exp(alpha)) AS spread
      FROM a
    )
    SELECT id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {o_rnd('avg(CASE WHEN spread > 0.0 THEN spread ELSE 0.0 END)', 6)}
             AS mean_spread,
           {o_rnd('avg(CASE WHEN alpha < 0.0 THEN 1.0 ELSE 0.0 END)', 6)}
             AS negative_share,
           {o_rnd('max(spread)', 6)} AS max_spread
    FROM s
    GROUP BY id
    """


@query("q339_corwin_schultz", oracle=_q339_oracle())
def q339_corwin_schultz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corwin-Schultz (JF 2012) bid-ask spread estimator from daily
    high/low ranges — with q246's Roll autocovariance spread and
    q331's Kyle lambda this completes the classic liquidity triad,
    each recoverable from candles alone (no quote feed, which the
    reference's pipeline also lacks). Uses the 2-day decomposition:
    beta (sum of squared single-day log ranges) reflects variance +
    2x spread, gamma (squared 2-day range) variance + spread, so
    their difference isolates the spread; negative alphas (noise
    days) are clipped to zero for the mean as the paper prescribes
    and reported as negative_share. High/low come from exact max/min
    aggregates, so only ln/sqrt/exp ulp noise crosses engines — far
    under the 1e-6 grid. Shape: one lead() window per id, then a hash
    agg; no join, linear scan at any scale."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    p = c.select(
        "id",
        "high",
        "low",
        F.lead("high").over(w).alias("h1"),
        F.lead("low").over(w).alias("l1"),
    ).filter(F.col("h1").isNotNull())
    beta = F.pow(F.log(F.col("high") / F.col("low")), 2) + F.pow(
        F.log(F.col("h1") / F.col("l1")), 2
    )
    gamma = F.pow(
        F.log(
            F.greatest("high", "h1") / F.least("low", "l1")
        ),
        2,
    )
    cs = p.select("id", beta.alias("beta"), gamma.alias("gamma"))
    alpha = (F.sqrt(2.0 * F.col("beta")) - F.sqrt("beta")) / F.lit(
        _CS_KDEN
    ) - F.sqrt(F.col("gamma") / F.lit(_CS_KDEN))
    s = cs.select("id", alpha.alias("alpha")).withColumn(
        "spread",
        2.0 * (F.exp("alpha") - 1.0) / (1.0 + F.exp("alpha")),
    )
    return s.groupBy("id").agg(
        F.count("*").cast("long").alias("n_pairs"),
        prnd(
            F.avg(F.when(F.col("spread") > 0.0, F.col("spread")).otherwise(0.0)),
            6,
        ).alias("mean_spread"),
        prnd(
            F.avg(F.when(F.col("alpha") < 0.0, 1.0).otherwise(0.0)), 6
        ).alias("negative_share"),
        prnd(F.max("spread"), 6).alias("max_spread"),
    )


# ---------------------------------------------------------------------------
# q342 Kendall tau-b rank correlation on monthly returns
# ---------------------------------------------------------------------------


def _q342_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    m AS (
      SELECT id, date_trunc('month', dt) AS mth,
             {o_rnd('arg_max(close, dt)', 2)} AS c2
      FROM candles GROUP BY id, date_trunc('month', dt)
    ),
    r AS (
      SELECT id, mth,
             {o_rnd("ln(c2 / lag(c2) OVER (PARTITION BY id ORDER BY mth))",
                    9)} AS ret
      FROM m
    ),
    matched AS (
      SELECT a.id AS id_a, b.id AS id_b, a.mth,
             a.ret AS ra, b.ret AS rb
      FROM r a JOIN r b ON a.mth = b.mth AND a.id < b.id
      WHERE a.ret IS NOT NULL AND b.ret IS NOT NULL
    ),
    pairs AS (
      SELECT x.id_a, x.id_b,
             sign(x.ra - y.ra) AS sa, sign(x.rb - y.rb) AS sb
      FROM matched x JOIN matched y
        ON x.id_a = y.id_a AND x.id_b = y.id_b AND x.mth < y.mth
    ),
    agg AS (
      SELECT id_a, id_b,
             count(*) AS n0,
             sum(CASE WHEN sa * sb > 0 THEN 1 ELSE 0 END) AS conc,
             sum(CASE WHEN sa * sb < 0 THEN 1 ELSE 0 END) AS disc,
             sum(CASE WHEN sa = 0 THEN 1 ELSE 0 END) AS ties_a,
             sum(CASE WHEN sb = 0 THEN 1 ELSE 0 END) AS ties_b
      FROM pairs GROUP BY id_a, id_b
    )
    SELECT id_a, id_b,
           CAST(n0 AS BIGINT) AS n_pairs,
           CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           {o_rnd('''(conc - disc) * 1.0
                  / sqrt((n0 - ties_a * 1.0) * (n0 - ties_b * 1.0))''',
                  6)} AS tau_b
    FROM agg
    """


@query("q342_kendall_tau", oracle=_q342_oracle())
def q342_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between symbol pairs' MONTHLY returns — the
    third dependence measure after Pearson (q115) and Spearman
    (q335): tau's concordant-vs-discordant pair counting is the most
    outlier-robust of the three and has the cleanest interpretation
    (P[agree] - P[disagree]). The pair enumeration is inherently
    O(n^2) per series, so the series is CALENDAR-COARSENED to months
    first (~80 points -> ~3k pairs per symbol pair, bounded by the
    calendar regardless of row scale — the documented way to run
    tau at 100 TB; for full-resolution tau you'd switch to q335's
    rank machinery or a merge-sort inversion count). Returns are
    grid-quantized to 9 decimals BEFORE differencing so sign() sees
    bit-identical doubles in both engines; tau-b's tie terms then
    make the .5-boundary-free integer arithmetic exact."""
    c = candles(spark, sf_dir)
    m = c.groupBy(
        "id", F.date_trunc("month", F.col("dt").cast("timestamp")).alias("mth")
    ).agg(prnd(F.max_by("close", "dt"), 2).alias("c2"))
    w = W.partitionBy("id").orderBy("mth")
    r = m.select(
        "id",
        "mth",
        prnd(F.log(F.col("c2") / F.lag("c2").over(w)), 9).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    a = r.select(F.col("id").alias("id_a"), "mth", F.col("ret").alias("ra"))
    b = r.select(F.col("id").alias("id_b"), "mth", F.col("ret").alias("rb"))
    matched = a.join(b, "mth").filter(F.col("id_a") < F.col("id_b"))
    x = matched.select("id_a", "id_b", F.col("mth").alias("m_x"), "ra", "rb")
    y = matched.select(
        "id_a",
        "id_b",
        F.col("mth").alias("m_y"),
        F.col("ra").alias("ra_y"),
        F.col("rb").alias("rb_y"),
    )
    pairs = (
        x.join(y, ["id_a", "id_b"])
        .filter(F.col("m_x") < F.col("m_y"))
        .select(
            "id_a",
            "id_b",
            F.signum(F.col("ra") - F.col("ra_y")).alias("sa"),
            F.signum(F.col("rb") - F.col("rb_y")).alias("sb"),
        )
    )
    agg = pairs.groupBy("id_a", "id_b").agg(
        F.count("*").alias("n0"),
        F.sum(F.when(F.col("sa") * F.col("sb") > 0, 1).otherwise(0)).alias("conc"),
        F.sum(F.when(F.col("sa") * F.col("sb") < 0, 1).otherwise(0)).alias("disc"),
        F.sum(F.when(F.col("sa") == 0, 1).otherwise(0)).alias("ties_a"),
        F.sum(F.when(F.col("sb") == 0, 1).otherwise(0)).alias("ties_b"),
    )
    return agg.select(
        "id_a",
        "id_b",
        F.col("n0").cast("long").alias("n_pairs"),
        F.col("conc").cast("long").alias("concordant"),
        F.col("disc").cast("long").alias("discordant"),
        prnd(
            (F.col("conc") - F.col("disc"))
            * 1.0
            / F.sqrt(
                (F.col("n0") - F.col("ties_a") * 1.0)
                * (F.col("n0") - F.col("ties_b") * 1.0)
            ),
            6,
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# q343 Wasserstein-1 distance between return distributions
# ---------------------------------------------------------------------------

_W1_GRID = 200


def _q343_oracle() -> str:
    m = _W1_GRID
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id,
             {o_rnd(f"ln(close / lag(close) OVER ({_WIN}))", 9)} AS ret,
             dt
      FROM candles
    ),
    ranked AS (
      SELECT id, ret,
             row_number() OVER (PARTITION BY id ORDER BY ret, dt) AS rn,
             count(*) OVER (PARTITION BY id) AS n
      FROM r WHERE ret IS NOT NULL
    ),
    grid AS (
      SELECT DISTINCT id, n FROM ranked
    ),
    targets AS (
      SELECT g.id, k.k,
             ((2 * k.k - 1) * g.n + {2 * m} - 1) // {2 * m} AS rk
      FROM grid g, (SELECT unnest(generate_series(1, {m})) AS k) k
    ),
    qv AS (
      SELECT t.id, t.k, r2.ret AS q
      FROM targets t JOIN ranked r2 ON r2.id = t.id AND r2.rn = t.rk
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST({m} AS BIGINT) AS grid_points,
           {o_rnd('avg(abs(a.q - b.q))', 9)} AS w1_distance
    FROM qv a JOIN qv b ON a.k = b.k AND a.id < b.id
    GROUP BY a.id, b.id
    """


@query("q343_wasserstein", oracle=_q343_oracle())
def q343_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between every symbol
    pair's daily-return distributions — the drift metric that, unlike
    q193's KS statistic (sup of CDF gap) or q316's Jensen-Shannon
    divergence (binned densities), is expressed in RETURN UNITS: "how
    far must probability mass move", the quantity distributional
    backtests and regime monitors threshold on. Uses the 1-D closed
    form W1 = E_q|F_a^-1(q) - F_b^-1(q)| on a fixed 200-point
    mid-quantile grid with pure-integer rank targets ceil((2k-1)n/2m)
    — no interpolation, so the sampled quantiles are exact data
    values (returns pre-quantized to the 1e-9 grid). Shape: one rank
    window per id, a broadcast-sized (ids x 200) target table joined
    back by (id, rn) equi-keys, then a k-grid equi self-join — the
    raw series is scanned once and the pair join touches only
    ids x 200 rows, independent of data scale."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    m = _W1_GRID
    r = c.select(
        "id",
        "dt",
        prnd(F.log(F.col("close") / F.lag("close").over(w)), 9).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    ranked = r.select(
        "id",
        "ret",
        F.row_number().over(W.partitionBy("id").orderBy("ret", "dt")).alias("rn"),
        F.count("*").over(W.partitionBy("id")).alias("n"),
    )
    grid = ranked.select("id", "n").distinct()
    targets = grid.select(
        "id",
        "n",
        F.explode(F.sequence(F.lit(1), F.lit(m))).alias("k"),
    ).select(
        "id",
        "k",
        F.floor(
            ((2 * F.col("k") - 1) * F.col("n") + (2 * m - 1)) / (2 * m)
        ).alias("rk"),
    )
    qv = F.broadcast(targets).join(
        ranked.select("id", F.col("rn").alias("rk"), F.col("ret").alias("q")),
        ["id", "rk"],
    ).select("id", "k", "q")
    a = qv.select(F.col("id").alias("id_a"), "k", F.col("q").alias("qa"))
    b = qv.select(F.col("id").alias("id_b"), "k", F.col("q").alias("qb"))
    return (
        a.join(b, "k")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.lit(m).cast("long").alias("grid_points"),
            prnd(F.avg(F.abs(F.col("qa") - F.col("qb"))), 9).alias(
                "w1_distance"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q346 partial autocorrelation (PACF) via unrolled Durbin-Levinson
# ---------------------------------------------------------------------------


def _q346_oracle() -> str:
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt,
             {o_rnd(f"ln(close / lag(close) OVER ({_WIN}))", 9)} AS ret
      FROM candles
    ),
    x AS (SELECT id, dt, ret FROM r WHERE ret IS NOT NULL),
    mu AS (SELECT id, avg(ret) AS m, count(*) AS n FROM x GROUP BY id),
    lagged AS (
      SELECT x.id, x.ret - mu.m AS d0,
             lag(x.ret, 1) OVER (PARTITION BY x.id ORDER BY x.dt) - mu.m AS d1,
             lag(x.ret, 2) OVER (PARTITION BY x.id ORDER BY x.dt) - mu.m AS d2,
             lag(x.ret, 3) OVER (PARTITION BY x.id ORDER BY x.dt) - mu.m AS d3,
             lag(x.ret, 4) OVER (PARTITION BY x.id ORDER BY x.dt) - mu.m AS d4
      FROM x JOIN mu ON mu.id = x.id
    ),
    acf AS (
      SELECT id,
             sum(d0 * d1) / sum(d0 * d0) AS r1,
             sum(d0 * d2) / sum(d0 * d0) AS r2,
             sum(d0 * d3) / sum(d0 * d0) AS r3,
             sum(d0 * d4) / sum(d0 * d0) AS r4
      FROM lagged GROUP BY id
    ),
    l2 AS (
      SELECT id, r1, r2, r3, r4,
             (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22
      FROM acf
    ),
    l2b AS (
      SELECT *, r1 - p22 * r1 AS p21 FROM l2
    ),
    l3 AS (
      SELECT *,
             (r3 - (p21 * r2 + p22 * r1))
               / (1.0 - (p21 * r1 + p22 * r2)) AS p33
      FROM l2b
    ),
    l3b AS (
      SELECT *, p21 - p33 * p22 AS p31, p22 - p33 * p21 AS p32 FROM l3
    ),
    l4 AS (
      SELECT *,
             (r4 - (p31 * r3 + p32 * r2 + p33 * r1))
               / (1.0 - (p31 * r1 + p32 * r2 + p33 * r3)) AS p44
      FROM l3b
    )
    SELECT id,
           {o_rnd('r1', 6)} AS pacf_1,
           {o_rnd('p22', 6)} AS pacf_2,
           {o_rnd('p33', 6)} AS pacf_3,
           {o_rnd('p44', 6)} AS pacf_4
    FROM l4
    """


@query("q346_pacf_durbin", oracle=_q346_oracle())
def q346_pacf_durbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation function at lags 1-4 per symbol via the
    Durbin-Levinson recursion unrolled into closed-form algebra — the
    AR-order selection diagnostic that complements q203's plain ACF
    (which conflates direct and propagated dependence) and q205's AR(1)
    fit (PACF says whether AR(1) is ENOUGH: pacf_k ~ 0 for k>p under
    an AR(p)). Sample ACF uses the standard biased estimator (d0-sum
    denominator) on mean-centered, 1e-9-grid-quantized log returns;
    levels 2-4 of the recursion are literal column algebra on the
    five sufficient statistics, textually identical in both engines.
    Shape: one lag window + one hash agg per id, then scalar algebra
    on a 5-row frame — single scan regardless of scale."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id",
        "dt",
        prnd(F.log(F.col("close") / F.lag("close").over(w)), 9).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    mu = r.groupBy("id").agg(F.avg("ret").alias("m"))
    lagged = r.join(mu, "id").select(
        "id",
        (F.col("ret") - F.col("m")).alias("d0"),
        *[
            (F.lag("ret", k).over(w) - F.col("m")).alias(f"d{k}")
            for k in (1, 2, 3, 4)
        ],
    )
    acf = lagged.groupBy("id").agg(
        *[
            (
                F.sum(F.col("d0") * F.col(f"d{k}"))
                / F.sum(F.col("d0") * F.col("d0"))
            ).alias(f"r{k}")
            for k in (1, 2, 3, 4)
        ]
    )
    r1, r2, r3, r4 = (F.col(f"r{k}") for k in (1, 2, 3, 4))
    l2 = acf.withColumn("p22", (r2 - r1 * r1) / (F.lit(1.0) - r1 * r1))
    l2b = l2.withColumn("p21", r1 - F.col("p22") * r1)
    p21, p22 = F.col("p21"), F.col("p22")
    l3 = l2b.withColumn(
        "p33",
        (r3 - (p21 * r2 + p22 * r1)) / (F.lit(1.0) - (p21 * r1 + p22 * r2)),
    )
    p33 = F.col("p33")
    l3b = l3.withColumn("p31", p21 - p33 * p22).withColumn(
        "p32", p22 - p33 * p21
    )
    p31, p32 = F.col("p31"), F.col("p32")
    l4 = l3b.withColumn(
        "p44",
        (r4 - (p31 * r3 + p32 * r2 + p33 * r1))
        / (F.lit(1.0) - (p31 * r1 + p32 * r2 + p33 * r3)),
    )
    return l4.select(
        "id",
        prnd(r1, 6).alias("pacf_1"),
        prnd(p22, 6).alias("pacf_2"),
        prnd(p33, 6).alias("pacf_3"),
        prnd(F.col("p44"), 6).alias("pacf_4"),
    )


# ---------------------------------------------------------------------------
# q347 Haar wavelet energy decomposition of the return series
# ---------------------------------------------------------------------------

_HAAR_LEVELS = 4


def _q347_oracle() -> str:
    # Block averages at sizes 2^0..2^4, detail energy per level.
    ctes = [
        f"""b0 AS (
      SELECT id,
             row_number() OVER ({_WIN}) - 1 AS i,
             ret AS a,
             count(*) OVER (PARTITION BY id) AS n
      FROM rq
    ),
    t0 AS (
      SELECT id, i, a FROM b0
      WHERE i < n - (n % {2 ** _HAAR_LEVELS})
    )"""
    ]
    for j in range(1, _HAAR_LEVELS + 1):
        ctes.append(
            f"""b{j} AS (
      SELECT id, i // 2 AS i,
             (max(CASE WHEN i % 2 = 0 THEN a END)
              + max(CASE WHEN i % 2 = 1 THEN a END)) / 2.0 AS a,
             (max(CASE WHEN i % 2 = 0 THEN a END)
              - max(CASE WHEN i % 2 = 1 THEN a END)) / 2.0 AS d
      FROM {'t0' if j == 1 else f'b{j - 1}'}
      GROUP BY id, i // 2
    )"""
        )
    energy = ",\n           ".join(
        f"(SELECT {o_rnd('sum(d * d)', 9)} FROM b{j} e"
        f" WHERE e.id = ids.id) AS energy_l{j}"
        for j in range(1, _HAAR_LEVELS + 1)
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt,
             {o_rnd(f"ln(close / lag(close) OVER ({_WIN}))", 9)} AS ret
      FROM candles
    ),
    rq AS (SELECT id, dt, ret FROM r WHERE ret IS NOT NULL),
    {joined},
    ids AS (SELECT DISTINCT id FROM t0)
    SELECT ids.id,
           {energy}
    FROM ids
    """


@query("q347_haar_energy", oracle=_q347_oracle())
def q347_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet multiresolution energy of each symbol's return
    series (levels 1-4 = 2/4/8/16-bar oscillations) — the scale-by-
    scale variance decomposition traders read as "where does the
    volatility live": day-to-day noise (level 1) vs multi-week swings
    (level 4); complements q174's seasonal decomposition (fixed
    period) with a dyadic, period-free one. The pyramid is computed
    by repeated pairwise groupBy on the halved block index — approx
    coefficient a = (even+odd)/2, detail d = (even-odd)/2, energy =
    sum d^2 per level — on 1e-9-quantized returns, with the series
    truncated to a multiple of 2^4 so every block is full. Shape:
    log2(n) tiny hash aggs per id (each a map-side pairwise combine),
    no window after the first ranking, no joins — at 100 TB each
    level halves the data, so total work is ~2x one scan."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id",
        "dt",
        prnd(F.log(F.col("close") / F.lag("close").over(w)), 9).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    b0 = r.select(
        "id",
        (F.row_number().over(w) - 1).alias("i"),
        F.col("ret").alias("a"),
        F.count("*").over(W.partitionBy("id")).alias("n"),
    )
    cur = b0.filter(
        F.col("i") < F.col("n") - (F.col("n") % (2 ** _HAAR_LEVELS))
    ).select("id", "i", "a")
    energies = []
    for j in range(1, _HAAR_LEVELS + 1):
        paired = cur.groupBy(
            "id", F.floor(F.col("i") / 2).alias("i")
        ).agg(
            (
                (
                    F.max(F.when(F.col("i") % 2 == 0, F.col("a")))
                    + F.max(F.when(F.col("i") % 2 == 1, F.col("a")))
                )
                / 2.0
            ).alias("a"),
            (
                (
                    F.max(F.when(F.col("i") % 2 == 0, F.col("a")))
                    - F.max(F.when(F.col("i") % 2 == 1, F.col("a")))
                )
                / 2.0
            ).alias("d"),
        )
        energies.append(
            paired.groupBy("id").agg(
                prnd(F.sum(F.col("d") * F.col("d")), 9).alias(f"energy_l{j}")
            )
        )
        cur = paired.select("id", "i", "a")
    out = energies[0]
    for e in energies[1:]:
        out = out.join(e, "id")
    return out


# ---------------------------------------------------------------------------
# q350 Hill tail-index estimator on absolute returns
# ---------------------------------------------------------------------------

_HILL_K = 100


def _q350_oracle() -> str:
    k = _HILL_K
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt,
             {o_rnd(f"abs(ln(close / lag(close) OVER ({_WIN})))", 9)} AS aret
      FROM candles
    ),
    ranked AS (
      SELECT id, aret,
             row_number() OVER (PARTITION BY id
                                ORDER BY aret DESC, dt) AS rn
      FROM r WHERE aret IS NOT NULL AND aret > 0.0
    ),
    cut AS (
      SELECT id, max(CASE WHEN rn = {k + 1} THEN aret END) AS x_k1
      FROM ranked WHERE rn <= {k + 1} GROUP BY id
    ),
    hill AS (
      SELECT ranked.id,
             avg(ln(ranked.aret / cut.x_k1)) AS h
      FROM ranked JOIN cut ON cut.id = ranked.id
      WHERE ranked.rn <= {k}
      GROUP BY ranked.id
    )
    SELECT hill.id,
           CAST({k} AS BIGINT) AS k_order_stats,
           {o_rnd('cut.x_k1', 9)} AS tail_threshold,
           {o_rnd('h', 6)} AS hill_h,
           {o_rnd('1.0 / h', 6)} AS tail_alpha
    FROM hill JOIN cut ON cut.id = hill.id
    """


@query("q350_hill_tail_index", oracle=_q350_oracle())
def q350_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index on absolute log
    returns (k=100 upper order statistics) — the standard answer to
    "how fat are the tails, as a NUMBER": alpha ~ 3 is the classic
    equity inverse-cubic law, alpha < 2 means infinite variance and
    invalidates every sqrt-time VaR scaling (q324's historical VaR
    stays valid, its Gaussian scaling does not); complements q325
    (tail DEPENDENCE between symbols) with per-symbol tail WEIGHT.
    H = mean ln(X_(i)/X_(k+1)) over the top k, alpha = 1/H, on
    1e-9-grid-quantized returns so the descending (aret, dt) rank is
    engine-deterministic. Shape: per-id rank window, the k+1 cut is a
    1-row-per-id broadcastable frame, one equi-join back — at 100 TB
    the rank becomes a per-partition top-(k+1) + merge (same pattern
    as q50's partial top-k), everything downstream unchanged."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    k = _HILL_K
    r = c.select(
        "id",
        "dt",
        prnd(
            F.abs(F.log(F.col("close") / F.lag("close").over(w))), 9
        ).alias("aret"),
    ).filter(F.col("aret").isNotNull() & (F.col("aret") > 0.0))
    ranked = r.select(
        "id",
        "aret",
        F.row_number()
        .over(W.partitionBy("id").orderBy(F.desc("aret"), "dt"))
        .alias("rn"),
    ).filter(F.col("rn") <= k + 1)
    cut = ranked.groupBy("id").agg(
        F.max(F.when(F.col("rn") == k + 1, F.col("aret"))).alias("x_k1")
    )
    hill = (
        ranked.filter(F.col("rn") <= k)
        .join(F.broadcast(cut), "id")
        .groupBy("id")
        .agg(
            F.avg(F.log(F.col("aret") / F.col("x_k1"))).alias("h"),
            F.any_value("x_k1").alias("x_k1"),
        )
    )
    return hill.select(
        "id",
        F.lit(k).cast("long").alias("k_order_stats"),
        prnd("x_k1", 9).alias("tail_threshold"),
        prnd("h", 6).alias("hill_h"),
        prnd(F.lit(1.0) / F.col("h"), 6).alias("tail_alpha"),
    )


# ---------------------------------------------------------------------------
# q352 realized-volatility signature plot (subsampling grid)
# ---------------------------------------------------------------------------

_Q352_STRIDES = (1, 2, 5, 10)


def _q352_oracle() -> str:
    branches = []
    for k in _Q352_STRIDES:
        branches.append(f"""
      SELECT id, {k} AS stride, ret
      FROM (
        SELECT id, ln(close / lag(close) OVER ({_WIN})) AS ret
        FROM (SELECT id, dt, close FROM base WHERE (rn - 1) % {k} = 0)
      ) WHERE ret IS NOT NULL""")
    u = "\n      UNION ALL\n      ".join(branches)
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    base AS (
      SELECT id, dt, close, row_number() OVER ({_WIN}) AS rn
      FROM candles
    ),
    rets AS (
      {u}
    )
    SELECT id, CAST(stride AS INTEGER) AS stride,
           CAST(count(*) AS BIGINT) AS n_rets,
           {o_rnd('sum(ret * ret)', 6)} AS rv,
           {o_rnd('sum(ret * ret) / count(*)', 9)} AS var_per_bar
    FROM rets GROUP BY id, stride
    """


@query("q352_rv_signature", oracle=_q352_oracle())
def q352_rv_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized-volatility signature plot (Andersen/Bollerslev/
    Diebold/Labys family): realized variance recomputed on
    subsampled grids (every 1st/2nd/5th/10th bar).  On real tick data
    RV explodes as the stride shrinks when microstructure noise
    dominates; the signature plot is how you pick the sampling
    frequency where noise and signal balance, a required diagnostic
    before any RV-based model (q130/q313/q317 consumers).

    ONE per-id window pass serves every stride: on the stride-k grid,
    consecutive sampled rows are exactly k positions apart, so the
    sampled-series return is lag(close, k) over the full frame gated
    by (rn-1) % k = 0 — all four lags come from the same sort, then
    an explode unpivots (stride, ret) rows into one partial-agg
    groupBy.  At 100 TB: one sort per id for the whole grid
    (plan-asserted: a single hash exchange feeds the window stage),
    no shuffle per stride."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    rn = F.row_number().over(w)
    base = c.select(
        "id",
        "close",
        rn.alias("rn"),
        *[
            F.lag("close", k).over(w).alias(f"lag_{k}")
            for k in _Q352_STRIDES
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(k).alias("stride"),
                F.when(
                    (F.col("rn") - 1) % k == 0,
                    F.log(F.col("close") / F.col(f"lag_{k}")),
                ).alias("ret"),
            )
            for k in _Q352_STRIDES
        ]
    )
    rets = (
        base.select(F.col("id"), F.explode(pairs).alias("p"))
        .select("id", F.col("p.stride").alias("stride"), F.col("p.ret").alias("ret"))
        .filter(F.col("ret").isNotNull())
    )
    return rets.groupBy("id", "stride").agg(
        F.count("*").cast("long").alias("n_rets"),
        prnd(F.sum(F.col("ret") * F.col("ret")), 6).alias("rv"),
        prnd(F.sum(F.col("ret") * F.col("ret")) / F.count("*"), 9).alias(
            "var_per_bar"
        ),
    ).select(
        "id", F.col("stride").cast("int").alias("stride"),
        "n_rets", "rv", "var_per_bar",
    )


# ---------------------------------------------------------------------------
# q353 order-sign autocorrelation (flow persistence)
# ---------------------------------------------------------------------------

_Q353_LAGS = (1, 2, 3, 4, 5)


def _q353_oracle() -> str:
    cum = f"({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    branches = []
    for lag in _Q353_LAGS:
        branches.append(f"""
      SELECT id, {lag} AS lag, tick, lag(tick, {lag}) OVER ({_WIN}) AS tick_l
      FROM s""")
    u = "\n      UNION ALL\n      ".join(branches)
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    t AS (
      SELECT id, dt,
             CASE WHEN close > lag(close) OVER ({_WIN}) THEN 1
                  WHEN close < lag(close) OVER ({_WIN}) THEN -1
             END AS tick_raw
      FROM candles
    ),
    s AS (
      SELECT id, dt,
             CAST(last_value(tick_raw IGNORE NULLS) OVER {cum} AS DOUBLE) AS tick
      FROM t
      QUALIFY tick IS NOT NULL
    ),
    lagged AS (
      {u}
    ),
    m AS (
      SELECT id, lag,
             CAST(count(*) AS BIGINT) AS n,
             avg(tick) AS ma, avg(tick_l) AS mb,
             avg(tick * tick_l) AS mab,
             avg(tick * tick) AS maa, avg(tick_l * tick_l) AS mbb
      FROM lagged WHERE tick_l IS NOT NULL
      GROUP BY id, lag
    )
    SELECT id, CAST(lag AS INTEGER) AS lag, n,
           {o_rnd('(mab - ma * mb) / (sqrt(maa - ma * ma) * sqrt(mbb - mb * mb))', 6)} AS rho
    FROM m
    """


@query("q353_sign_autocorr", oracle=_q353_oracle())
def q353_sign_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sign autocorrelation at lags 1-5: the persistence of the
    tick-rule sign series (q185's zero-tick-carried flow signs) —
    empirically the most robust stylized fact of market microstructure
    (order flow is long-memory; Bouchaud/Farmer/Lillo) and the input
    to impact-model calibration alongside Kyle's lambda (q331).

    The sign series is built once (one per-id sort, the q185 idiom);
    ALL five lags are columns of that same window pass, unpivoted by
    one explode into the moment groupBy — Pearson rho from sufficient
    statistics, never a per-pair join and never a shuffle per lag
    (plan-asserted single window exchange).  Signs are +/-1 doubles
    so every moment is exactly representable; only the final ratio
    needs the portable grid."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    lagc = F.lag("close").over(w)
    t = c.select(
        "id",
        "dt",
        F.when(F.col("close") > lagc, 1)
        .when(F.col("close") < lagc, -1)
        .alias("tick_raw"),
    )
    s = t.select(
        "id",
        "dt",
        F.last("tick_raw", ignorenulls=True)
        .over(cum)
        .cast("double")
        .alias("tick"),
    ).filter(F.col("tick").isNotNull())
    wide = s.select(
        "id",
        "tick",
        *[
            F.lag("tick", lag).over(w).alias(f"tick_l{lag}")
            for lag in _Q353_LAGS
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(lag).alias("lag"),
                F.col("tick").alias("tick"),
                F.col(f"tick_l{lag}").alias("tick_l"),
            )
            for lag in _Q353_LAGS
        ]
    )
    lagged = (
        wide.select(F.col("id"), F.explode(pairs).alias("p"))
        .select(
            "id",
            F.col("p.lag").alias("lag"),
            F.col("p.tick").alias("tick"),
            F.col("p.tick_l").alias("tick_l"),
        )
        .filter(F.col("tick_l").isNotNull())
    )
    m = lagged.groupBy("id", "lag").agg(
        F.count("*").cast("long").alias("n"),
        F.avg("tick").alias("ma"),
        F.avg("tick_l").alias("mb"),
        F.avg(F.col("tick") * F.col("tick_l")).alias("mab"),
        F.avg(F.col("tick") * F.col("tick")).alias("maa"),
        F.avg(F.col("tick_l") * F.col("tick_l")).alias("mbb"),
    )
    rho = (F.col("mab") - F.col("ma") * F.col("mb")) / (
        F.sqrt(F.col("maa") - F.col("ma") * F.col("ma"))
        * F.sqrt(F.col("mbb") - F.col("mb") * F.col("mb"))
    )
    return m.select(
        "id", F.col("lag").cast("int").alias("lag"), "n",
        prnd(rho, 6).alias("rho"),
    )


# ---------------------------------------------------------------------------
# q354 signed realized semivariance (downside/upside decomposition)
# ---------------------------------------------------------------------------

_Q354_N = 20


def _q354_oracle() -> str:
    fr = f"({_WIN} ROWS BETWEEN {_Q354_N - 1} PRECEDING AND CURRENT ROW)"
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id, dt, ln(close / lag(close) OVER ({_WIN})) AS ret
      FROM candles
    ),
    sq AS (
      SELECT id, dt,
             CASE WHEN ret < 0 THEN ret * ret ELSE 0.0 END AS dsq,
             CASE WHEN ret > 0 THEN ret * ret ELSE 0.0 END AS usq,
             ret * ret AS sq
      FROM r WHERE ret IS NOT NULL
    ),
    w AS (
      SELECT id, dt,
             count(*) OVER {fr} AS n,
             sum(dsq) OVER {fr} AS rs_down,
             sum(usq) OVER {fr} AS rs_up,
             sum(sq) OVER {fr} AS rv
      FROM sq
    )
    SELECT id, dt,
           {o_rnd('rs_down', 8)} AS rs_down,
           {o_rnd('rs_up', 8)} AS rs_up,
           {o_rnd('rs_up - rs_down', 8)} AS signed_jump,
           {o_rnd('rs_down / rv', 6)} AS downside_share
    FROM w WHERE n = {_Q354_N}
    """


@query("q354_semivariance", oracle=_q354_oracle())
def q354_semivariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed realized semivariance (Barndorff-Nielsen, Kinnebrock &
    Shephard 2010): the rolling-20 realized variance split into its
    downside (ret<0) and upside (ret>0) halves, plus the signed-jump
    statistic RS+ - RS- and the downside share — downside
    semivariance forecasts future volatility far better than total RV
    and is the standard asymmetry feature in vol models (feeds the
    same consumers as q130/q319).

    One per-id sort shared by the return lag and all four rolling
    sums (the multi-frame-one-sort law, q30); the conditional squares
    are map-side CASE expressions so every window input is a plain
    column."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    fr = w.rowsBetween(-(_Q354_N - 1), W.currentRow)
    r = c.select(
        "id", "dt", F.log(F.col("close") / F.lag("close").over(w)).alias("ret")
    ).filter(F.col("ret").isNotNull())
    sq = r.select(
        "id",
        "dt",
        F.when(F.col("ret") < 0, F.col("ret") * F.col("ret"))
        .otherwise(0.0)
        .alias("dsq"),
        F.when(F.col("ret") > 0, F.col("ret") * F.col("ret"))
        .otherwise(0.0)
        .alias("usq"),
        (F.col("ret") * F.col("ret")).alias("sq"),
    )
    out = sq.select(
        "id",
        "dt",
        F.count("*").over(fr).alias("n"),
        F.sum("dsq").over(fr).alias("rs_down"),
        F.sum("usq").over(fr).alias("rs_up"),
        F.sum("sq").over(fr).alias("rv"),
    ).filter(F.col("n") == _Q354_N)
    return out.select(
        "id",
        "dt",
        prnd("rs_down", 8).alias("rs_down"),
        prnd("rs_up", 8).alias("rs_up"),
        prnd(F.col("rs_up") - F.col("rs_down"), 8).alias("signed_jump"),
        prnd(F.col("rs_down") / F.col("rv"), 6).alias("downside_share"),
    )


# ---------------------------------------------------------------------------
# q355 Benjamini-Hochberg FDR step-up over the per-symbol tests
# ---------------------------------------------------------------------------

# two-sided N(0,1) critical values for BH at alpha=0.05, m=5: rank k
# (by largest |z| = smallest p) tests against alpha*k/m, i.e.
# z_crit(k) = Phi^-1(1 - 0.05*k/(2*5)) (precomputed literals, the
# q310 convention — no inverse-normal needed in either engine)
_Q355_CRITS = [2.575829, 2.326348, 2.170090, 2.053749, 1.959964]


def _q355_oracle() -> str:
    crit_cases = " ".join(
        f"WHEN {k + 1} THEN {c}" for k, c in enumerate(_Q355_CRITS)
    )
    return f"""
    WITH base AS ({_q308_oracle()}),
    ranked AS (
      SELECT id, n_obs, z_score,
             row_number() OVER (ORDER BY abs(z_score) DESC, id) AS rk
      FROM base
    ),
    tested AS (
      SELECT id, n_obs, z_score, rk,
             CASE rk {crit_cases} END AS z_crit,
             CASE WHEN abs(z_score) > (CASE rk {crit_cases} END)
                  THEN rk ELSE 0 END AS passing_rank
      FROM ranked
    ),
    cut AS (SELECT max(passing_rank) AS k_star FROM tested)
    SELECT t.id, t.n_obs,
           {o_rnd('t.z_score', 4)} AS z_score,
           CAST(t.rk AS INTEGER) AS bh_rank,
           {o_rnd('t.z_crit', 6)} AS z_crit,
           CAST(t.rk <= c.k_star AS INT) AS significant
    FROM tested t CROSS JOIN cut c
    """


@query("q355_bh_fdr", oracle=_q355_oracle())
def q355_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR step-UP over the per-symbol randomness
    tests (q308's z-scores) — the other half of the multiplicity
    family next to q310's Holm step-down: find the LARGEST rank k
    whose p-value clears alpha*k/m and reject everything ranked at or
    below it, controlling the false-discovery RATE rather than
    familywise error (what a screen with hundreds of signals actually
    wants: a bounded fraction of false alerts, not near-zero power).

    The step-up cut is a scalar max over the tiny ranked test table
    broadcast back (the scalar-subquery idiom, q14); critical values
    are precomputed two-sided normal literals shared by both engines
    (q310 convention)."""
    base = q308_runs_test(spark, sf_dir)
    ranked = base.select(
        "id",
        "n_obs",
        "z_score",
        F.row_number()
        .over(W.orderBy(F.abs("z_score").desc(), "id"))
        .alias("rk"),
    )
    crit_expr = None
    for k, c in enumerate(_Q355_CRITS):
        cond = F.col("rk") == k + 1
        crit_expr = (
            F.when(cond, F.lit(c))
            if crit_expr is None
            else crit_expr.when(cond, F.lit(c))
        )
    tested = ranked.select(
        "id", "n_obs", "z_score", "rk", crit_expr.alias("z_crit")
    ).withColumn(
        "passing_rank",
        F.when(F.abs("z_score") > F.col("z_crit"), F.col("rk")).otherwise(0),
    )
    cut = tested.agg(F.max("passing_rank").alias("k_star"))
    return tested.crossJoin(F.broadcast(cut)).select(
        "id",
        "n_obs",
        prnd("z_score", 4).alias("z_score"),
        F.col("rk").cast("int").alias("bh_rank"),
        prnd("z_crit", 6).alias("z_crit"),
        (F.col("rk") <= F.col("k_star")).cast("int").alias("significant"),
    )


# ---------------------------------------------------------------------------
# q364 Lo-MacKinlay variance-ratio test
# ---------------------------------------------------------------------------

_Q364_HORIZONS = (2, 4, 8)


def _q364_oracle() -> str:
    lag_cols = ",\n             ".join(
        f"ln(close / lag(close, {k}) OVER w) AS r{k}"
        for k in (1, *_Q364_HORIZONS)
    )
    out = []
    for k in _Q364_HORIZONS:
        vr = f"var_pop(r{k}) / ({k} * var_pop(r1))"
        z = (
            f"(({vr}) - 1.0) / sqrt(2.0 * {2 * k - 1} * {k - 1}"
            f" / (3.0 * {k} * count(r1)))"
        )
        out.append(f"{o_rnd(vr, 6)} AS vr_{k}")
        out.append(f"{o_rnd(z, 4)} AS z_{k}")
    cols = ",\n           ".join(out)
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    r AS (
      SELECT id,
             {lag_cols}
      FROM candles WINDOW w AS (PARTITION BY id ORDER BY dt)
    )
    SELECT id, CAST(count(r1) AS BIGINT) AS n_obs,
           {cols}
    FROM r GROUP BY id
    """


@query("q364_variance_ratio", oracle=_q364_oracle())
def q364_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test per symbol: VR(k) =
    Var(k-period log return) / (k * Var(1-period)) for k in 2/4/8,
    with the homoskedastic z-statistic z = (VR-1) /
    sqrt(2(2k-1)(k-1)/(3kn)).  VR near 1 is a random walk; VR < 1
    mean-reversion, VR > 1 momentum — the standard pre-test before
    fitting any autoregressive alpha model (complements q203's
    autocorrelation and q189's Hurst exponent with an actual test
    statistic).

    The k-period overlapping return IS ln(close/lag(close,k)), so
    every horizon is one more lag over the SAME per-id sort — one
    window pass, then a single algebraic groupBy; variances are
    var_pop in both engines (q30 stddev_pop convention).  At 100 TB
    this is a per-symbol sort + partial agg: no joins, no iteration,
    nothing quadratic."""
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    r = c.select(
        "id",
        *[
            F.log(F.col("close") / F.lag("close", k).over(w)).alias(f"r{k}")
            for k in (1, *_Q364_HORIZONS)
        ],
    )
    aggs = [
        F.count("r1").alias("n"),
        F.var_pop("r1").alias("v1"),
        *[F.var_pop(f"r{k}").alias(f"v{k}") for k in _Q364_HORIZONS],
    ]
    g = r.groupBy("id").agg(*aggs)
    out = [F.col("n").cast("long").alias("n_obs")]
    for k in _Q364_HORIZONS:
        vr = F.col(f"v{k}") / (F.lit(float(k)) * F.col("v1"))
        z = (vr - F.lit(1.0)) / F.sqrt(
            F.lit(2.0 * (2 * k - 1) * (k - 1))
            / (F.lit(3.0 * k) * F.col("n"))
        )
        out.append(prnd(vr, 6).alias(f"vr_{k}"))
        out.append(prnd(z, 4).alias(f"z_{k}"))
    return g.select("id", *out)


# ---------------------------------------------------------------------------
# q374 SAX symbolic motifs (PAA + discretize + word counts)
# ---------------------------------------------------------------------------

_Q374_PAA = 5        # days per PAA segment
_Q374_WORD = 3       # symbols per motif word
# alphabet-4 Gaussian breakpoints, pinned literals (libm-free)
_Q374_BPS = (-0.6745, 0.0, 0.6745)


def _q374_sym_sql(z: str) -> str:
    b1, b2, b3 = _Q374_BPS
    return (
        f"CASE WHEN {z} < {b1} THEN 'a' WHEN {z} < {b2} THEN 'b' "
        f"WHEN {z} < {b3} THEN 'c' ELSE 'd' END"
    )


def _q374_oracle() -> str:
    p, wlen = _Q374_PAA, _Q374_WORD
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    rn AS (
      SELECT id, close,
             CAST(floor((row_number() OVER (PARTITION BY id ORDER BY dt) - 1)
                        / {p}) AS BIGINT) AS seg
      FROM candles
    ),
    paa AS (
      SELECT id, seg, avg(close) AS m
      FROM rn GROUP BY id, seg HAVING count(*) = {p}
    ),
    z AS (
      SELECT id, seg,
             (m - avg(m) OVER (PARTITION BY id))
               / stddev_pop(m) OVER (PARTITION BY id) AS z
      FROM paa
    ),
    sym AS (
      SELECT id, seg, {_q374_sym_sql('z')} AS s FROM z
    ),
    words AS (
      SELECT id,
             lag(s, 2) OVER w || lag(s, 1) OVER w || s AS word
      FROM sym WINDOW w AS (PARTITION BY id ORDER BY seg)
      QUALIFY lag(s, 2) OVER w IS NOT NULL
    ),
    wc AS (SELECT id, word, count(*) AS n FROM words GROUP BY id, word),
    tot AS (
      SELECT id, sum(n) AS n_words, count(*) AS distinct_words
      FROM wc GROUP BY id
    ),
    ent AS (
      SELECT id,
             -sum((CAST(n AS DOUBLE) / t.n_words)
                  * ln(CAST(n AS DOUBLE) / t.n_words)) AS h
      FROM wc JOIN (SELECT id, CAST(sum(n) AS DOUBLE) AS n_words
                    FROM wc GROUP BY id) t USING (id)
      GROUP BY id
    ),
    top AS (
      SELECT id, word, n,
             row_number() OVER (PARTITION BY id ORDER BY n DESC, word) AS rk
      FROM wc
    )
    SELECT t.id,
           CAST(t.n_words AS BIGINT) AS n_words,
           CAST(t.distinct_words AS BIGINT) AS distinct_words,
           p.word AS top_word,
           CAST(p.n AS BIGINT) AS top_count,
           {o_rnd('e.h', 6)} AS word_entropy
    FROM tot t JOIN top p ON p.id = t.id AND p.rk = 1
    JOIN ent e ON e.id = t.id
    """


@query("q374_sax_motifs", oracle=_q374_oracle())
def q374_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX motif discovery (Lin/Keogh symbolic aggregate
    approximation): PAA-compress each symbol's close series (5-day
    segment means), z-normalize per id, discretize on the pinned
    alphabet-4 Gaussian breakpoints, form 3-symbol words by lag
    concatenation, and report the dominant motif + word entropy per
    id — the classic cheap shape-index for time series (motif/
    discord mining, the symbolic counterpart of q123's rule-based
    candle patterns; low entropy = trending/repetitive regime).

    Scale shape: everything is keyed by id — the row-number window,
    the PAA groupBy, the z-score window over the ~480x-smaller
    segment frame, the word lags and the word-count groupBy — one
    raw-row sort per id, every later pass post-compression.  The
    breakpoints are literals so no libm quantile call exists in
    either engine."""
    p, wl = _Q374_PAA, _Q374_WORD
    c = candles(spark, sf_dir)
    w = W.partitionBy("id").orderBy("dt")
    rn = c.select(
        "id", "close",
        F.floor((F.row_number().over(w) - 1) / p).alias("seg"),
    )
    paa = (
        rn.groupBy("id", "seg")
        .agg(F.avg("close").alias("m"), F.count("*").alias("cnt"))
        .filter(F.col("cnt") == p)
    )
    wid = W.partitionBy("id")
    z = paa.select(
        "id", "seg",
        (
            (F.col("m") - F.avg("m").over(wid))
            / F.stddev_pop("m").over(wid)
        ).alias("z"),
    )
    b1, b2, b3 = _Q374_BPS
    sym = z.select(
        "id", "seg",
        F.when(F.col("z") < b1, "a")
        .when(F.col("z") < b2, "b")
        .when(F.col("z") < b3, "c")
        .otherwise("d")
        .alias("s"),
    )
    ws = W.partitionBy("id").orderBy("seg")
    words = sym.select(
        "id",
        F.concat(
            F.lag("s", 2).over(ws), F.lag("s", 1).over(ws), F.col("s")
        ).alias("word"),
    ).filter(F.col("word").isNotNull())
    wc = words.groupBy("id", "word").agg(F.count("*").alias("n"))
    tot = wc.groupBy("id").agg(
        F.sum("n").cast("long").alias("n_words"),
        F.count("*").cast("long").alias("distinct_words"),
    )
    pr = F.col("n").cast("double") / F.col("nw")
    ent = (
        wc.join(
            wc.groupBy("id").agg(F.sum("n").cast("double").alias("nw")),
            "id",
        )
        .groupBy("id")
        .agg((-F.sum(pr * F.log(pr))).alias("h"))
    )
    top = wc.select(
        "id", "word", "n",
        F.row_number()
        .over(W.partitionBy("id").orderBy(F.col("n").desc(), "word"))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    return (
        tot.join(top, "id")
        .join(ent, "id")
        .select(
            "id", "n_words", "distinct_words",
            F.col("word").alias("top_word"),
            F.col("n").cast("long").alias("top_count"),
            prnd("h", 6).alias("word_entropy"),
        )
    )


# ---------------------------------------------------------------------------
# q381 Epps effect (cross-correlation vs sampling frequency)
# ---------------------------------------------------------------------------

_Q381_BINS = (1, 2, 5, 10)  # calendar-day bin widths
_Q381_EPOCH = "DATE '1992-01-01'"


def _q381_oracle() -> str:
    blocks = []
    for k in _Q381_BINS:
        blocks.append(f"""
      SELECT a.id AS id_a, b.id AS id_b, {k} AS k, a.r AS x, b.r AS y
      FROM r{k} a JOIN r{k} b ON b.bin = a.bin AND a.id < b.id
      WHERE a.r IS NOT NULL AND b.r IS NOT NULL""")
    ctes = []
    for k in _Q381_BINS:
        ctes.append(f"""
    b{k} AS (
      SELECT id,
             CAST(floor(datediff('day', {_Q381_EPOCH}, dt) / {k}) AS BIGINT) AS bin,
             arg_max(close, dt) AS close
      FROM candles GROUP BY 1, 2
    ),
    r{k} AS (
      SELECT id, bin,
             ln(close / lag(close) OVER (PARTITION BY id ORDER BY bin)) AS r
      FROM b{k}
    )""")
    corr = ("(n * sxy - sx * sy) / "
            "sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))")
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    {", ".join(c.strip() for c in ctes)},
    pairs AS ({" UNION ALL ".join(blocks)}),
    s AS (
      SELECT id_a, id_b, k,
             CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM pairs GROUP BY id_a, id_b, k
    )
    SELECT id_a, id_b, CAST(k AS INTEGER) AS k,
           CAST(n AS BIGINT) AS n_obs,
           {o_rnd(corr, 6)} AS xcorr
    FROM s
    """


@query("q381_epps_effect", oracle=_q381_oracle())
def q381_epps_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epps effect (1979): cross-asset return correlation measured on
    1/2/5/10-day sampling grids — on real tick data correlation
    DECAYS as the grid gets finer (asynchronous trading + noise), so
    the correlation any portfolio/risk model (q115/q155/q324) uses
    is a function of the grid, and this query is the diagnostic that
    picks it.  Resampling is calendar-binned last-price (q80's
    arg_max resample law) so the two legs of every pair are aligned
    by construction.

    Scale shape: per (id, bin) partial-agg resample, ONE lag window
    per grid over the binned (already ~k-fold compressed) frame, and
    the pair join is an equi join on the bin — at 5 ids it is tiny
    and at a 5000-symbol universe it is the standard |pairs| x bins
    correlation fan-out, still bin-keyed; correlation comes from the
    six sufficient sums (no second pass)."""
    c = candles(spark, sf_dir)
    pair_frames = []
    for k in _Q381_BINS:
        b = (
            c.select(
                "id", "dt", "close",
                F.floor(
                    F.datediff(F.col("dt"), F.lit("1992-01-01").cast("date"))
                    / k
                ).alias("bin"),
            )
            .groupBy("id", "bin")
            .agg(F.expr("max_by(close, dt)").alias("close"))
        )
        wb = W.partitionBy("id").orderBy("bin")
        r = b.select(
            "id", "bin",
            F.log(F.col("close") / F.lag("close").over(wb)).alias("r"),
        )
        a = r.select(
            F.col("id").alias("id_a"), "bin", F.col("r").alias("x")
        )
        bb = r.select(
            F.col("id").alias("id_b"), "bin", F.col("r").alias("y")
        )
        pair_frames.append(
            a.join(bb, "bin")
            .filter(
                (F.col("id_a") < F.col("id_b"))
                & F.col("x").isNotNull()
                & F.col("y").isNotNull()
            )
            .select("id_a", "id_b", F.lit(k).alias("k"), "x", "y")
        )
    pairs = pair_frames[0]
    for f in pair_frames[1:]:
        pairs = pairs.unionByName(f)
    s = pairs.groupBy("id_a", "id_b", "k").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "id_a", "id_b",
        F.col("k").cast("int").alias("k"),
        F.col("n").cast("long").alias("n_obs"),
        prnd(corr, 6).alias("xcorr"),
    )


# ---------------------------------------------------------------------------
# q408 harmonic day-of-week fit (amplitude + peak day)
# ---------------------------------------------------------------------------

import math as _math

# cos/sin(2*pi*d/7) pinned as literals (no libm trig in either engine)
_Q408_COS = tuple(round(_math.cos(2 * _math.pi * d / 7), 15) for d in range(7))
_Q408_SIN = tuple(round(_math.sin(2 * _math.pi * d / 7), 15) for d in range(7))


def _q408_case(vals, dow: str) -> str:
    cases = " ".join(f"WHEN {d} THEN {v}" for d, v in enumerate(vals))
    return f"CASE {dow} {cases} END"


def _q408_oracle() -> str:
    cosx = _q408_case(_Q408_COS, "dow")
    sinx = _q408_case(_Q408_SIN, "dow")
    det = "(scc * sss - scs * scs)"
    a = f"((scy * sss - ssy * scs) / {det})"
    b = f"((ssy * scc - scy * scs) / {det})"
    def _f(d: int) -> str:
        return f"(({a}) * {_Q408_COS[d]} + ({b}) * {_Q408_SIN[d]})"

    peak = " ".join(
        "WHEN "
        + " AND ".join(f"{_f(d)} >= {_f(e)}" for e in range(7) if e != d)
        + f" THEN {d}"
        for d in range(7)
    )
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    base AS (
      SELECT id, CAST(volume_cents AS DOUBLE) / 100.0 AS y,
             dayofweek(dt) AS dow
      FROM candles
    ),
    x AS (
      SELECT id, y, {cosx} AS cx, {sinx} AS sx FROM base
    ),
    m AS (
      SELECT id, CAST(count(*) AS DOUBLE) AS n,
             avg(y) AS my, avg(cx) AS mc, avg(sx) AS ms,
             sum(cx * cx) AS rcc, sum(sx * sx) AS rss, sum(cx * sx) AS rcs,
             sum(cx * y) AS rcy, sum(sx * y) AS rsy,
             sum(y * y) AS ryy
      FROM x GROUP BY id
    ),
    s AS (
      SELECT id, n,
             rcc - n * mc * mc AS scc,
             rss - n * ms * ms AS sss,
             rcs - n * mc * ms AS scs,
             rcy - n * mc * my AS scy,
             rsy - n * ms * my AS ssy,
             ryy - n * my * my AS syy
      FROM m
    )
    SELECT id, CAST(n AS BIGINT) AS n_days,
           {o_rnd(f'sqrt(({a}) * ({a}) + ({b}) * ({b}))', 2)} AS amplitude,
           CAST(CASE {peak} END AS INTEGER) AS peak_dow,
           {o_rnd(f'(({a}) * scy + ({b}) * ssy) / syy', 4)} AS r_squared
    FROM s
    """


@query("q408_harmonic_dow", oracle=_q408_oracle())
def q408_harmonic_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic regression of daily volume on the weekly cycle:
    OLS-fit y = mean + A cos(2 pi dow/7) + B sin(2 pi dow/7) per
    symbol (closed-form 2x2 normal equations on centered sums),
    reporting cycle amplitude, the PEAK weekday (argmax over the 7
    fitted values — integer output, no atan2/libm phase), and the
    cycle's R^2.  Estimates the seasonality q120/q326 only TESTS —
    the actual shape a liquidity-aware scheduler or TWAP slicer
    (q235) consumes.  All trig values are Python-precomputed
    pinned literals keyed by weekday.

    Scale shape: a weekday literal lookup in the scan, one
    sufficient-stats groupBy per id, scalar algebra after —
    the q381 law with two regressors.  DuckDB dayofweek is 0-based
    and Spark's 1-based; both sides normalize to 0=Sunday
    explicitly (the classic cross-engine trap)."""
    c = candles(spark, sf_dir)
    dow = F.dayofweek("dt") - 1  # 0-based, Sunday = 0
    cosx = F.lit(0.0)
    sinx = F.lit(0.0)
    for d in range(7):
        cosx = F.when(dow == d, F.lit(_Q408_COS[d])).otherwise(cosx)
        sinx = F.when(dow == d, F.lit(_Q408_SIN[d])).otherwise(sinx)
    x = c.select(
        "id",
        (F.col("volume_cents").cast("double") / 100.0).alias("y"),
        cosx.alias("cx"),
        sinx.alias("sx"),
    )
    m = x.groupBy("id").agg(
        F.count("*").cast("double").alias("n"),
        F.avg("y").alias("my"), F.avg("cx").alias("mc"), F.avg("sx").alias("ms"),
        F.sum(F.col("cx") * F.col("cx")).alias("rcc"),
        F.sum(F.col("sx") * F.col("sx")).alias("rss"),
        F.sum(F.col("cx") * F.col("sx")).alias("rcs"),
        F.sum(F.col("cx") * F.col("y")).alias("rcy"),
        F.sum(F.col("sx") * F.col("y")).alias("rsy"),
        F.sum(F.col("y") * F.col("y")).alias("ryy"),
    )
    s = m.select(
        "id", "n",
        (F.col("rcc") - F.col("n") * F.col("mc") * F.col("mc")).alias("scc"),
        (F.col("rss") - F.col("n") * F.col("ms") * F.col("ms")).alias("sss"),
        (F.col("rcs") - F.col("n") * F.col("mc") * F.col("ms")).alias("scs"),
        (F.col("rcy") - F.col("n") * F.col("mc") * F.col("my")).alias("scy"),
        (F.col("rsy") - F.col("n") * F.col("ms") * F.col("my")).alias("ssy"),
        (F.col("ryy") - F.col("n") * F.col("my") * F.col("my")).alias("syy"),
    )
    det = F.col("scc") * F.col("sss") - F.col("scs") * F.col("scs")
    a = (F.col("scy") * F.col("sss") - F.col("ssy") * F.col("scs")) / det
    b = (F.col("ssy") * F.col("scc") - F.col("scy") * F.col("scs")) / det
    fitted = [a * _Q408_COS[d] + b * _Q408_SIN[d] for d in range(7)]
    peak = F.lit(0)
    best = fitted[0]
    for d in range(1, 7):
        cond = fitted[d] > best
        peak = F.when(cond, F.lit(d)).otherwise(peak)
        best = F.when(cond, fitted[d]).otherwise(best)
    return s.select(
        "id",
        F.col("n").cast("long").alias("n_days"),
        prnd(F.sqrt(a * a + b * b), 2).alias("amplitude"),
        peak.cast("int").alias("peak_dow"),
        prnd((a * F.col("scy") + b * F.col("ssy")) / F.col("syy"), 4).alias(
            "r_squared"
        ),
    )


# ---------------------------------------------------------------------------
# q409 cross-sectional momentum rank IC (information coefficient)
# ---------------------------------------------------------------------------


def _q409_oracle() -> str:
    corr = ("(n * sxy - sx * sy) / "
            "sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))")
    return f"""
    WITH candles AS ({CANDLES_SQL}),
    monthly AS (
      SELECT id, strftime(dt, '%Y-%m') AS mon,
             arg_max(close, dt) / arg_min(close, dt) - 1.0 AS ret
      FROM candles GROUP BY 1, 2
    ),
    seq AS (
      SELECT id, mon, ret,
             lag(ret) OVER (PARTITION BY id ORDER BY mon) AS prev_ret
      FROM monthly
    ),
    ranked AS (
      SELECT mon,
             row_number() OVER (PARTITION BY mon ORDER BY prev_ret, id) AS rx,
             row_number() OVER (PARTITION BY mon ORDER BY ret, id) AS ry
      FROM seq WHERE prev_ret IS NOT NULL
    ),
    per_mon AS (
      SELECT mon, CAST(count(*) AS DOUBLE) AS n,
             sum(rx) AS sx, sum(ry) AS sy,
             sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
             sum(rx * ry) AS sxy
      FROM ranked GROUP BY mon HAVING count(*) >= 3
    ),
    ics AS (SELECT mon, {corr} AS ic FROM per_mon)
    SELECT CAST(count(*) AS BIGINT) AS n_months,
           {o_rnd('avg(ic)', 4)} AS mean_ic,
           {o_rnd('avg(ic) / stddev_pop(ic)', 4)} AS icir,
           {o_rnd('CAST(count(*) FILTER (WHERE ic > 0) AS DOUBLE) / count(*)', 6)} AS hit_rate
    FROM ics
    """


@query("q409_rank_ic", oracle=_q409_oracle())
def q409_rank_ic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional momentum rank IC: each month, Spearman-
    correlate the symbols' PREVIOUS-month return ranks with their
    CURRENT-month return ranks, then summarize the IC series (mean
    IC, ICIR = mean/sd, hit rate) — the standard factor-research
    readout that decides whether a signal deserves a backtest
    (q300's momentum strategy is the portfolio this IC would
    justify; mean IC ~ 0 here is the honest result for synthetic
    orders data).  Ranks are row_number with an id tie-break so
    Spearman needs no midrank handling and both engines rank
    identically.

    Scale shape: monthly resample (arg_max/arg_min partial aggs),
    one per-id lag window on the tiny monthly frame, per-month rank
    windows over the CROSS-SECTION (symbols per month — thousands at
    most), and sufficient-stats Spearman per month folded into the
    final scalar summary."""
    c = candles(spark, sf_dir)
    monthly = c.groupBy(
        "id", F.date_format("dt", "yyyy-MM").alias("mon")
    ).agg(
        (
            F.expr("max_by(close, dt)") / F.expr("min_by(close, dt)")
            - 1.0
        ).alias("ret")
    )
    wm = W.partitionBy("id").orderBy("mon")
    seq = monthly.select(
        "id", "mon", "ret", F.lag("ret").over(wm).alias("prev_ret")
    ).filter(F.col("prev_ret").isNotNull())
    ranked = seq.select(
        "mon",
        F.row_number()
        .over(W.partitionBy("mon").orderBy("prev_ret", "id"))
        .alias("rx"),
        F.row_number()
        .over(W.partitionBy("mon").orderBy("ret", "id"))
        .alias("ry"),
    )
    per_mon = (
        ranked.groupBy("mon")
        .agg(
            F.count("*").cast("double").alias("n"),
            F.sum("rx").alias("sx"), F.sum("ry").alias("sy"),
            F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
            F.sum(F.col("ry") * F.col("ry")).alias("syy"),
            F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        )
        .filter(F.col("n") >= 3)
    )
    ic = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        )
    ).alias("ic")
    ics = per_mon.select(ic)
    return ics.agg(
        F.count("*").cast("long").alias("n_months"),
        prnd(F.avg("ic"), 4).alias("mean_ic"),
        prnd(F.avg("ic") / F.stddev_pop("ic"), 4).alias("icir"),
        prnd(
            F.count(F.when(F.col("ic") > 0, 1)).cast("double")
            / F.count("*"),
            6,
        ).alias("hit_rate"),
    )
