"""Rolling close-stats mart (the reference's dbt window mart, natively).

Re-implements `crypto_daily_close_stats`
(modules/dbt/crypto_etl_pjr/models/crypto/marts/crypto_daily_close_stats.sql:22-187):
for each stat_range N in {1,3,5,7,10,30} — rolling mean over the last
N+1 rows (W1), N-lag rate-of-change with null guard (W2), constant range
label + UNION ALL stamping (W3).

One window spec per range over ONE shuffle: all six range frames reuse
the same (id, dt) sort order, so Spark plans a single sort+exchange and
evaluates every frame in one pass per range — no per-symbol driver loop
(contrast reference L1) and the union is logical, not materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.portable import o_rnd, prnd

DEFAULT_RANGES = (1, 3, 5, 7, 10, 30)


def daily_close_stats(dense: DataFrame) -> DataFrame:
    """dense: (id, dt, high, low, close, volume) calendar-densified.

    Output: (symbol_id, dt_start, dt_end, stat_range, close_today,
    avg_close, roc) — one row per (id, dt, range).
    """
    w = W.partitionBy("id").orderBy("dt")
    # ONE window pass computes every range's stats as columns (all six
    # frames share a single sort+exchange), then `stack` unpivots to the
    # range-stamped rows the reference materializes via 6x UNION ALL —
    # same output, 1/6th the sorts/joins/scans.
    cols = []
    for n in DEFAULT_RANGES:
        lag_close = F.lag("close", n).over(w)
        cols.append(F.lag("dt", n).over(w).alias(f"_ds{n}"))
        cols.append(
            prnd(F.avg("close").over(w.rowsBetween(-n, 0)), 4).alias(f"_ac{n}")
        )
        cols.append(
            prnd(
                F.when(
                    lag_close.isNotNull(),
                    (F.col("close") - lag_close) / lag_close * 100.0,
                ),
                6,
            ).alias(f"_roc{n}")
        )
    wide = dense.select(
        F.col("id").alias("symbol_id"),
        F.col("dt").alias("dt_end"),
        prnd(F.col("close"), 4).alias("close_today"),
        *cols,
    )
    stack = (
        f"stack({len(DEFAULT_RANGES)}, "
        + ", ".join(f"'{n}', _ds{n}, _ac{n}, _roc{n}" for n in DEFAULT_RANGES)
        + ") AS (stat_range, dt_start, avg_close, roc)"
    )
    return wide.selectExpr(
        "symbol_id", "dt_end", "close_today", stack
    ).select(
        "symbol_id",
        "dt_start",
        "dt_end",
        "stat_range",
        "close_today",
        "avg_close",
        "roc",
    )


def daily_close_stats_sql(dense_prefix_sql: str) -> str:
    """DuckDB oracle: same mart over a CTE prefix ending in ``dense``."""
    blocks = []
    for n in DEFAULT_RANGES:
        lag_close = f"lag(close, {n}) OVER (PARTITION BY id ORDER BY dt)"
        avg_close = (
            f"avg(close) OVER (PARTITION BY id ORDER BY dt "
            f"ROWS BETWEEN {n} PRECEDING AND CURRENT ROW)"
        )
        roc = (
            f"CASE WHEN {lag_close} IS NOT NULL "
            f"THEN (close - {lag_close}) / {lag_close} * 100.0 END"
        )
        blocks.append(
            f"""
  SELECT id AS symbol_id,
         lag(dt, {n}) OVER (PARTITION BY id ORDER BY dt) AS dt_start,
         dt AS dt_end,
         '{n}' AS stat_range,
         {o_rnd('close', 4)} AS close_today,
         {o_rnd(avg_close, 4)} AS avg_close,
         {o_rnd(roc, 6)} AS roc
  FROM dense"""
        )
    return dense_prefix_sql + "\n" + "\nUNION ALL".join(blocks)
