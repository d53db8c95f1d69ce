"""Time-series frame builders: candle views, calendar spine, joins and
the Hawkes intensity recursion.

The reference's analytical core is per-symbol daily OHLCV series
(ddl/hive/crypto_raw/candles_day.ddl:3-26) analyzed with windows and
indicators. The driver testdata has no candles table, so
``events_candles`` derives a deterministic candle-shaped series from the
events table: a short dense series (30 days), id = event_type, that
exercises the recursive smoothers (EMA/MACD/RSI) with small magnitudes.
It is a plain groupBy aggregate (map-side partial agg, one shuffle on
the (id, dt) key) with an exact DuckDB-SQL equivalent,
``CANDLES_EVENTS_SQL``. The long orders series lives in
``plans/indicators_q.candles`` (``CANDLES_SQL``).

``hawkes_intensity`` is a ``step`` over ``operators/indicators._per_id``,
the one per-key kernel runner.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import table
from .indicators import _per_id

# DuckDB CTE body — kept textually next to the builder so the Spark
# and oracle definitions can only drift in code review, not silently.
CANDLES_EVENTS_SQL = """
  SELECT event_type                        AS id,
         CAST(ts AS DATE)                  AS dt,
         max(value)                        AS high,
         min(value)                        AS low,
         avg(value)                        AS close,
         sum(value)                        AS volume
  FROM events
  GROUP BY event_type, CAST(ts AS DATE)
"""


def events_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Short dense daily series keyed by event type (5 ids x 30 days)."""
    return table(spark, sf_dir, "events").groupBy(
        F.col("event_type").alias("id"), F.to_date("ts").alias("dt")
    ).agg(
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.avg("value").alias("close"),
        F.sum("value").alias("volume"),
    )


def calendar_spine(bounded: DataFrame) -> DataFrame:
    """Contiguous daily date spine bounded by min/max of ``dt``.

    The reference materializes a 1900-2200 dbt date_spine
    (modules/dbt/crypto_etl_pjr/models/utilities/calendar.sql:3-8) and
    bounds it with scalar subqueries (crypto_daily_close_stats.sql:43-44).
    Here the bounds come from a one-row aggregate that Catalyst keeps on
    the driver side of a (1-row) cross join — no collect, no 110k-row
    static table.
    """
    bounds = bounded.agg(
        F.min("dt").alias("_mn"), F.max("dt").alias("_mx")
    )
    return bounds.select(
        F.explode(F.sequence("_mn", "_mx")).alias("date_day")
    )


def densify(candles: DataFrame) -> DataFrame:
    """Per-id calendar densification: (distinct id) x (date spine), left
    join candles — missing trading days become null-measure rows.

    The reference's mart joins the spine on date ONLY
    (crypto_daily_close_stats.sql:39-41), fanning out null-id rows across
    symbols; SURVEY §7.3(6) flags this as a quirk. We implement the
    DEVSPEC-intended per-symbol spine (docs/DEVSPEC_mart_001.md:10-37).
    """
    ids = candles.select(F.col("id").alias("_spine_id")).distinct()
    grid = calendar_spine(candles).crossJoin(F.broadcast(ids))
    return grid.join(
        candles,
        (grid.date_day == candles.dt) & (grid._spine_id == candles.id),
        "left_outer",
    ).select(
        F.col("_spine_id").alias("id"),
        F.col("date_day").alias("dt"),
        "high",
        "low",
        "close",
        "volume",
    )


# DuckDB equivalent of densify(), parameterized by the candles CTE body.
DENSIFY_SQL_TEMPLATE = """
  WITH candles AS ({candles_sql}),
  bounds AS (SELECT min(dt) AS mn, max(dt) AS mx FROM candles),
  spine AS (
    SELECT CAST(gs.generate_series AS DATE) AS date_day
    FROM generate_series(DATE '1990-01-01', DATE '2030-12-31', INTERVAL 1 DAY) gs, bounds
    WHERE CAST(gs.generate_series AS DATE) BETWEEN bounds.mn AND bounds.mx
  ),
  ids AS (SELECT DISTINCT id FROM candles),
  dense AS (
    SELECT i.id, s.date_day AS dt, c.high, c.low, c.close, c.volume
    FROM spine s CROSS JOIN ids i
    LEFT JOIN candles c ON c.id = i.id AND c.dt = s.date_day
  )
"""


def densify_sql(candles_sql: str) -> str:
    """Oracle CTE prefix ending in a ``dense`` relation."""
    return DENSIFY_SQL_TEMPLATE.format(candles_sql=candles_sql)


def interval_join(
    intervals: DataFrame,
    points: DataFrame,
    bucket_seconds: int = 300,
) -> DataFrame:
    """Half-open interval join ([start, end) contains point ts) as an
    EQUI join: both sides are quantized to ``bucket_seconds`` time
    buckets, intervals explode to every bucket they overlap, and the
    exact range predicate filters after the bucket hash join.

    A naive theta join (p.ts BETWEEN i.start AND i.end) plans as
    BroadcastNestedLoopJoin — every point against every interval, the
    same O(n*m) scale-killer as the all-pairs cosine join. The bucket
    prefilter turns it into a hash join whose candidate count is
    (points per bucket) x (intervals overlapping that bucket): linear
    in both inputs for bounded interval length. Each point lives in
    exactly ONE bucket, so a (interval, point) pair meets at most once
    — no post-join dedup. Choose ``bucket_seconds`` ~ the typical
    interval length: shorter buckets = more interval replicas, longer
    = more false candidates per bucket.
    """
    n_buckets_spanned = 2  # end - start <= bucket_seconds => 2 buckets
    b0 = F.floor(F.unix_timestamp(F.col("start_ts")) / bucket_seconds)
    ivals = intervals.withColumn(
        "_bkt",
        F.explode(
            F.array_distinct(
                F.array(*[b0 + i for i in range(n_buckets_spanned)])
            )
        ),
    )
    pts = points.withColumn(
        "_bkt", F.floor(F.unix_timestamp(F.col("ts")) / bucket_seconds)
    )
    return ivals.join(pts, "_bkt").filter(
        (F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts"))
    )


def continuous_aggregate(
    rollup: DataFrame,
    raw_tail: DataFrame,
) -> DataFrame:
    """Hypertable-style continuous aggregate read path: union a
    PRECOMPUTED rollup table (closed buckets, maintained incrementally
    by the trailing-window pipeline — plans/pipeline.py L5) with the
    freshly-aggregated raw tail (open buckets past the rollup's
    high-water mark).

    Both inputs must share the bucketed schema; correctness needs
    exactly the invariant the writer maintains: rollup buckets and tail
    buckets are disjoint (the cutoff is a bucket boundary) and the
    rollup is complete below the cutoff. At 100 TB this is the
    difference between scanning one day of raw events plus a tiny
    aggregate table and re-scanning the full history per query; the
    union itself adds no shuffle (both sides arrive pre-aggregated)."""
    return rollup.unionByName(raw_tail)


HAWKES_MU = 0.001
HAWKES_ALPHA = 0.5
HAWKES_TAU_S = 3600.0  # decay time constant (beta = 1/tau)


def hawkes_intensity(events: DataFrame) -> DataFrame:
    """Hawkes self-exciting intensity per event stream: at each event,
    the exponentially-decayed count of all earlier events
    A_k = exp(-dt_k / tau) * (A_{k-1} + 1) (A_1 = 0) and the implied
    conditional intensity lambda_k = mu + alpha/tau * A_k — the
    standard model for clustered arrivals (bursty trades, cascading
    errors). The naive definition is an O(n^2) sum over all past
    events; the exponential kernel makes it a one-float recursion, so
    it is a ``step`` over ``_per_id`` keyed on event_type, ordered by
    (ts, event_id): one key-shuffle, O(rows) sequential state per
    stream. Output: event_type, event_id, rn (1-based, as a double),
    decayed_count, intensity.

    Cross-engine exactness: inter-arrival times are EXACT integer
    epoch-micros differences divided by 1e6; the kernel's
    ``math.exp`` is C libm — the same correctly-rounded exp DuckDB
    calls — so the recursive-CTE oracle replays the identical float
    sequence with no grid-snap needed inside the recursion."""

    def step(pdf: pd.DataFrame):
        us = pdf["_us"].to_numpy()
        a = np.zeros(len(us))
        for k in range(1, len(us)):
            dt_s = (int(us[k]) - int(us[k - 1])) / 1e6
            a[k] = math.exp(-dt_s / HAWKES_TAU_S) * (a[k - 1] + 1.0)
        lam = HAWKES_MU + HAWKES_ALPHA * (1.0 / HAWKES_TAU_S) * a
        return np.arange(1, len(us) + 1), a, lam

    prepped = events.select(
        "event_type", "event_id", F.unix_micros(F.col("ts")).alias("_us")
    )
    return _per_id(
        prepped,
        ("event_type", "_us", "event_id"),
        ["rn", "decayed_count", "intensity"],
        step,
    ).drop("_us")
