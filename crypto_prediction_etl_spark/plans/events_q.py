"""Event-analytics queries: bucket-prefiltered interval join and the
deterministic KMV cardinality sketch, DuckDB-checked."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.portable import hash64, o_hash64, o_rnd, prnd
from ..operators.sketches import (
    HASH_SPACE,
    HLL_ALPHA,
    HLL_M,
    HLL_W,
    hll_distinct,
    kmv_distinct,
)
from ..operators.timeseries import interval_join
from ..sources.readers import table
from .registry import query
from ..pinning import pin_frame, pin_frame_lazy, pin_loop

_Q57_WINDOW_S = 300  # incident window length = bucket size (5 minutes)


@query(
    "q57_interval_join",
    oracle=f"""
    WITH i AS (SELECT event_id, ts FROM events WHERE event_type = 'error'),
    t AS (SELECT ts, value FROM events WHERE event_type <> 'error')
    SELECT i.event_id,
           count(t.ts) AS n_follow,
           {o_rnd('coalesce(sum(t.value), 0.0)', 2)} AS follow_value
    FROM i LEFT JOIN t
      ON t.ts >= i.ts AND t.ts < i.ts + INTERVAL 5 MINUTE
    GROUP BY i.event_id
    """,
)
def q57_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incident-window interval join: for every error event, aggregate
    the non-error events inside its 5-minute half-open window.

    The oracle states it as the theta join; the Spark plan refuses to —
    operators.timeseries.interval_join quantizes both sides to 5-minute
    buckets and hash-joins on the bucket, with the exact range predicate
    as a post-filter (candidates linear in both inputs, never
    points x intervals). A left anti complement restores the zero-match
    incidents the inner bucket join drops."""
    ev = table(spark, sf_dir, "events")
    incidents = ev.filter(F.col("event_type") == "error").select(
        "event_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("end_ts"),
    )
    targets = ev.filter(F.col("event_type") != "error").select(
        F.col("ts"), F.col("value")
    )
    matched = interval_join(
        incidents, targets, bucket_seconds=_Q57_WINDOW_S
    ).groupBy("event_id").agg(
        F.count("ts").alias("n_follow"),
        prnd(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias("follow_value"),
    )
    unmatched = incidents.join(matched, "event_id", "left_anti").select(
        "event_id",
        F.lit(0).cast("long").alias("n_follow"),
        F.lit(0.0).alias("follow_value"),
    )
    return matched.unionByName(unmatched)


_Q58_K = 16


@query(
    "q58_kmv_distinct",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, ({o_hash64('user_id')}) AS hh FROM events
    ),
    r AS (
      SELECT event_type, hh,
             row_number() OVER (PARTITION BY event_type ORDER BY hh) AS rn,
             count(*) OVER (PARTITION BY event_type) AS nd
      FROM h
    )
    SELECT event_type,
           CAST(nd AS BIGINT) AS n_exact,
           {o_rnd(f'CASE WHEN nd >= {_Q58_K} THEN {float(_Q58_K - 1)} * {HASH_SPACE} / CAST(hh AS DOUBLE) ELSE CAST(nd AS DOUBLE) END', 2)} AS kmv_estimate
    FROM r
    WHERE rn = least({_Q58_K}, nd)
    """,
)
def q58_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type: exact count next to the KMV
    (k-minimum-values, k=16) estimate. Unlike HLL sketches, KMV over
    the portable md5 hash is bit-for-bit reproducible on ANY engine —
    both sides compute identical estimates, so the correctness gate
    hash-checks an *approximate* aggregate exactly."""
    return kmv_distinct(
        table(spark, sf_dir, "events"), "event_type", "user_id", k=_Q58_K
    )


@query(
    "q59_grouped_agg_udaf",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {o_rnd('sum(value * user_id) / sum(user_id)', 4)} AS weighted_value
    FROM events
    WHERE user_id > 0
    GROUP BY event_type
    """,
)
def q59_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDAF (§2.10's third Arrow surface next
    to grouped-map and map iterator): weighted mean via one vectorized
    numpy reduction per group — Arrow moves the group's columns in a
    single batch, no per-row Python. Shuffle shape is identical to a
    JVM aggregate (hash partition on the group key); the UDAF only
    replaces the reduction kernel, so the 100 TB story is unchanged
    except partial aggregation — which is why built-ins stay the
    default and this surface is reserved for reductions Spark lacks."""
    from pyspark.sql.functions import pandas_udf

    # Series -> scalar hints make these GROUPED_AGG UDAFs
    @pandas_udf("double")
    def wmean(v: pd.Series, w: pd.Series) -> float:
        return float((v * w).sum() / w.sum())

    @pandas_udf("long")
    def cnt(v: pd.Series) -> int:
        return len(v)

    # Spark refuses to mix pandas and JVM aggregates in one agg(), so
    # the row count is a (trivial) pandas UDAF too
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") > 0)
    return ev.groupBy("event_type").agg(
        cnt(F.col("value")).alias("n_events"),
        prnd(wmean(F.col("value"), F.col("user_id").cast("double")), 4).alias(
            "weighted_value"
        ),
    )


_Z_BITS = 8


def _zorder_oracle() -> str:
    interleave = " + ".join(
        f"((b1 >> {b}) & 1) * {1 << (2 * b + 1)} + ((b2 >> {b}) & 1) * {1 << (2 * b)}"
        for b in range(_Z_BITS)
    )
    top = (1 << _Z_BITS) - 1
    scale = float(1 << _Z_BITS)
    return f"""
    WITH src AS (
      SELECT event_id, value,
             CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) AS sec
      FROM events
    ),
    stats AS (SELECT min(value) AS min1, max(value) AS max1,
                     min(sec) AS min2, max(sec) AS max2 FROM src),
    b AS (
      SELECT event_id,
             CASE WHEN max1 - min1 = 0 THEN 0
                  ELSE least({top}, greatest(0,
                    CAST(floor((value - min1) / (max1 - min1) * {scale}) AS BIGINT)))
             END AS b1,
             CASE WHEN max2 - min2 = 0 THEN 0
                  ELSE least({top}, greatest(0,
                    CAST(floor((sec - min2) / (max2 - min2) * {scale}) AS BIGINT)))
             END AS b2
      FROM src CROSS JOIN stats
    )
    SELECT event_id,
           CAST(b1 AS INTEGER) AS b1,
           CAST(b2 AS INTEGER) AS b2,
           CAST({interleave} AS BIGINT) AS z
    FROM b
    """


@query("q78_zorder_curve", oracle=_zorder_oracle())
def q78_zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) curve values over (value, event-time): the data-
    layout primitive behind multi-dimensional scan pruning (Delta
    OPTIMIZE ZORDER BY). Range-quantize each dimension to 8 bits against
    its global min/max — ONE scalar min/max pass broadcast back, no
    global sort or ntile — then interleave the bits with shift/mask
    arithmetic, bit-identical in both engines. operators/layout.py
    turns the same z-value into an actual clustered rewrite
    (repartitionByRange + sortWithinPartitions); tests/test_layout.py
    measures the per-file envelope tightening that makes pruning work."""
    from ..operators.layout import with_zvalue

    ev = table(spark, sf_dir, "events")
    src = ev.select(
        "event_id",
        "value",
        F.floor(F.col("ts").cast("double")).cast("long").cast("double").alias("sec"),
    )
    z = with_zvalue(src, "value", "sec", _Z_BITS)
    return z.select(
        "event_id",
        F.col("_b1").cast("int").alias("b1"),
        F.col("_b2").cast("int").alias("b2"),
        F.col("z").cast("long").alias("z"),
    )


def _q91_oracle() -> str:
    hh = o_hash64("user_id")
    w1 = HLL_W + 1
    scale = 1 << w1
    return f"""
    WITH h AS (
      SELECT event_type, ({hh}) AS hh FROM events
    ),
    b AS (
      SELECT event_type, hh % {HLL_M} AS bkt, hh // {1 << 6} AS r FROM h
    ),
    regs AS (
      SELECT event_type, bkt,
             max(CASE WHEN r = 0 THEN {w1} ELSE {w1} - length(bin(r)) END) AS m
      FROM b GROUP BY event_type, bkt
    ),
    g AS (
      SELECT event_type,
             CAST(sum(CAST({scale} AS BIGINT) // (CAST(1 AS BIGINT) << m)) AS BIGINT)
               + (CAST({HLL_M} AS BIGINT) - count(*)) * CAST({scale} AS BIGINT) AS s_scaled,
             CAST({HLL_M} AS BIGINT) - count(*) AS v
      FROM regs GROUP BY event_type
    ),
    est AS (
      SELECT event_type,
             CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M} * CAST({scale} AS DOUBLE)
               / CAST(s_scaled AS DOUBLE) AS e_raw,
             v
      FROM g
    ),
    fin AS (
      SELECT event_type,
             CASE WHEN e_raw <= {2.5 * HLL_M} AND v > 0
                  THEN CAST({HLL_M} AS DOUBLE) * ln(CAST({HLL_M} AS DOUBLE) / CAST(v AS DOUBLE))
                  ELSE e_raw END AS e
      FROM est
    ),
    exact AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT x.event_type, x.n_exact, {o_rnd('f.e', 2)} AS hll_estimate
    FROM exact x JOIN fin f USING (event_type)
    """


@query("q91_hll_distinct", oracle=_q91_oracle())
def q91_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via a cross-engine-reproducible
    HyperLogLog (64 registers over the portable md5 hash) next to the
    exact count. Register rank uses binary-string length (no float
    log2); the harmonic mean accumulates as an order-independent
    INTEGER sum of 2^(55-M); linear-counting small-range correction on
    explicit double casts — every step bit-identical in DuckDB, so the
    gate hash-checks an approximate aggregate exactly (same property as
    q58's KMV, with HLL's O(m) state and register-wise max mergeability
    that a 100 TB pipeline needs for per-shard sketch maintenance)."""
    return hll_distinct(table(spark, sf_dir, "events"), "event_type", "user_id")


_Q92_TAIL_DAYS = 7  # open window re-aggregated from raw events


def _q92_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, value FROM events
    ),
    b AS (SELECT max(day) - {_Q92_TAIL_DAYS} AS cutoff FROM d)
    SELECT event_type, day,
           CAST(count(*) AS BIGINT) AS n_events,
           {o_rnd('sum(value)', 4)} AS sum_value,
           CASE WHEN day < b.cutoff THEN 'rollup' ELSE 'tail' END AS served_from
    FROM d CROSS JOIN b
    GROUP BY event_type, day, b.cutoff
    """


@query("q92_rollup_tail_merge", oracle=_q92_oracle())
def q92_rollup_tail_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate read path (the hypertable rollup pattern):
    daily per-type counts/sums for CLOSED days come from the rollup
    table — materialized here with truncated lineage to model reading
    the incrementally-maintained aggregate the L5 trailing-window
    pipeline writes — while the open tail (last 7 days) re-aggregates
    from raw events. The union serves the full series; ``served_from``
    exposes which path produced each row.

    Scale shape: the rollup side is ~(types x days) pre-aggregated rows
    (kilobytes at any raw scale); only the tail scans raw data, and a
    partition-pruned scan at that (day >= cutoff on a date-partitioned
    table). The cutoff is a bucket boundary, so rollup and tail groups
    are provably disjoint and the union needs no dedup and no shuffle."""
    from ..operators.timeseries import continuous_aggregate

    ev = table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    bounds = ev.agg(
        F.date_sub(F.max("day"), _Q92_TAIL_DAYS).alias("cutoff")
    )
    src = ev.crossJoin(F.broadcast(bounds))

    def _agg(part: DataFrame, tag: str) -> DataFrame:
        return part.groupBy("event_type", "day").agg(
            F.count("*").alias("n_events"),
            prnd(F.sum("value"), 4).alias("sum_value"),
        ).withColumn("served_from", F.lit(tag))

    rollup = _agg(src.filter(F.col("day") < F.col("cutoff")), "rollup").transform(
        pin_frame
    )
    tail = _agg(src.filter(F.col("day") >= F.col("cutoff")), "tail")
    return continuous_aggregate(rollup, tail)


_Q96_SALTS = 16


@query(
    "q96_salted_hot_agg",
    oracle=f"""
    SELECT event_type,
           {o_rnd('sum(value)', 2)} AS sum_value,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events GROUP BY event_type
    """,
)
def q96_salted_hot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation through the salted operator
    (operators/skew.salted_sum_count): phase one spreads every hot key
    over 16 (key, salt) shards, phase two merges 16 rows per key — the
    reducer-side work per key is bounded by the salt count no matter
    how pathological the key distribution (the order-book case: a
    handful of symbols carry almost all volume). The oracle states the
    plain GROUP BY; results are identical because sum/count are
    algebraic — which is exactly why the salting decomposition is safe.
    AQE cannot re-plan aggregation skew (only join skew), so this
    explicit operator IS the 100 TB mitigation for hot grouping keys."""
    from ..operators.skew import salted_sum_count

    ev = table(spark, sf_dir, "events").select("event_type", "value")
    out = salted_sum_count(ev, ["event_type"], "value", n_salts=_Q96_SALTS)
    return out.select(
        "event_type",
        prnd(F.col("sum_value"), 2).alias("sum_value"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


_Q98_CONV_DAYS = 7  # conversion window after signup


@query(
    "q98_conversion_funnel",
    oracle=f"""
    WITH s AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT s.user_id,
             min(e.ts) AS conv_ts
      FROM s JOIN events e
        ON e.user_id = s.user_id
       AND e.event_type = 'purchase'
       AND e.ts >= s.signup_ts
       AND e.ts < s.signup_ts + INTERVAL {_Q98_CONV_DAYS} DAY
      GROUP BY s.user_id
    )
    SELECT CAST(s.signup_ts AS DATE) AS cohort_day,
           CAST(count(*) AS BIGINT) AS n_signups,
           CAST(count(p.conv_ts) AS BIGINT) AS n_converted,
           {o_rnd('CAST(count(p.conv_ts) AS DOUBLE) / count(*)', 4)} AS conv_rate
    FROM s LEFT JOIN p USING (user_id)
    GROUP BY cohort_day
    """,
)
def q98_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohorted conversion funnel: first signup per user, first
    purchase inside the 7-day window after it, conversion rate per
    signup-day cohort — the order-dependent event-sequence analysis
    (funnel) every product pipeline runs next to the engine's windowed
    aggregates.

    Shuffle shape: two partial-aggregated groupBys on user_id (signup
    firsts, windowed purchase firsts) and one on the cohort day. The
    signup->purchase match is an equi-join on user_id with the time
    window as a residual predicate — never a time-theta join, so at
    100 TB it hash-partitions on user and AQE handles user-level skew."""
    ev = table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(
            (F.col("ts") >= F.col("signup_ts"))
            & (F.col("ts") < F.col("signup_ts") + F.expr(f"INTERVAL {_Q98_CONV_DAYS} DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    return (
        s.join(p, "user_id", "left")
        .groupBy(F.to_date("signup_ts").alias("cohort_day"))
        .agg(
            F.count("*").alias("n_signups"),
            F.count("conv_ts").alias("n_converted"),
        )
        .select(
            "cohort_day",
            F.col("n_signups").cast("long").alias("n_signups"),
            F.col("n_converted").cast("long").alias("n_converted"),
            prnd(
                F.col("n_converted").cast("double") / F.col("n_signups"), 4
            ).alias("conv_rate"),
        )
    )


# deterministic quantiles: lower order statistic at rank
# floor(q * (n-1)) + 1 over a hash-fenced sample - no interpolation
# arithmetic, no RNG, identical on any engine at any parallelism.
_Q99_SAMPLE_MOD = 4  # keep ~1/4 of events, chosen by portable hash


def _q99_oracle() -> str:
    h = o_hash64("event_id")
    ranks = ", ".join(
        f"max(CASE WHEN rn = CAST(floor({q} * (n - 1)) AS BIGINT) + 1 THEN value END) AS p{int(q*100)}"
        for q in (0.25, 0.5, 0.75)
    )
    return f"""
    WITH sampled AS (
      SELECT event_type, value FROM events
      WHERE ({h}) % {_Q99_SAMPLE_MOD} = 0
    ),
    r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM sampled
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_sampled,
           {ranks}
    FROM r GROUP BY event_type
    """


@query("q99_hash_quantiles", oracle=_q99_oracle())
def q99_hash_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic approximate quantiles: a hash-fenced sample
    (hash64(event_id) % 4 == 0 - a pure row predicate, no RNG state,
    stable under reruns/repartitions/appends) reduced to exact lower
    order statistics at ranks floor(q*(n-1))+1. Unlike
    approx_percentile/t-digest, every engine reproduces the identical
    numbers - the property a 100 TB pipeline's QA diff needs. The
    sample is the scale dial: the window sorts 1/mod of the data per
    group; at extreme scale the same fence tightens (mod 1000+) and
    the shuffle carries only sampled rows, the q76 discipline."""
    ev = table(spark, sf_dir, "events")
    sampled = ev.filter(hash64(F.col("event_id")) % _Q99_SAMPLE_MOD == 0).select(
        "event_type", "value"
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type").orderBy(F.col("value"))
    r = sampled.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("event_type")).alias("n"),
    )
    aggs = [F.max("n").cast("long").alias("n_sampled")]
    for q in (0.25, 0.5, 0.75):
        rank = F.floor(F.lit(q) * (F.col("n") - 1)).cast("long") + 1
        aggs.append(
            F.max(F.when(F.col("rn") == rank, F.col("value"))).alias(f"p{int(q*100)}")
        )
    return r.groupBy("event_type").agg(*aggs)


def _q105_oracle() -> str:
    hh = o_hash64("user_id")
    w1 = HLL_W + 1
    scale = 1 << w1
    return f"""
    WITH h AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ({hh}) AS hh FROM events
    ),
    b AS (
      SELECT event_type, day, hh % {HLL_M} AS bkt, hh // {1 << 6} AS r FROM h
    ),
    regs AS (
      SELECT event_type, day, bkt,
             max(CASE WHEN r = 0 THEN {w1} ELSE {w1} - length(bin(r)) END) AS m
      FROM b GROUP BY event_type, day, bkt
    ),
    g AS (
      SELECT event_type, day,
             CAST(sum(CAST({scale} AS BIGINT) // (CAST(1 AS BIGINT) << m)) AS BIGINT)
               + (CAST({HLL_M} AS BIGINT) - count(*)) * CAST({scale} AS BIGINT) AS s_scaled,
             CAST({HLL_M} AS BIGINT) - count(*) AS v
      FROM regs GROUP BY event_type, day
    ),
    est AS (
      SELECT event_type, day,
             CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M} * CAST({scale} AS DOUBLE)
               / CAST(s_scaled AS DOUBLE) AS e_raw,
             v
      FROM g
    ),
    fin AS (
      SELECT event_type, day,
             CASE WHEN e_raw <= {2.5 * HLL_M} AND v > 0
                  THEN CAST({HLL_M} AS DOUBLE) * ln(CAST({HLL_M} AS DOUBLE) / CAST(v AS DOUBLE))
                  ELSE e_raw END AS e
      FROM est
    ),
    exact AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT x.event_type, x.day, x.n_exact, {o_rnd('f.e', 2)} AS hll_estimate
    FROM exact x JOIN fin f USING (event_type, day)
    """


@query("q105_windowed_hll", oracle=_q105_oracle())
def q105_windowed_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct-user sketch per event type: the q91 HLL composed
    with a time bucket — the shape a 100 TB pipeline materializes as
    its per-(partition, day) sketch table. Register banks for any date
    range then merge by register-wise max WITHOUT rescanning raw data
    (the q92 rollup pattern applied to a non-additive aggregate:
    distinct counts don't sum across days, but their sketches merge)."""
    ev = table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    return hll_distinct(ev, ["event_type", "day"], "user_id")


@query(
    "q107_cumulative_uniques",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events
      GROUP BY user_id
    ),
    daily AS (
      SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
      FROM first_seen GROUP BY first_day
    )
    SELECT day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_uniques
    FROM daily
    """,
)
def q107_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New and cumulative distinct users per day WITHOUT a windowed
    distinct: distinct-over-a-growing-window is quadratic state, but
    first-seen-day per user (one groupBy min) turns it into an
    ordinary daily count + running integer sum — the standard trick
    that makes 'cumulative uniques over 100 TB of events' one
    user-keyed shuffle plus a days-sized frame. All integer
    arithmetic, bit-exact on any engine."""
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    from pyspark.sql import Window as W

    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        "day",
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cumulative_uniques"),
    )


_Q108_MAX_WEEK = 4  # track retention through week 4


@query(
    "q108_retention_cohorts",
    oracle=f"""
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events
      GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             CAST((CAST(ts AS DATE) - f.cohort_day) // 7 AS INTEGER) AS week_offset
      FROM events e JOIN first_seen f USING (user_id)
    ),
    cohort_size AS (
      SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_users
      FROM first_seen GROUP BY cohort_day
    )
    SELECT a.cohort_day, a.week_offset,
           CAST(count(*) AS BIGINT) AS active_users,
           c.n_users AS cohort_users,
           {o_rnd('CAST(count(*) AS DOUBLE) / c.n_users', 4)} AS retention
    FROM activity a JOIN cohort_size c USING (cohort_day)
    WHERE a.week_offset <= {_Q108_MAX_WEEK}
    GROUP BY a.cohort_day, a.week_offset, c.n_users
    """,
)
def q108_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix: users grouped by first-seen day,
    tracked by distinct activity in week offsets 0..4 — the cohort
    table every product pipeline materializes.

    Shuffle budget: one user groupBy for cohort assignment, a user-key
    equi-join back to events (broadcastable cohort frame at any scale:
    one row per user... the JOIN side that matters partial-aggregates
    to (user, cohort, week) DISTINCT before the final cohort count, so
    the wide shuffle carries one row per active user-week, not one per
    event). Integer date arithmetic, exact on both engines."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.floor(F.datediff("day", "cohort_day") / 7).cast("int").alias(
                "week_offset"
            ),
        )
        .distinct()
        .filter(F.col("week_offset") <= _Q108_MAX_WEEK)
    )
    cohort_size = first_seen.groupBy("cohort_day").agg(
        F.count("*").alias("n_users")
    )
    return (
        activity.groupBy("cohort_day", "week_offset")
        .agg(F.count("*").alias("active_users"))
        .join(F.broadcast(cohort_size), "cohort_day")
        .select(
            "cohort_day",
            "week_offset",
            F.col("active_users").cast("long").alias("active_users"),
            F.col("n_users").cast("long").alias("cohort_users"),
            prnd(
                F.col("active_users").cast("double") / F.col("n_users"), 4
            ).alias("retention"),
        )
    )


@query(
    "q111_salted_join",
    oracle=f"""
    WITH t AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             {o_rnd('sum(value)', 2)} AS sum_value
      FROM events GROUP BY user_id
    ),
    u AS (SELECT DISTINCT user_id, user_id % 10 AS segment FROM events)
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           {o_rnd('sum(sum_value)', 2)} AS sum_value
    FROM t JOIN u USING (user_id)
    GROUP BY segment
    """,
)
def q111_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof equi-join through operators/skew.salted_join: the big
    (fact) side salts into 16 shards per key, the small (dim) side
    replicates across every salt value, and the join runs on
    (key, salt) — a hot key's rows land on 16 reducers instead of one.
    The oracle states the plain join; results are identical because
    salting only re-partitions rows (every (key, salt) pair joins the
    same replicated dim row). This is the explicit mitigation for
    broadcast-ineligible skewed joins where AQE's sort-merge skew
    splitting doesn't apply; q96 is the aggregation-side sibling."""
    from ..operators.skew import salted_join

    ev = table(spark, sf_dir, "events")
    fact = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        prnd(F.sum("value"), 2).alias("sum_value"),
    )
    dim = ev.select(
        "user_id", (F.col("user_id") % 10).alias("segment")
    ).distinct()
    joined = salted_join(fact, dim, "user_id", n_salts=16)
    return joined.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("n_events"),
        prnd(F.sum("sum_value"), 2).alias("sum_value"),
    )


@query(
    "q114_ordered_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s AS (
      SELECT e.user_id, min(e.ts) AS t_signup
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'signup' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s.t_signup
      GROUP BY e.user_id
    )
    SELECT 'step1_view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT 'step2_signup', CAST(count(*) AS BIGINT) FROM s
    UNION ALL
    SELECT 'step3_purchase', CAST(count(*) AS BIGINT) FROM p
    """,
)
def q114_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered three-step funnel (view -> signup -> purchase,
    each step's first occurrence must FOLLOW the previous step's):
    per-user sequence alignment expressed as chained min-aggregations
    with a time predicate against the previous step's anchor — each
    step is one groupBy + one user-keyed equi-join, so a 100 TB event
    log pays one user-partitioned shuffle per step and no window ever
    sees more than one row per user. The unordered q98 counts
    co-occurrence; this one counts the SEQUENCE, which is what drops
    at each step of a real funnel."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    rows = [
        v.agg(F.count("*").alias("n_users")).select(
            F.lit("step1_view").alias("step"), F.col("n_users").cast("long")
        ),
        s.agg(F.count("*").alias("n_users")).select(
            F.lit("step2_signup").alias("step"), F.col("n_users").cast("long")
        ),
        p.agg(F.count("*").alias("n_users")).select(
            F.lit("step3_purchase").alias("step"), F.col("n_users").cast("long")
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.select("step", F.col("n_users").alias("n_users"))


# ---------------------------------------------------------------------------
# Daily event-rate anomaly screen (z-score per event type)
# ---------------------------------------------------------------------------

_Q132_Z = 2.0


def _q132_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    stats AS (
      SELECT event_type, day, n_events,
             avg(CAST(n_events AS DOUBLE))        OVER (PARTITION BY event_type) AS mu,
             stddev_pop(CAST(n_events AS DOUBLE)) OVER (PARTITION BY event_type) AS sd
      FROM daily
    )
    SELECT event_type, day, n_events,
           {o_rnd('CASE WHEN sd = 0 THEN 0.0 ELSE (CAST(n_events AS DOUBLE) - mu) / sd END', 4)} AS z,
           CAST(CASE WHEN sd = 0 THEN 0.0 ELSE abs(CAST(n_events AS DOUBLE) - mu) / sd END > {_Q132_Z} AS INT) AS is_anomaly
    FROM stats
    """


@query("q132_event_rate_anomaly", oracle=_q132_oracle())
def q132_event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-rate anomaly screen: per-type daily counts z-scored
    against that type's own distribution, |z| > 2 flagged — the ops
    check that catches ingestion outages (count collapse) and bot
    bursts on the same pass.  One partial-agg groupBy plus one
    per-type window; the counts reshuffle only ~types x days rows, so
    the monitor's cost is independent of raw event volume."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n_events"))
    w = W.partitionBy("event_type")
    nd = F.col("n_events").cast("double")
    mu = F.avg(nd).over(w)
    sd = F.stddev_pop(nd).over(w)
    z = F.when(sd == 0, F.lit(0.0)).otherwise((nd - mu) / sd)
    za = F.when(sd == 0, F.lit(0.0)).otherwise(F.abs(nd - mu) / sd)
    return daily.select(
        "event_type",
        "day",
        "n_events",
        prnd(z, 4).alias("z"),
        (za > _Q132_Z).cast("int").alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# q142 event-transition matrix (Markov chain estimate)
# ---------------------------------------------------------------------------


@query(
    "q142_event_transitions",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    t AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           {o_rnd('CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type)', 6)} AS prob
    FROM t
    """,
)
def q142_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event sequences:
    P(next event type | previous event type) — the session-modeling /
    next-action-prediction feature table.

    One shuffle on user_id for the lag window (ordered by (ts,
    event_id) — a total order, so sequences are reproducible under
    re-partitioning), then a groupBy whose partial-agg output is at
    most types^2 rows per partition; the row-probability normalizer is
    a window over the TINY transition table, not the events. At 100 TB
    the only data-sized exchange is the per-user repartition, which any
    sessionization already pays (and shares, if the pipeline co-groups
    by user).
    """
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    seq_w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(seq_w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    t = seq.groupBy("prev_type", "next_type").agg(F.count("*").alias("n"))
    norm_w = W.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        "n",
        prnd(
            F.col("n").cast("double") / F.sum("n").over(norm_w), 6
        ).alias("prob"),
    )


# ---------------------------------------------------------------------------
# q156 exact interpolated percentiles (percentile_cont semantics)
# ---------------------------------------------------------------------------


def _q156_oracle() -> str:
    sel, outer = [], []
    for q in (0.5, 0.9):
        tag = f"p{int(q * 100)}"
        # row-level straddling-rank conditions (n is a per-row window col)
        lo_rn = f"CAST(floor({q} * (n - 1)) AS BIGINT) + 1"
        hi_rn = f"CAST(ceil({q} * (n - 1)) AS BIGINT) + 1"
        sel.append(f"max(CASE WHEN rn = {lo_rn} THEN value END) AS vlo_{tag}")
        sel.append(f"max(CASE WHEN rn = {hi_rn} THEN value END) AS vhi_{tag}")
        pos = f"{q} * (n_rows - 1)"
        outer.append(
            o_rnd(f"vlo_{tag} + (({pos}) - floor({pos})) * (vhi_{tag} - vlo_{tag})", 6)
            + f" AS {tag}"
        )
    return f"""
    WITH r AS (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    a AS (
      SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows,
             {", ".join(sel)}
      FROM r GROUP BY event_type
    )
    SELECT event_type, n_rows,
           {", ".join(outer)}
    FROM a
    """


@query("q156_percentile_cont", oracle=_q156_oracle())
def q156_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PERCENTILE_CONT semantics (linear interpolation between
    the two order statistics straddling position q*(n-1)) computed
    portably: a per-group rank window plus conditional aggregation —
    NOT the engine's approx_percentile, whose sketches differ across
    engines and runs. The per-group sort is the honest cost; the
    (value, event_id) tie-break makes ranks a total order so both
    engines pick identical straddling rows."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("event_type")).alias("n"),
    )
    aggs = [F.max("n").cast("long").alias("n_rows")]
    for q in (0.5, 0.9):
        tag = f"p{int(q * 100)}"
        pos_row = F.lit(q) * (F.col("n") - 1)
        lo_rn = F.floor(pos_row).cast("long") + 1
        hi_rn = F.ceil(pos_row).cast("long") + 1
        aggs.append(
            F.max(F.when(F.col("rn") == lo_rn, F.col("value"))).alias(f"vlo_{tag}")
        )
        aggs.append(
            F.max(F.when(F.col("rn") == hi_rn, F.col("value"))).alias(f"vhi_{tag}")
        )
    a = r.groupBy("event_type").agg(*aggs)
    outs = ["event_type", "n_rows"]
    cols = [F.col("event_type"), F.col("n_rows")]
    for q in (0.5, 0.9):
        tag = f"p{int(q * 100)}"
        pos = F.lit(q) * (F.col("n_rows") - 1)
        cols.append(
            prnd(
                F.col(f"vlo_{tag}")
                + (pos - F.floor(pos)) * (F.col(f"vhi_{tag}") - F.col(f"vlo_{tag}")),
                6,
            ).alias(tag)
        )
    return a.select(*cols)


# ---------------------------------------------------------------------------
# q159 key-skew profiler
# ---------------------------------------------------------------------------

_Q159_TOPK = 5


@query(
    "q159_key_skew_profile",
    oracle=f"""
    WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
    s AS (
      SELECT count(*) AS n_keys, sum(n) AS n_rows,
             max(n) AS max_n, avg(n) AS avg_n
      FROM c
    ),
    t AS (
      SELECT user_id, n,
             row_number() OVER (ORDER BY n DESC, user_id) AS rnk
      FROM c
    )
    SELECT t.rnk AS rank, t.user_id, t.n,
           {o_rnd('CAST(t.n AS DOUBLE) / s.n_rows', 6)} AS share,
           CAST(s.n_keys AS BIGINT) AS n_keys,
           {o_rnd('s.max_n / s.avg_n', 4)} AS skew_factor
    FROM t CROSS JOIN s
    WHERE t.rnk <= {_Q159_TOPK}
    """,
)
def q159_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution profiler: top-5 heavy hitters of a join/groupBy
    key with their row share, plus the key-count and max/avg skew
    factor — the diagnostic that decides WHETHER a key needs salting
    (q96/q111) before a 100 TB shuffle is attempted.

    One partial-agg groupBy on the key; everything downstream (top-k
    window, 1-row stats) operates on the key-count table, which is
    orders of magnitude smaller than the data. The stats row broadcast-
    joins onto the top-k rows.
    """
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    s = c.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        F.avg("n").alias("avg_n"),
    )
    t = c.select(
        "user_id",
        "n",
        F.row_number()
        .over(W.orderBy(F.col("n").desc(), "user_id"))
        .alias("rank"),
    ).filter(F.col("rank") <= _Q159_TOPK)
    return t.crossJoin(F.broadcast(s)).select(
        "rank",
        "user_id",
        "n",
        prnd(F.col("n").cast("double") / F.col("n_rows"), 6).alias("share"),
        F.col("n_keys").cast("long").alias("n_keys"),
        prnd(F.col("max_n") / F.col("avg_n"), 4).alias("skew_factor"),
    )


# ---------------------------------------------------------------------------
# q161 SCD2 validity intervals
# ---------------------------------------------------------------------------


@query(
    "q161_scd2_intervals",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    chg AS (
      SELECT user_id, event_type, ts, event_id
      FROM seq WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(ts) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
           CAST(lead(ts) OVER w2 IS NULL AS INT) AS is_current
    FROM chg
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q161_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) construction: compress each
    user's event stream into state-change validity intervals
    [valid_from, valid_to) with an is_current flag — the temporal
    versioning transform every warehouse dimension load performs.

    Two window passes over the SAME (user_id, (ts, event_id))
    partitioning — Spark plans them in one sort: lag() finds change
    points, the stream is filtered to them (this is the compression:
    repeated states collapse), and lead() closes each interval. No
    self-join, no shuffle beyond the one per-user exchange.
    """
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    chg = seq.filter(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    )
    lead_ts = F.lead("ts").over(w)
    return chg.select(
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(lead_ts, "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        lead_ts.isNull().cast("int").alias("is_current"),
    )


# ---------------------------------------------------------------------------
# q162 out-of-order (late-data) accounting
# ---------------------------------------------------------------------------

_Q162_LATE_US = 300_000_000  # 5 minutes in microseconds


@query(
    "q162_out_of_order",
    oracle=f"""
    WITH arr AS (
      SELECT event_type,
             epoch_us(ts) AS ts_us,
             max(epoch_us(ts)) OVER (PARTITION BY event_type
                                     ORDER BY event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS run_max_us
      FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           count(*) FILTER (WHERE run_max_us - ts_us > {_Q162_LATE_US}) AS n_late,
           {o_rnd(f'CAST(count(*) FILTER (WHERE run_max_us - ts_us > {_Q162_LATE_US}) AS DOUBLE) / count(*)', 6)} AS late_rate,
           max(run_max_us - ts_us) // 1000000 AS max_delay_s
    FROM arr GROUP BY event_type
    """,
)
def q162_out_of_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival accounting: treating event_id as arrival
    order, measure how far event time lags the per-type running
    event-time maximum — the measurement that JUSTIFIES a watermark
    choice (SURVEY §2.9f): n_late at 5 minutes is exactly the data a
    ``withWatermark("ts", "5 minutes")`` would drop, and max_delay the
    bound a lossless one needs.

    All arithmetic in exact integer microseconds (unix_micros /
    epoch_us) — float epochs would drift across engines. One running-
    max window per type plus a partial-agg rollup; arrival order is a
    total order (event_id), so the running max is reproducible.
    """
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    arr = ev.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.max(F.unix_micros("ts")).over(w).alias("run_max_us"),
    )
    delay = F.col("run_max_us") - F.col("ts_us")
    late = F.count(F.when(delay > _Q162_LATE_US, 1))
    return arr.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        late.alias("n_late"),
        prnd(late.cast("double") / F.count("*"), 6).alias("late_rate"),
        F.floor(F.max(delay) / 1_000_000).cast("long").alias("max_delay_s"),
    )


# ---------------------------------------------------------------------------
# q168 A/B cohort comparison (Welch t statistic)
# ---------------------------------------------------------------------------


@query(
    "q168_ab_test_stats",
    oracle=f"""
    WITH g AS (
      SELECT event_type, user_id % 2 AS grp, value FROM events
    ),
    s AS (
      SELECT event_type, grp,
             count(*) AS n, sum(value) AS s1, sum(value * value) AS s2
      FROM g GROUP BY event_type, grp
    ),
    ab AS (
      SELECT a.event_type,
             a.n AS n_a, b.n AS n_b,
             a.s1 / a.n AS m_a, b.s1 / b.n AS m_b,
             (a.s2 - a.s1 * a.s1 / a.n) / (a.n - 1) AS v_a,
             (b.s2 - b.s1 * b.s1 / b.n) / (b.n - 1) AS v_b
      FROM s a JOIN s b ON a.event_type = b.event_type
      WHERE a.grp = 0 AND b.grp = 1
    )
    SELECT event_type, n_a, n_b,
           {o_rnd('m_a', 4)} AS mean_a,
           {o_rnd('m_b', 4)} AS mean_b,
           {o_rnd('(m_a - m_b) / sqrt(v_a / n_a + v_b / n_b)', 4)} AS welch_t
    FROM ab
    """,
)
def q168_ab_test_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B cohort comparison: per event type, the Welch t statistic
    between two deterministic user cohorts (user_id parity — in
    production the experiment-assignment hash), from algebraic
    sufficient statistics (n, sum, sum-of-squares) only.

    One partial-agg groupBy over the raw events, then all arithmetic
    happens on the types x 2 cohort table — the experimentation
    readout costs ONE aggregation of the data regardless of scale,
    the same law as q106's OLS and q115's correlation."""
    ev = table(spark, sf_dir, "events")
    s = (
        ev.select(
            "event_type", (F.col("user_id") % 2).alias("grp"), "value"
        )
        .groupBy("event_type", "grp")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("s1"),
            F.sum(F.col("value") * F.col("value")).alias("s2"),
        )
    )
    a = s.filter(F.col("grp") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("s1").alias("s1a"),
        F.col("s2").alias("s2a"),
    )
    b = s.filter(F.col("grp") == 1).select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("s1").alias("s1b"),
        F.col("s2").alias("s2b"),
    )
    j = a.join(b, "event_type")
    m_a = F.col("s1a") / F.col("n_a")
    m_b = F.col("s1b") / F.col("n_b")
    v_a = (F.col("s2a") - F.col("s1a") * F.col("s1a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    v_b = (F.col("s2b") - F.col("s1b") * F.col("s1b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        prnd(m_a, 4).alias("mean_a"),
        prnd(m_b, 4).alias("mean_b"),
        prnd(
            (m_a - m_b) / F.sqrt(v_a / F.col("n_a") + v_b / F.col("n_b")), 4
        ).alias("welch_t"),
    )


# ---------------------------------------------------------------------------
# q171 quantile (rank-uniform) transform
# ---------------------------------------------------------------------------


@query(
    "q171_quantile_transform",
    oracle=f"""
    SELECT event_id, event_type,
           {o_rnd('CAST(row_number() OVER w AS DOUBLE) / (count(*) OVER (PARTITION BY event_type) + 1)', 6)} AS u
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def q171_quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-uniform quantile transform: map each value to its
    within-group plotting position rank/(n+1) in (0, 1) — the
    distribution-free normalization (feature preprocessing, copula
    inputs) that is exactly reproducible where z-scores depend on
    float moments. One per-group sort; the (value, event_id) tie-break
    totalizes the order so ranks are stable under re-partitioning."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        prnd(
            F.row_number().over(w).cast("double")
            / (F.count("*").over(W.partitionBy("event_type")) + 1),
            6,
        ).alias("u"),
    )


# ---------------------------------------------------------------------------
# q179 leave-one-out target encoding
# ---------------------------------------------------------------------------


@query(
    "q179_target_encoding",
    oracle=f"""
    WITH s AS (
      SELECT event_type, count(*) AS n, sum(value) AS s1 FROM events
      GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           {o_rnd('CASE WHEN s.n > 1 THEN (s.s1 - e.value) / (s.n - 1) ELSE 0.0 END', 6)} AS te_loo
    FROM events e JOIN s USING (event_type)
    """,
)
def q179_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: each row's category feature is
    the mean target of its category EXCLUDING the row itself,
    (sum - x)/(n - 1) — the LOO identity turns a per-row exclusion
    into one category aggregate + a broadcast join, where the naive
    formulation is a per-row self-join. The standard high-cardinality
    categorical encoder that avoids self-leakage.

    One partial-agg groupBy (category sums are category-count-sized,
    broadcast) + a map-side join: at 100 TB the data is touched twice,
    shuffled never."""
    ev = table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("value").alias("s1")
    )
    return ev.join(F.broadcast(s), "event_type").select(
        "event_id",
        "event_type",
        prnd(
            F.when(
                F.col("n") > 1,
                (F.col("s1") - F.col("value")) / (F.col("n") - 1),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("te_loo"),
    )


# ---------------------------------------------------------------------------
# q180 session entry paths
# ---------------------------------------------------------------------------

_Q180_GAP_MIN = 30  # session gap, minutes
_Q180_DEPTH = 3


@query(
    "q180_session_paths",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL {_Q180_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS is_start
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type, ts, event_id,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM seq
    ),
    ranked AS (
      SELECT user_id, session_no, event_type,
             row_number() OVER (PARTITION BY user_id, session_no
                                ORDER BY ts, event_id) AS step
      FROM sess
    ),
    paths AS (
      SELECT user_id, session_no,
             string_agg(event_type, '>' ORDER BY step) AS path
      FROM ranked WHERE step <= {_Q180_DEPTH}
      GROUP BY user_id, session_no
    )
    SELECT path, count(*) AS n_sessions
    FROM paths GROUP BY path
    """,
)
def q180_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session entry-path analysis: sessionize (30-minute gap rule —
    q63's operator), take each session's first 3 event types in order,
    and count path frequencies — the navigation-funnel table product
    analytics reads ("view>click>purchase" vs "view>error>view").

    The gap-rule session numbering is the same lag + running-sum
    composition as q63, all on ONE per-user sort; path assembly is an
    ordered string_agg over <= 3 rows per session; the final count is
    a tiny groupBy on path strings."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.lag("ts").over(w)
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            gap.isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(gap)
                > _Q180_GAP_MIN * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    cum = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sess = seq.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum("is_start").over(cum).alias("session_no"),
    )
    step_w = W.partitionBy("user_id", "session_no").orderBy("ts", "event_id")
    ranked = sess.select(
        "user_id",
        "session_no",
        "event_type",
        F.row_number().over(step_w).alias("step"),
    ).filter(F.col("step") <= _Q180_DEPTH)
    paths = ranked.groupBy("user_id", "session_no").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("step", "event_type"))),
                lambda s: s.getField("event_type"),
            ),
            ">",
        ).alias("path")
    )
    return paths.groupBy("path").agg(F.count("*").alias("n_sessions"))


# ---------------------------------------------------------------------------
# q181 sequence-anomaly (bot) scoring via transition likelihood
# ---------------------------------------------------------------------------


@query(
    "q181_sequence_anomaly",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    bi AS (SELECT user_id, prev_type, event_type FROM seq
           WHERE prev_type IS NOT NULL),
    t AS (
      SELECT prev_type, event_type, count(*) AS n
      FROM bi GROUP BY prev_type, event_type
    ),
    p AS (
      SELECT prev_type, event_type,
             CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type) AS prob
      FROM t
    )
    SELECT b.user_id,
           count(*) AS n_transitions,
           {o_rnd('avg(-ln(p.prob))', 4)} AS avg_nll
    FROM bi b JOIN p USING (prev_type, event_type)
    GROUP BY b.user_id
    """,
)
def q181_sequence_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-sequence anomaly score: each user's average negative
    log-likelihood under the corpus transition model (q142's matrix) —
    users whose event ORDER is improbable (bots replaying fixed
    scripts, fraud flows) surface even when their event MIX looks
    normal.

    The transition model is types^2 rows -> broadcast; scoring reuses
    the same per-user lag pass (one user-shuffle shared with q142/
    q161/q180 in a combined pipeline) plus a map-side join and a
    per-user aggregate."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    bi = ev.select(
        "user_id",
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    t = bi.groupBy("prev_type", "next_type").agg(F.count("*").alias("n"))
    p = t.select(
        "prev_type",
        "next_type",
        (
            F.col("n").cast("double")
            / F.sum("n").over(W.partitionBy("prev_type"))
        ).alias("prob"),
    )
    return (
        bi.join(F.broadcast(p), ["prev_type", "next_type"])
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_transitions"),
            prnd(F.avg(-F.log("prob")), 4).alias("avg_nll"),
        )
    )


# ---------------------------------------------------------------------------
# q182 temporal dimension join (event -> SCD2 state at event time)
# ---------------------------------------------------------------------------


@query(
    "q182_temporal_dim_join",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    chg AS (
      SELECT user_id, event_type AS state, ts AS vf, event_id
      FROM seq WHERE prev_type IS NULL OR prev_type <> event_type
    ),
    dim AS (
      SELECT user_id, state, vf,
             lead(vf) OVER (PARTITION BY user_id ORDER BY vf, event_id) AS vt
      FROM chg
    ),
    f AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id, d.state AS state_at_purchase
    FROM f JOIN dim d
      ON d.user_id = f.user_id AND f.ts >= d.vf
     AND (d.vt IS NULL OR f.ts < d.vt)
    """,
)
def q182_temporal_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (SCD2) dimension join: attach to every purchase event
    the user's state interval covering the purchase time — the
    point-in-time-correct enrich that a plain latest-value join gets
    WRONG for historical facts.

    The dimension is q161's interval table (small: one row per state
    CHANGE); the join is an equi join on user_id with the interval
    containment as a residual predicate — each fact probes only its
    own user's handful of intervals, never a time-theta across users.
    At 100 TB both sides hash-partition by user_id once; with the
    as-of operator (q19) this same query runs sort-merge without the
    residual."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ev.select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("vf"),
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("state"))
        )
    )
    dim = chg.select(
        "user_id",
        "state",
        "vf",
        F.lead("vf")
        .over(W.partitionBy("user_id").orderBy("vf", "event_id"))
        .alias("vt"),
    )
    f = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return (
        f.join(dim, "user_id")
        .filter(
            (F.col("ts") >= F.col("vf"))
            & (F.col("vt").isNull() | (F.col("ts") < F.col("vt")))
        )
        .select("event_id", "user_id", F.col("state").alias("state_at_purchase"))
    )


# ---------------------------------------------------------------------------
# q183 cohort LTV matrix
# ---------------------------------------------------------------------------


@query(
    "q183_cohort_ltv",
    oracle=f"""
    WITH first_seen AS (
      SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id
    ),
    p AS (
      SELECT f.user_id,
             date_trunc('week', f.t0) AS cohort_week,
             date_diff('week', date_trunc('week', f.t0),
                       date_trunc('week', e.ts)) AS week_no,
             e.value
      FROM events e JOIN first_seen f USING (user_id)
      WHERE e.event_type = 'purchase'
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           week_no,
           count(DISTINCT user_id) AS n_buyers,
           {o_rnd('sum(value)', 2)} AS revenue
    FROM p GROUP BY cohort_week, week_no
    """,
)
def q183_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: purchase revenue per (first-seen
    cohort week, weeks-since-first-seen) — the LTV curve finance
    projects payback from (q108's retention matrix with money instead
    of presence).

    First-seen is one user groupBy (broadcast back); the triangle is
    one partial-agg groupBy of cohort x week cells. Week arithmetic
    uses date_trunc-to-Monday in both engines."""
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(first_seen), "user_id")
        .select(
            "user_id",
            F.date_trunc("week", "t0").alias("cw"),
            (
                F.datediff(
                    F.date_trunc("week", "ts"), F.date_trunc("week", "t0")
                )
                / 7
            )
            .cast("long")
            .alias("week_no"),
            "value",
        )
    )
    return (
        p.groupBy(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"), "week_no"
        )
        .agg(
            F.countDistinct("user_id").alias("n_buyers"),
            prnd(F.sum("value"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q184 deterministic per-group sample
# ---------------------------------------------------------------------------

_Q184_K = 20


@query(
    "q184_group_hash_sample",
    oracle=f"""
    WITH r AS (
      SELECT event_id, event_type, user_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY {o_hash64('event_id')}, event_id) AS rk
      FROM events
    )
    SELECT event_id, event_type, user_id, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_Q184_K}
    """,
)
def q184_group_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group sample: top-20 rows per event type by
    portable-hash order — the "give me 20 random-looking examples of
    each class" debugging/labeling query, reproducible across engines,
    re-runs, and partitionings (unlike TABLESAMPLE / rand()).

    One rank window per group; at scale the hash-order rank is a
    top-k-per-key, which Spark executes with per-partition partial
    top-k before the final window when k is small (the q11 limit
    discipline)."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(
        hash64(F.col("event_id")), "event_id"
    )
    return (
        ev.select(
            "event_id",
            "event_type",
            "user_id",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= _Q184_K)
    )


# ---------------------------------------------------------------------------
# q190 subsample stability of the mean
# ---------------------------------------------------------------------------

_Q190_REPS = 16


@query(
    "q190_subsample_stability",
    oracle=f"""
    WITH reps AS (
      SELECT e.event_type, r.rep, e.value
      FROM events e
      CROSS JOIN (SELECT unnest(generate_series(0, {_Q190_REPS - 1})) AS rep) r
      WHERE ({o_hash64('e.event_id * 31 + r.rep')}) % 2 = 0
    ),
    m AS (
      SELECT event_type, rep, avg(value) AS mu, count(*) AS n
      FROM reps GROUP BY event_type, rep
    )
    SELECT event_type,
           count(*) AS n_reps,
           {o_rnd('avg(mu)', 6)} AS mean_of_means,
           {o_rnd('stddev_pop(mu)', 6)} AS se_subsample
    FROM m GROUP BY event_type
    """,
)
def q190_subsample_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subsample-stability (half-sampling) error estimate: 16
    DETERMINISTIC half-samples per event type (membership by portable
    hash of (event_id, replicate) — no RNG state, identical on any
    engine/partitioning), each replicate's mean, and the spread across
    replicates as the empirical standard error — the
    bootstrap-flavored uncertainty readout that survives reruns.

    The replicate axis is a 16-element generate_series cross join
    (fan-out 16x map-side, no shuffle until the groupBy); at scale
    replicate means partial-aggregate, so the exchange carries
    types x reps rows."""
    ev = table(spark, sf_dir, "events")
    reps = spark.range(_Q190_REPS).select(F.col("id").alias("rep"))
    j = ev.crossJoin(F.broadcast(reps)).filter(
        hash64(F.col("event_id") * 31 + F.col("rep")) % 2 == 0
    )
    m = j.groupBy("event_type", "rep").agg(
        F.avg("value").alias("mu"), F.count("*").alias("n")
    )
    return m.groupBy("event_type").agg(
        F.count("*").alias("n_reps"),
        prnd(F.avg("mu"), 6).alias("mean_of_means"),
        prnd(F.stddev_pop("mu"), 6).alias("se_subsample"),
    )


# ---------------------------------------------------------------------------
# q191 user engagement entropy
# ---------------------------------------------------------------------------


@query(
    "q191_user_entropy",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    t AS (SELECT user_id, sum(n) AS total FROM c GROUP BY user_id)
    SELECT c.user_id,
           CAST(t.total AS BIGINT) AS n_events,
           count(*) AS n_types,
           {o_rnd('-sum((CAST(c.n AS DOUBLE) / t.total) * ln(CAST(c.n AS DOUBLE) / t.total))', 6)} AS entropy
    FROM c JOIN t USING (user_id)
    GROUP BY c.user_id, t.total
    """,
)
def q191_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-diversity entropy per user: Shannon entropy of the
    user's event-type distribution — 0 for single-action accounts
    (bots, crawlers), ln(5) for perfectly mixed usage; the behavioral
    feature that separates breadth from volume.

    Two partial-agg groupBys on user-keyed counts (the per-user type
    histogram is at most |types| rows); the entropy fold happens on
    the count table, never the raw events."""
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    t = c.groupBy("user_id").agg(F.sum("n").alias("total"))
    p = F.col("n").cast("double") / F.col("total")
    return (
        c.join(t, "user_id")
        .groupBy("user_id", "total")
        .agg(
            F.count("*").alias("n_types"),
            prnd(-F.sum(p * F.log(p)), 6).alias("entropy"),
        )
        .select(
            "user_id",
            F.col("total").cast("long").alias("n_events"),
            "n_types",
            "entropy",
        )
    )


# ---------------------------------------------------------------------------
# q193 two-sample Kolmogorov-Smirnov statistic
# ---------------------------------------------------------------------------


@query(
    "q193_ks_test",
    oracle=f"""
    WITH g AS (
      SELECT event_type, value, event_id, user_id % 2 AS grp FROM events
    ),
    n AS (
      SELECT event_type,
             sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n0,
             sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1
      FROM g GROUP BY event_type
    ),
    r AS (
      SELECT g.event_type, g.grp, g.value, n.n0, n.n1,
             sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY g.event_type ORDER BY g.value, g.event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c0,
             sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY g.event_type ORDER BY g.value, g.event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1
      FROM g JOIN n USING (event_type)
    )
    SELECT event_type,
           CAST(max(n0) AS BIGINT) AS n_a,
           CAST(max(n1) AS BIGINT) AS n_b,
           {o_rnd('max(abs(CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1))', 6)} AS ks_stat
    FROM r GROUP BY event_type
    """,
)
def q193_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the parity
    cohorts per event type: max gap between the two empirical CDFs —
    the distribution-shift test that catches what q168's mean-based
    Welch t cannot (equal means, different shapes).

    The merged sample is sorted ONCE per group; both CDFs are running
    conditional counts over that sort, and the sup-gap is a plain max.
    The (value, event_id) tie-break pins the step order so the
    statistic is identical across engines (differences at ties are
    below one step height either way)."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    g = ev.select(
        "event_type", "value", "event_id", (F.col("user_id") % 2).alias("grp")
    )
    n = g.groupBy("event_type").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n1"),
    )
    cum = (
        W.partitionBy("event_type")
        .orderBy("value", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    r = g.join(F.broadcast(n), "event_type").select(
        "event_type",
        "n0",
        "n1",
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).over(cum).alias("c0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).over(cum).alias("c1"),
    )
    gap = F.abs(
        F.col("c0").cast("double") / F.col("n0")
        - F.col("c1").cast("double") / F.col("n1")
    )
    return r.groupBy("event_type").agg(
        F.max("n0").cast("long").alias("n_a"),
        F.max("n1").cast("long").alias("n_b"),
        prnd(F.max(gap), 6).alias("ks_stat"),
    )


# ---------------------------------------------------------------------------
# q194 population stability index (drift monitor)
# ---------------------------------------------------------------------------

_Q194_BINS = 10


@query(
    "q194_psi_drift",
    oracle=f"""
    WITH b AS (
      SELECT event_type, min(ts) AS t0, max(ts) AS t1 FROM events
      GROUP BY event_type
    ),
    halves AS (
      SELECT e.event_type, e.value,
             CASE WHEN epoch_us(e.ts) - epoch_us(b.t0)
                       < (epoch_us(b.t1) - epoch_us(b.t0)) // 2
                  THEN 0 ELSE 1 END AS half
      FROM events e JOIN b USING (event_type)
    ),
    fences AS (
      SELECT event_type, min(value) AS lo, max(value) AS hi
      FROM halves WHERE half = 0 GROUP BY event_type
    ),
    binned AS (
      SELECT h.event_type, h.half,
             least(greatest(CAST(floor((h.value - f.lo) / ((f.hi - f.lo) / {_Q194_BINS}.0)) AS BIGINT), 0), {_Q194_BINS - 1}) AS bin
      FROM halves h JOIN fences f USING (event_type)
    ),
    c AS (
      SELECT event_type, bin,
             sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) + 1 AS na,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) + 1 AS nb
      FROM binned GROUP BY event_type, bin
    ),
    t AS (
      SELECT event_type,
             sum(na) AS ta, sum(nb) AS tb FROM c GROUP BY event_type
    )
    SELECT c.event_type,
           {o_rnd('sum((CAST(c.na AS DOUBLE) / t.ta - CAST(c.nb AS DOUBLE) / t.tb) * ln((CAST(c.na AS DOUBLE) / t.ta) / (CAST(c.nb AS DOUBLE) / t.tb)))', 6)} AS psi
    FROM c JOIN t USING (event_type)
    GROUP BY c.event_type
    """,
)
def q194_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second halves
    of each event type's time range: bin the metric on fences from the
    FIRST half (the reference window, as a deployed model would),
    add-one-smooth the bin counts, and fold (p-q)*ln(p/q) — the
    standard model-monitoring drift score (<0.1 stable, >0.25 act).

    Time split in exact integer microseconds; fences broadcast; one
    binned groupBy + a per-type fold over 10 bins. The add-one smoothing
    keeps empty bins finite identically in both engines."""
    ev = table(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    halves = ev.join(F.broadcast(b), "event_type").select(
        "event_type",
        "value",
        F.when(
            F.unix_micros("ts") - F.unix_micros("t0")
            < F.floor(
                (F.unix_micros("t1") - F.unix_micros("t0")) / 2
            ).cast("long"),
            0,
        )
        .otherwise(1)
        .alias("half"),
    )
    fences = (
        halves.filter(F.col("half") == 0)
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    )
    width = (F.col("hi") - F.col("lo")) / float(_Q194_BINS)
    binned = halves.join(F.broadcast(fences), "event_type").select(
        "event_type",
        "half",
        F.least(
            F.greatest(
                F.floor((F.col("value") - F.col("lo")) / width).cast("long"),
                F.lit(0).cast("long"),
            ),
            F.lit(_Q194_BINS - 1).cast("long"),
        ).alias("bin"),
    )
    c = binned.groupBy("event_type", "bin").agg(
        (F.sum(F.when(F.col("half") == 0, 1).otherwise(0)) + 1).alias("na"),
        (F.sum(F.when(F.col("half") == 1, 1).otherwise(0)) + 1).alias("nb"),
    )
    t = c.groupBy("event_type").agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb")
    )
    p = F.col("na").cast("double") / F.col("ta")
    q = F.col("nb").cast("double") / F.col("tb")
    return (
        c.join(F.broadcast(t), "event_type")
        .groupBy("event_type")
        .agg(prnd(F.sum((p - q) * F.log(p / q)), 6).alias("psi"))
    )


# ---------------------------------------------------------------------------
# q196 robust z-score (median / MAD)
# ---------------------------------------------------------------------------


def _q196_median_expr(val: str, tag: str) -> str:
    lo_rn = f"CAST(floor(0.5 * (n_{tag} - 1)) AS BIGINT) + 1"
    hi_rn = f"CAST(ceil(0.5 * (n_{tag} - 1)) AS BIGINT) + 1"
    return (
        f"max(CASE WHEN rn_{tag} = {lo_rn} THEN {val} END) + "
        f"(0.5 * (n2_{tag} - 1) - floor(0.5 * (n2_{tag} - 1))) * "
        f"(max(CASE WHEN rn_{tag} = {hi_rn} THEN {val} END) - "
        f"max(CASE WHEN rn_{tag} = {lo_rn} THEN {val} END))"
    )


@query(
    "q196_robust_zscore",
    oracle=f"""
    WITH r1 AS (
      SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn_m,
             count(*) OVER (PARTITION BY event_type) AS n_m
      FROM events
    ),
    med AS (
      SELECT event_type, CAST(max(n_m) AS BIGINT) AS n2_m0,
             {_q196_median_expr('value', 'm').replace('n2_m', 'max(n_m)')} AS med
      FROM r1 GROUP BY event_type
    ),
    d AS (
      SELECT r.event_type, r.event_id, r.value, m.med,
             abs(r.value - m.med) AS adev
      FROM r1 r JOIN med m USING (event_type)
    ),
    r2 AS (
      SELECT event_type, event_id, value, med, adev,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY adev, event_id) AS rn_d,
             count(*) OVER (PARTITION BY event_type) AS n_d
      FROM d
    ),
    mad AS (
      SELECT event_type,
             {_q196_median_expr('adev', 'd').replace('n2_d', 'max(n_d)')} AS mad
      FROM r2 GROUP BY event_type
    )
    SELECT d.event_id, d.event_type,
           {o_rnd('0.6745 * (d.value - d.med) / mad.mad', 4)} AS robust_z,
           CAST(abs(0.6745 * (d.value - d.med) / mad.mad) > 3.5 AS INT) AS is_outlier
    FROM d JOIN mad USING (event_type)
    """,
)
def q196_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust z-score: 0.6745*(x - median)/MAD per event type — the
    outlier screen that survives the outliers themselves (mean/std
    z-scores explode exactly when contamination appears; median/MAD
    have a 50% breakdown point).

    Median and MAD are both exact interpolated order statistics
    (q156's machinery) — one sorted window for the value, a second for
    the absolute deviations (which REQUIRES the median first; that
    sequencing is the op). Both medians broadcast back; the final
    score is a map-side expression."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")

    def interp_median(df, val_col, part_col="event_type"):
        w = W.partitionBy(part_col).orderBy(val_col, "event_id")
        r = df.select(
            part_col,
            "event_id",
            val_col,
            F.row_number().over(w).alias("rn"),
            F.count("*").over(W.partitionBy(part_col)).alias("n"),
        )
        pos_row = F.lit(0.5) * (F.col("n") - 1)
        lo_rn = F.floor(pos_row).cast("long") + 1
        hi_rn = F.ceil(pos_row).cast("long") + 1
        a = r.groupBy(part_col).agg(
            F.max("n").cast("long").alias("n_rows"),
            F.max(F.when(F.col("rn") == lo_rn, F.col(val_col))).alias("vlo"),
            F.max(F.when(F.col("rn") == hi_rn, F.col(val_col))).alias("vhi"),
        )
        pos = F.lit(0.5) * (F.col("n_rows") - 1)
        return a.select(
            part_col,
            (
                F.col("vlo")
                + (pos - F.floor(pos)) * (F.col("vhi") - F.col("vlo"))
            ).alias("m"),
        )

    med = interp_median(ev, "value").withColumnRenamed("m", "med")
    d = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = interp_median(d, "adev").withColumnRenamed("m", "mad")
    rz = 0.6745 * (F.col("value") - F.col("med")) / F.col("mad")
    return d.join(F.broadcast(mad), "event_type").select(
        "event_id",
        "event_type",
        prnd(rz, 4).alias("robust_z"),
        (F.abs(rz) > 3.5).cast("int").alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# q199 column profile
# ---------------------------------------------------------------------------


@query(
    "q199_column_profile",
    oracle="""
    SELECT 'event_id' AS col, count(*) AS n,
           count(*) - count(event_id) AS n_null,
           count(DISTINCT event_id) AS n_distinct
    FROM events
    UNION ALL
    SELECT 'user_id', count(*), count(*) - count(user_id),
           count(DISTINCT user_id) FROM events
    UNION ALL
    SELECT 'event_type', count(*), count(*) - count(event_type),
           count(DISTINCT event_type) FROM events
    UNION ALL
    SELECT 'value', count(*), count(*) - count(value),
           count(DISTINCT value) FROM events
    UNION ALL
    SELECT 'props', count(*), count(*) - count(props),
           count(DISTINCT props) FROM events
    """,
)
def q199_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile: row/null/distinct counts for every
    column of the events table in one long-format result — the
    schema-drift and completeness monitor every ingestion pipeline
    publishes next to its tables.

    Spark computes ALL columns' profiles in a SINGLE aggregate pass
    (one scan, count + count(col) + approx-exact countDistinct per
    column as sibling aggregates), then unpivots the one result row —
    where the SQL formulation re-states it as a UNION of per-column
    scans, the plan here reads the data once."""
    ev = table(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "value", "props"]
    aggs = [F.count("*").alias("n")]
    for c in cols:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    one = ev.agg(*aggs)
    legs = [
        one.select(
            F.lit(c).alias("col"),
            F.col("n").alias("n"),
            (F.col("n") - F.col(f"nn_{c}")).alias("n_null"),
            F.col(f"nd_{c}").alias("n_distinct"),
        )
        for c in cols
    ]
    out = legs[0]
    for l in legs[1:]:
        out = out.unionByName(l)
    return out


# ---------------------------------------------------------------------------
# q203 autocorrelation periodicity scan
# ---------------------------------------------------------------------------

_Q203_MAX_LAG = 7


@query(
    "q203_autocorrelation",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    lags AS (
      SELECT a.event_type, l.lag,
             count(*) AS np,
             sum(CAST(a.n AS DOUBLE)) AS sx, sum(CAST(b.n AS DOUBLE)) AS sy,
             sum(CAST(a.n AS DOUBLE) * b.n) AS sxy,
             sum(CAST(a.n AS DOUBLE) * a.n) AS sxx,
             sum(CAST(b.n AS DOUBLE) * b.n) AS syy
      FROM daily a
      CROSS JOIN (SELECT unnest(generate_series(1, {_Q203_MAX_LAG})) AS lag) l
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day + to_days(CAST(l.lag AS INTEGER))
      GROUP BY a.event_type, l.lag
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag, np AS n_pairs,
           {o_rnd('(sxy - sx * sy / np) / sqrt((sxx - sx * sx / np) * (syy - sy * sy / np))', 4)} AS acf
    FROM lags
    """,
)
def q203_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation periodicity scan: Pearson ACF of the daily
    event-count series at lags 1..7 per event type — a weekly-cycle
    peak at lag 7 is the data-driven justification for q174's seasonal
    period (and its absence kills the decomposition's premise).

    The daily series is tiny (types x days) after one partial-agg
    groupBy; each lag is an equi join on (type, day+lag) over that
    aggregate — the 7-lag fan-out multiplies the AGGREGATE, never the
    events. Algebraic correlation sums per (type, lag)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    lags = spark.range(1, _Q203_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a = daily.select(
        "event_type",
        "day",
        F.col("n").cast("double").alias("x"),
    )
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("day").alias("day_b"),
        F.col("n").cast("double").alias("y"),
    )
    j = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("et_b") == F.col("event_type"))
            & (F.col("day_b") == F.date_add("day", F.col("lag").cast("int"))),
        )
    )
    g = j.groupBy("event_type", "lag").agg(
        F.count("*").alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("np")
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("np")
    vy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("np")
    return g.select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        F.col("np").alias("n_pairs"),
        prnd(cov / F.sqrt(vx * vy), 4).alias("acf"),
    )


# ---------------------------------------------------------------------------
# q207 rapid-duplicate event screen
# ---------------------------------------------------------------------------

_Q207_WINDOW_US = 60_000_000  # 60 seconds


@query(
    "q207_rapid_duplicates",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type, event_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT user_id, event_type,
           count(*) AS n_events,
           count(*) FILTER (WHERE gap_us IS NOT NULL
                            AND gap_us <= {_Q207_WINDOW_US}) AS n_rapid_dups,
           {o_rnd(f'CAST(count(*) FILTER (WHERE gap_us IS NOT NULL AND gap_us <= {_Q207_WINDOW_US}) AS DOUBLE) / count(*)', 6)} AS dup_rate
    FROM seq GROUP BY user_id, event_type
    HAVING count(*) FILTER (WHERE gap_us IS NOT NULL
                            AND gap_us <= {_Q207_WINDOW_US}) > 0
    """,
)
def q207_rapid_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rapid-duplicate screen: same (user, event type) re-fired within
    60 seconds of the previous occurrence — double-clicks, retry
    storms, at-least-once re-delivery; the batch twin of the streaming
    dropDuplicatesWithinWatermark path (streaming/pipelines.py), so
    both layers agree on what 'duplicate' means.

    One lag over the (user, type) sort in exact integer microseconds;
    the per-key aggregate emits only offending keys (HAVING), keeping
    the report heavy-hitter-sized."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us"),
    )
    rapid = F.count(
        F.when(
            F.col("gap_us").isNotNull()
            & (F.col("gap_us") <= _Q207_WINDOW_US),
            1,
        )
    )
    return (
        seq.groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            rapid.alias("n_rapid_dups"),
            prnd(rapid.cast("double") / F.count("*"), 6).alias("dup_rate"),
        )
        .filter(F.col("n_rapid_dups") > 0)
    )


# ---------------------------------------------------------------------------
# q208 sample-ratio mismatch check
# ---------------------------------------------------------------------------


@query(
    "q208_srm_check",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             count(DISTINCT CASE WHEN user_id % 2 = 0 THEN user_id END) AS n_a,
             count(DISTINCT CASE WHEN user_id % 2 = 1 THEN user_id END) AS n_b
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           {o_rnd('CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)', 6)} AS chi2,
           CAST(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b) > 3.841 AS INT) AS srm_flag
    FROM c
    """,
)
def q208_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch check: distinct-user counts per cohort
    against the designed 50/50 split, chi-square with 1 dof
    ((n_a-n_b)^2/(n_a+n_b)), flagged past the 0.05 critical value
    3.841 — the FIRST validity gate of any A/B readout (a biased
    assignment invalidates q168/q193 before they run).

    One partial-distinct aggregate per type; all remaining arithmetic
    on the cohort-count table."""
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.countDistinct(
            F.when(F.col("user_id") % 2 == 0, F.col("user_id"))
        ).alias("n_a"),
        F.countDistinct(
            F.when(F.col("user_id") % 2 == 1, F.col("user_id"))
        ).alias("n_b"),
    )
    chi2 = (
        ((F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b")))
        .cast("double")
        / (F.col("n_a") + F.col("n_b"))
    )
    return c.select(
        "event_type",
        "n_a",
        "n_b",
        prnd(chi2, 6).alias("chi2"),
        (chi2 > 3.841).cast("int").alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# q213 burstiness (Fano factor)
# ---------------------------------------------------------------------------


@query(
    "q213_burstiness",
    oracle=f"""
    WITH m AS (
      SELECT event_type, date_trunc('minute', ts) AS minute, count(*) AS n
      FROM events GROUP BY event_type, date_trunc('minute', ts)
    ),
    s AS (
      SELECT event_type,
             count(*) AS n_minutes,
             avg(CAST(n AS DOUBLE)) AS mu,
             var_pop(CAST(n AS DOUBLE)) AS v
      FROM m GROUP BY event_type
    )
    SELECT event_type, n_minutes,
           {o_rnd('mu', 6)} AS mean_per_min,
           {o_rnd('v / mu', 6)} AS fano_factor,
           CAST(v / mu > 1.5 AS INT) AS is_bursty
    FROM s
    """,
)
def q213_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness via the Fano factor: variance-to-mean ratio of
    per-minute event counts — 1.0 for a Poisson (memoryless) stream,
    >1 for bursty arrivals (bot storms, batch replays), <1 for
    pacemaker-regular traffic. One minute-bucket partial-agg groupBy,
    then moments over the tiny (type, minute) table; a streaming ops
    readout that tells you whether rate limits or queues are shaping
    your traffic."""
    ev = table(spark, sf_dir, "events")
    m = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("minute")
    ).agg(F.count("*").alias("n"))
    s = m.groupBy("event_type").agg(
        F.count("*").alias("n_minutes"),
        F.avg(F.col("n").cast("double")).alias("mu"),
        F.var_pop(F.col("n").cast("double")).alias("v"),
    )
    fano = F.col("v") / F.col("mu")
    return s.select(
        "event_type",
        "n_minutes",
        prnd("mu", 6).alias("mean_per_min"),
        prnd(fano, 6).alias("fano_factor"),
        (fano > 1.5).cast("int").alias("is_bursty"),
    )


# ---------------------------------------------------------------------------
# q217 weekly churn / retention flow
# ---------------------------------------------------------------------------


@query(
    "q217_weekly_churn",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    ),
    nxt AS (
      SELECT a.week,
             count(*) AS n_active,
             count(b.user_id) AS n_retained
      FROM uw a LEFT JOIN uw b
        ON b.user_id = a.user_id
       AND b.week = a.week + INTERVAL 7 DAY
      GROUP BY a.week
    )
    SELECT strftime(week, '%Y-%m-%d') AS week,
           n_active, n_retained,
           n_active - n_retained AS n_churned,
           floor((CAST(n_active - n_retained AS DOUBLE) / n_active) * 1000000.0 + 0.5001) / 1000000.0 AS churn_rate
    FROM nxt
    """,
)
def q217_weekly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn flow: of the users active in week w, how many
    return in w+1 — the retention counterpart q108's cohort matrix
    doesn't give directly (it follows COHORTS; this follows the whole
    active base week to week).

    Active user-weeks are one DISTINCT aggregate; the flow is a
    self equi-join on (user, week+7d) over that SMALL table. At scale
    the user-week table is the retention workhorse — every
    churn/resurrection/new-user split is a variant of this join."""
    ev = table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    b = uw.select(
        F.col("user_id").alias("uid_b"), F.col("week").alias("week_b")
    )
    j = uw.join(
        b,
        (F.col("uid_b") == F.col("user_id"))
        & (F.col("week_b") == F.col("week") + F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    n_act = F.count("*")
    n_ret = F.count("uid_b")
    return (
        j.groupBy(F.date_format("week", "yyyy-MM-dd").alias("week"))
        .agg(
            n_act.alias("n_active"),
            n_ret.alias("n_retained"),
            (n_act - n_ret).alias("n_churned"),
            prnd(
                (n_act - n_ret).cast("double") / n_act, 6
            ).alias("churn_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q223 CDC log replay -> snapshot (latest-wins upsert with tombstones)
# ---------------------------------------------------------------------------


@query(
    "q223_cdc_snapshot",
    oracle=f"""
    WITH log AS (
      SELECT user_id, ts, event_id, value,
             CASE event_type WHEN 'signup' THEN 'I'
                             WHEN 'error'  THEN 'D'
                             ELSE 'U' END AS op
      FROM events
    ),
    ranked AS (
      SELECT user_id, ts, event_id, value, op,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_ops
      FROM log
    )
    SELECT user_id, CAST(n_ops AS BIGINT) AS n_ops, op AS last_op,
           CAST(op <> 'D' AS INT) AS is_live,
           CASE WHEN op <> 'D' THEN {o_rnd('value', 6)} END AS last_value,
           strftime(ts, '%Y-%m-%dT%H:%M:%S') AS last_ts
    FROM ranked WHERE rn = 1
    """,
)
def q223_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture replay: treat the event stream as an
    ordered upsert/delete log per key (synthetic op mapping: signup ->
    INSERT, error -> DELETE tombstone, anything else -> UPDATE) and
    materialize the latest-wins snapshot — the batch twin of the
    streaming PK-upsert sink (streaming/sinks.py merge-on-read view),
    and the core of every log-to-table compaction at scale.

    One window per key on (ts, event_id) — deterministic total order
    including same-timestamp ties — so the snapshot is a single
    id-shuffle regardless of log length; tombstones survive into the
    output as is_live=0 rows (so downstream DELETE propagation is
    auditable) with their attributes nulled."""
    ev = table(spark, sf_dir, "events")
    log = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )
    from pyspark.sql import Window as W

    pk = W.partitionBy("user_id")
    ranked = log.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        "op",
        F.row_number()
        .over(pk.orderBy(F.col("ts").desc(), F.col("event_id").desc()))
        .alias("rn"),
        F.count("*").over(pk).alias("n_ops"),
    )
    live = F.col("op") != "D"
    return ranked.filter(F.col("rn") == 1).select(
        "user_id",
        F.col("n_ops").cast("long").alias("n_ops"),
        F.col("op").alias("last_op"),
        live.cast("int").alias("is_live"),
        F.when(live, prnd("value", 6)).alias("last_value"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# q224 rolling active users (DAU / 7d / 28d) + stickiness
# ---------------------------------------------------------------------------


@query(
    "q224_active_users",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           count(DISTINCT CASE WHEN u.day = d.day THEN u.user_id END) AS dau,
           count(DISTINCT CASE WHEN u.day >= d.day - 6 THEN u.user_id END) AS wau7,
           count(DISTINCT u.user_id) AS mau28,
           {o_rnd("CAST(count(DISTINCT CASE WHEN u.day = d.day THEN u.user_id END) AS DOUBLE) / count(DISTINCT u.user_id)", 6)} AS stickiness
    FROM days d JOIN ud u ON u.day BETWEEN d.day - 27 AND d.day
    GROUP BY d.day
    """,
)
def q224_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement: daily / trailing-7-day / trailing-28-day
    distinct active users and the DAU/MAU stickiness ratio — the
    growth dashboard's headline series, and the canonical "COUNT
    DISTINCT over a sliding window" problem that window frames cannot
    express (distinct doesn't decompose).

    The oracle states it as the range self-join; the Spark plan
    refuses both the range join and the 28x re-count: events collapse
    once to the (user, day) distinct table, each user-day EXPLODES its
    28 contribution offsets, and one groupBy keeps min(offset) per
    (target-day, user) — membership in the 7d window is min_off <= 6,
    DAU is min_off = 0, so all three distinct counts come from ONE
    pass with conditional aggregation. Work is 28 x |user-days| tiny
    rows, linear at any scale; a semi join restricts targets to
    observed days so both engines emit the same spine."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    days = ud.select("day").distinct()
    contrib = ud.select(
        "user_id",
        "day",
        F.explode(F.sequence(F.lit(0), F.lit(27))).alias("off"),
    ).select(
        "user_id", F.date_add("day", F.col("off")).alias("tday"), "off"
    )
    member = (
        contrib.join(
            F.broadcast(days.select(F.col("day").alias("tday"))), "tday"
        )
        .groupBy("tday", "user_id")
        .agg(F.min("off").alias("min_off"))
    )
    dau = F.count(F.when(F.col("min_off") == 0, 1))
    mau = F.count("*")
    return member.groupBy(
        F.date_format("tday", "yyyy-MM-dd").alias("day")
    ).agg(
        dau.alias("dau"),
        F.count(F.when(F.col("min_off") <= 6, 1)).alias("wau7"),
        mau.alias("mau28"),
        prnd(dau.cast("double") / mau, 6).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# q225 exact heavy hitters via Misra-Gries candidate prefilter
# ---------------------------------------------------------------------------

_Q225_K = 150  # counters per task; threshold = N / K


@query(
    "q225_heavy_hitters",
    oracle=f"""
    WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM events)
    SELECT e.user_id,
           CAST(count(*) AS BIGINT) AS freq,
           {o_rnd('count(*) / any_value(n.n_total)', 6)} AS share
    FROM events e CROSS JOIN n
    GROUP BY e.user_id
    HAVING count(*) > any_value(n.n_total) / {_Q225_K}
    """,
)
def q225_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (frequency > N/150) with bounded memory:
    each task runs a k-counter Misra-Gries summary over its partition
    (operators.sketches.misra_gries_candidates), the union of
    survivors — a guaranteed superset of every global heavy hitter,
    by pigeonhole over partitions — is broadcast back as a semi-join
    prefilter, and one aggregation over ONLY candidate rows produces
    exact counts that discard the false positives.

    The oracle is the plain full groupBy + HAVING; the Spark plan
    exists because at 100 TB a full count of a high-cardinality key
    is a massive shuffle for a top-heavy answer, while this shape
    shuffles O(tasks x k) candidate keys + the semi-joined slice.
    Candidates depend on partitioning; the EXACT final output does
    not (superset property holds under any split)."""
    ev = table(spark, sf_dir, "events")
    from ..operators.sketches import misra_gries_candidates

    cands = misra_gries_candidates(ev, "user_id", _Q225_K).distinct()
    hits = ev.join(F.broadcast(cands), "user_id", "left_semi")
    n_total = ev.groupBy().agg(
        F.count("*").cast("double").alias("n_total")
    )
    exact = hits.groupBy("user_id").agg(F.count("*").alias("freq"))
    return (
        exact.crossJoin(F.broadcast(n_total))
        .filter(F.col("freq") > F.col("n_total") / _Q225_K)
        .select(
            "user_id",
            F.col("freq").cast("long").alias("freq"),
            prnd(F.col("freq") / F.col("n_total"), 6).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# q234 last-touch attribution (bounded backward as-of join)
# ---------------------------------------------------------------------------

_Q234_WINDOW_MIN = 30


@query(
    "q234_attribution_asof",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
      QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                 ORDER BY event_id DESC) = 1
    ),
    pur AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           {o_rnd('p.value', 6)} AS purchase_value,
           c.event_id AS click_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) // 1000000 AS gap_s
    FROM pur p LEFT JOIN LATERAL (
      SELECT event_id, ts FROM clicks c
      WHERE c.user_id = p.user_id
        AND c.ts <= p.ts
        AND c.ts >= p.ts - INTERVAL {_Q234_WINDOW_MIN} MINUTE
      ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
    ) c ON true
    """,
)
def q234_attribution_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase joined to the user's
    most recent click within the preceding 30 minutes — the
    marketing-attribution primitive, and a BOUNDED backward as-of
    join (q163's cogroup as-of carries state indefinitely; this one
    expires it).

    The oracle states the per-purchase LATERAL subquery; the Spark
    plan is the tagged-union carry-forward as-of
    (operators/asof.py: one shuffle on user, one sort, last_value
    IGNORE NULLS — O(n log n) total, never purchases x clicks), with
    the 30-minute bound applied as a post-filter that nulls expired
    carries. Clicks are deduped to one per (user, ts) first so the
    carry is deterministic under timestamp ties."""
    from pyspark.sql import Window as W

    from ..operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "ts",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = asof_join(
        pur, clicks, on="ts", by="user_id", value_cols=["click_id", "click_ts"]
    )
    in_window = F.col("right_click_ts") >= (
        F.col("ts") - F.expr(f"INTERVAL {_Q234_WINDOW_MIN} MINUTES")
    )
    return joined.select(
        "event_id",
        "user_id",
        prnd("value", 6).alias("purchase_value"),
        F.when(in_window, F.col("right_click_id")).alias("click_id"),
        F.when(
            in_window,
            (F.unix_micros("ts") - F.unix_micros("right_click_ts"))
            .cast("long")
            / F.lit(1000000),
        )
        .cast("long")
        .alias("gap_s"),
    )


# ---------------------------------------------------------------------------
# q235 time-weighted average (TWAP over irregular observations)
# ---------------------------------------------------------------------------


@query(
    "q235_twap",
    oracle=f"""
    WITH obs AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id, value,
             lead(epoch_us(ts)) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                      ORDER BY ts, event_id) - epoch_us(ts) AS w_us
      FROM events
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_obs,
           {o_rnd('sum(value * w_us) / sum(w_us)', 6)} AS twap,
           {o_rnd('avg(value)', 6)} AS plain_avg
    FROM obs
    WHERE w_us IS NOT NULL
    GROUP BY event_type, day
    HAVING sum(w_us) > 0
    """,
)
def q235_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of an IRREGULARLY-sampled series (per
    event type per day): each observation holds until the next one,
    so its weight is the gap to the successor — the estimator that
    de-biases burst sampling, where the plain mean double-counts
    whatever was happening during the burst (both are emitted for
    contrast). The standard reduction for sensor/quote data whose
    arrival rate correlates with its value.

    One lead() on the shared (type, day) sort — weights in exact
    integer microseconds — then a single partial-agg groupBy. Ties on
    ts get zero weight via the (ts, event_id) total order; the last
    observation of each day has no successor and drops out (both
    engines agree by construction)."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    grp = W.partitionBy("event_type", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    obs = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        "value",
        (F.lead(F.unix_micros("ts")).over(grp) - F.unix_micros("ts")).alias(
            "w_us"
        ),
    ).filter(F.col("w_us").isNotNull())
    return (
        obs.groupBy("event_type", F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_obs"),
            prnd(
                F.sum(F.col("value") * F.col("w_us"))
                / F.sum("w_us"),
                6,
            ).alias("twap"),
            prnd(F.avg("value"), 6).alias("plain_avg"),
            F.sum("w_us").alias("_sw"),
        )
        .filter(F.col("_sw") > 0)
        .drop("_sw")
    )


# ---------------------------------------------------------------------------
# q236 RFM segmentation (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------------


@query(
    "q236_rfm_segments",
    oracle=f"""
    WITH p AS (
      SELECT user_id,
             max(CAST(ts AS DATE)) AS last_day,
             CAST(count(*) AS BIGINT) AS freq,
             sum(value) AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    anchor AS (SELECT max(last_day) AS a FROM p),
    scored AS (
      SELECT user_id,
             CAST(a - last_day AS BIGINT) AS recency_days,
             freq, monetary,
             ntile(5) OVER (ORDER BY a - last_day, user_id) AS r_score,
             ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_score,
             ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m_score
      FROM p CROSS JOIN anchor
    )
    SELECT user_id, recency_days, freq,
           {o_rnd('monetary', 6)} AS monetary,
           CAST(r_score AS INTEGER) AS r_score,
           CAST(f_score AS INTEGER) AS f_score,
           CAST(m_score AS INTEGER) AS m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment
    FROM scored
    """,
)
def q236_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per purchasing user, days since
    last purchase (recency, anchored at the corpus's last purchase
    day), purchase count (frequency), and spend (monetary), each cut
    into quintiles by ntile(5) — the classic CRM segmentation grid
    ('555' = best customers). Deterministic: every ntile ordering is
    totalized with a user_id tie-break so both engines cut identical
    quintile boundaries.

    One purchase-filtered groupBy to user grain, a 1-row anchor
    broadcast, then three stacked global quintile cuts through
    operators/globalrank.with_global_ntile — each is a range
    exchange + per-partition rank + O(partitions) offsets, so the
    user-grain table never sits in a single-task ntile window at
    scale (the r6 routing of VERDICT r5's record-grain window
    class)."""
    ev = table(spark, sf_dir, "events")
    from ..operators.globalrank import with_global_ntile

    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_day"),
            F.count("*").cast("long").alias("freq"),
            F.sum("value").alias("monetary"),
        )
    )
    anchor = p.agg(F.max("last_day").alias("a"))
    base = p.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.datediff(F.col("a"), F.col("last_day"))
        .cast("long")
        .alias("recency_days"),
        "freq",
        "monetary",
    )
    scored = with_global_ntile(
        base, ["recency_days", "user_id"], 5, "r_score"
    )
    scored = with_global_ntile(
        scored, [F.col("freq").desc(), "user_id"], 5, "f_score"
    )
    scored = with_global_ntile(
        scored, [F.col("monetary").desc(), "user_id"], 5, "m_score"
    )
    return scored.select(
        "user_id",
        "recency_days",
        "freq",
        prnd("monetary", 6).alias("monetary"),
        F.col("r_score").cast("int").alias("r_score"),
        F.col("f_score").cast("int").alias("f_score"),
        F.col("m_score").cast("int").alias("m_score"),
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    )


# ---------------------------------------------------------------------------
# q240 probability calibration bins (reliability diagram / ECE inputs)
# ---------------------------------------------------------------------------


@query(
    "q240_calibration_bins",
    oracle=f"""
    WITH scored AS (
      SELECT {o_rnd('1.0 / (1.0 + exp(-(value - 50.0) / 25.0))', 6)} AS p,
             CAST(event_type = 'purchase' AS INT) AS y
      FROM events
    ),
    binned AS (
      SELECT least(CAST(floor(p * 10.0) AS BIGINT), 9) AS bin, p, y
      FROM scored
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           {o_rnd('avg(p)', 6)} AS avg_pred,
           {o_rnd('avg(CAST(y AS DOUBLE))', 6)} AS actual_rate,
           {o_rnd('abs(avg(p) - avg(CAST(y AS DOUBLE)))', 6)} AS gap
    FROM binned GROUP BY bin
    """,
)
def q240_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for a probabilistic classifier: score
    every event with a sigmoid of its value (the stand-in model),
    bucket predictions into 10 equal-width bins, and compare each
    bin's mean predicted probability against the observed purchase
    rate — the per-bin gaps are exactly the terms of Expected
    Calibration Error, the metric that catches a model that RANKS
    well but lies about its confidence (q167/q239 never would).

    Pure map scoring + one 10-group partial aggregation — a single
    scan at any scale. Predictions are rounded to the portable grid
    BEFORE binning so a boundary-straddling ulp can't put the two
    engines in different bins."""
    ev = table(spark, sf_dir, "events")
    p = prnd(
        1.0 / (1.0 + F.exp(-(F.col("value") - 50.0) / 25.0)), 6
    )
    scored = ev.select(
        p.alias("p"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("p") * 10.0).cast("long"), F.lit(9).cast("long")).alias("bin"),
        "p",
        "y",
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        prnd(F.avg("p"), 6).alias("avg_pred"),
        prnd(F.avg(F.col("y").cast("double")), 6).alias("actual_rate"),
        prnd(F.abs(F.avg("p") - F.avg(F.col("y").cast("double"))), 6).alias("gap"),
    )


# ---------------------------------------------------------------------------
# q247 exact ROC AUC via rank statistics (Mann-Whitney U)
# ---------------------------------------------------------------------------

_Q247_P = "1.0 / (1.0 + exp(-(value - 50.0) / 25.0))"


@query(
    "q247_auc_roc",
    oracle=f"""
    WITH scored AS (
      SELECT {o_rnd(_Q247_P, 6)} AS p,
             CAST(event_type = 'purchase' AS INT) AS y
      FROM events
    ),
    g AS (
      SELECT p, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(y) AS BIGINT) AS pos
      FROM scored GROUP BY p
    ),
    rk AS (
      SELECT p, cnt, pos,
             coalesce(sum(cnt) OVER (ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM g
    ),
    s AS (
      SELECT sum(pos * (below + (cnt + 1.0) / 2.0)) AS rank_sum_pos,
             sum(pos) AS n_pos, sum(cnt - pos) AS n_neg
      FROM rk
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           {o_rnd('(rank_sum_pos - n_pos * (n_pos + 1.0) / 2.0) / (n_pos * n_neg)', 6)} AS auc
    FROM s
    """,
)
def q247_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the q240 stand-in classifier (purchase vs
    rest) via the Mann-Whitney rank identity: AUC = (rank-sum of
    positives - n_pos(n_pos+1)/2) / (n_pos * n_neg), with midrank tie
    handling — the threshold-free ranking metric that completes the
    eval suite (q167 P/R at k, q239 NDCG, q240 calibration; AUC is
    what you compare MODELS by).

    No per-row global sort: scores collapse to per-score groups
    first (the portable 6-digit grid bounds distinct scores), midranks
    come from one running sum over that group table — routed through
    operators/globalrank (r5) so even the grid table (up to ~1e6
    distinct scores) never sits in a single-task window — and
    everything stays integer-exact until the final division."""
    ev = table(spark, sf_dir, "events")
    from ..operators.globalrank import with_global_row_stats

    scored = ev.select(
        prnd(1.0 / (1.0 + F.exp(-(F.col("value") - 50.0) / 25.0)), 6).alias(
            "p"
        ),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    g = scored.groupBy("p").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    rk = with_global_row_stats(
        g, ["p"], cum_sums={"_cum_cnt": "cnt"}
    ).select(
        "p",
        "cnt",
        "pos",
        (F.col("_cum_cnt") - F.col("cnt")).alias("below"),
    )
    s = rk.agg(
        F.sum(
            F.col("pos") * (F.col("below") + (F.col("cnt") + 1.0) / 2.0)
        ).alias("rank_sum_pos"),
        F.sum("pos").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos")).alias("n_neg"),
    )
    return s.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        prnd(
            (
                F.col("rank_sum_pos")
                - F.col("n_pos") * (F.col("n_pos") + 1.0) / 2.0
            )
            / (F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# q248 gains / lift deciles (campaign-targeting eval)
# ---------------------------------------------------------------------------


@query(
    "q248_gain_deciles",
    oracle=f"""
    WITH scored AS (
      SELECT event_id, {o_rnd(_Q247_P, 6)} AS p,
             CAST(event_type = 'purchase' AS INT) AS y
      FROM events
    ),
    dec AS (
      SELECT y, ntile(10) OVER (ORDER BY p DESC, event_id) AS decile
      FROM scored
    ),
    d AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos
      FROM dec GROUP BY decile
    ),
    t AS (
      SELECT decile, n, n_pos,
             sum(n_pos) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
             sum(n_pos) OVER () AS tot_pos,
             sum(n) OVER () AS tot
      FROM d
    )
    SELECT CAST(decile AS INTEGER) AS decile, n, n_pos,
           {o_rnd('CAST(n_pos AS DOUBLE) / n', 6)} AS response_rate,
           {o_rnd('CAST(cum_pos AS DOUBLE) / tot_pos', 6)} AS cum_capture,
           {o_rnd('(CAST(n_pos AS DOUBLE) / n) / (CAST(tot_pos AS DOUBLE) / tot)', 6)} AS lift
    FROM t
    """,
)
def q248_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift table: rank the population by model
    score, cut into deciles, and report each decile's response rate,
    cumulative capture of all positives, and lift over the base rate
    — the campaign-targeting readout ('mail the top 2 deciles, get
    54% of buyers') that AUC (q247) summarizes but cannot action.

    The decile cut runs over a totalized (score desc, event_id) order
    through operators/globalrank.with_global_ntile — range exchange +
    local rank + O(partitions) offsets, never a single-task ntile
    window over ALL scored events (the r6 routing of VERDICT r5's
    record-grain window class); everything after is one 10-row
    groupBy + running sums over the decile table."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    from ..operators.globalrank import with_global_ntile

    scored = ev.select(
        "event_id",
        prnd(1.0 / (1.0 + F.exp(-(F.col("value") - 50.0) / 25.0)), 6).alias(
            "p"
        ),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    dec = with_global_ntile(
        scored, [F.col("p").desc(), "event_id"], 10, "decile"
    ).select("y", "decile")
    d = dec.groupBy("decile").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    whole = W.orderBy("decile").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    t = d.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n_pos").over(cum).alias("cum_pos"),
        F.sum("n_pos").over(whole).alias("tot_pos"),
        F.sum("n").over(whole).alias("tot"),
    )
    rate = F.col("n_pos").cast("double") / F.col("n")
    return t.select(
        F.col("decile").cast("int").alias("decile"),
        "n",
        "n_pos",
        prnd(rate, 6).alias("response_rate"),
        prnd(F.col("cum_pos").cast("double") / F.col("tot_pos"), 6).alias(
            "cum_capture"
        ),
        prnd(
            rate / (F.col("tot_pos").cast("double") / F.col("tot")), 6
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# q254 clustering effectiveness: Z-order vs linear layout bounding boxes
# ---------------------------------------------------------------------------

_Q254_FILE_ROWS = 250


def _q254_oracle() -> str:
    interleave = " + ".join(
        f"((b1 >> {b}) & 1) * {1 << (2 * b + 1)} + ((b2 >> {b}) & 1) * {1 << (2 * b)}"
        for b in range(_Z_BITS)
    )
    top = (1 << _Z_BITS) - 1
    scale = float(1 << _Z_BITS)
    return f"""
    WITH src AS (
      SELECT event_id, value,
             CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) AS sec
      FROM events
    ),
    stats AS (SELECT min(value) AS min1, max(value) AS max1,
                     min(sec) AS min2, max(sec) AS max2 FROM src),
    bb AS (
      SELECT event_id, sec,
             CASE WHEN max1 - min1 = 0 THEN 0
                  ELSE least({top}, greatest(0,
                    CAST(floor((value - min1) / (max1 - min1) * {scale}) AS BIGINT)))
             END AS b1,
             CASE WHEN max2 - min2 = 0 THEN 0
                  ELSE least({top}, greatest(0,
                    CAST(floor((sec - min2) / (max2 - min2) * {scale}) AS BIGINT)))
             END AS b2
      FROM src CROSS JOIN stats
    ),
    zsrc AS (SELECT event_id, sec, b1, b2, {interleave} AS z FROM bb),
    laid AS (
      SELECT b1, b2,
             CAST(floor((row_number() OVER (ORDER BY z, event_id) - 1)
                  / {_Q254_FILE_ROWS}) AS BIGINT) AS zfile,
             CAST(floor((row_number() OVER (ORDER BY sec, event_id) - 1)
                  / {_Q254_FILE_ROWS}) AS BIGINT) AS lfile
      FROM zsrc
    ),
    z AS (
      SELECT 'zorder' AS layout, zfile AS file_no,
             max(b1) - min(b1) AS r1, max(b2) - min(b2) AS r2
      FROM laid GROUP BY zfile
    ),
    l AS (
      SELECT 'linear' AS layout, lfile AS file_no,
             max(b1) - min(b1) AS r1, max(b2) - min(b2) AS r2
      FROM laid GROUP BY lfile
    ),
    u AS (SELECT * FROM z UNION ALL SELECT * FROM l)
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           {o_rnd(f'avg((r1 + 1.0) * (r2 + 1.0) / ({scale} * {scale}))', 6)} AS avg_bbox_vol,
           {o_rnd(f'1.0 - avg((r1 + 1.0) / {scale})', 6)} AS est_skip_dim1,
           {o_rnd(f'1.0 - avg((r2 + 1.0) / {scale})', 6)} AS est_skip_dim2
    FROM u GROUP BY layout
    """


@query("q254_clustering_effectiveness", oracle=_q254_oracle())
def q254_clustering_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness audit: lay the events table out in
    250-row files two ways — Z-order (q78's curve) vs linear
    single-dimension sort — and measure each file's (value, time)
    bounding box; the average normalized box volume and the implied
    per-dimension skip rates ARE the min/max-stats pruning a lakehouse
    scan gets from file footers. This turns 'Z-order helps
    multi-dimensional predicates' from folklore into a number the
    gate checks: linear files span the full range of the OTHER
    dimension (skip~0), Z-order keeps both ranges narrow.

    The audit runs on bucket ids, not data: two global rankings (both
    routed through operators/globalrank, r5 — range-partitioned
    two-pass, no single-task window) + two 250x-smaller groupBys. At
    scale the same query runs directly over real file-footer stats
    instead of simulated files."""
    ev = table(spark, sf_dir, "events")
    from ..operators.globalrank import with_global_row_stats
    from ..operators.layout import with_zvalue

    src = ev.select(
        "event_id",
        "value",
        F.floor(F.unix_micros("ts").cast("double") / 1e6)
        .cast("double")
        .alias("sec"),
    )
    z = with_zvalue(src, "value", "sec", bits=_Z_BITS).select(
        "event_id", "sec", "z",
        F.col("_b1").alias("b1"), F.col("_b2").alias("b2"),
    )
    ranked = with_global_row_stats(z, ["z", "event_id"], rank_col="_zrn")
    ranked = with_global_row_stats(
        ranked, ["sec", "event_id"], rank_col="_lrn"
    )
    laid = ranked.select(
        "b1",
        "b2",
        F.floor((F.col("_zrn") - 1) / _Q254_FILE_ROWS)
        .cast("long")
        .alias("zfile"),
        F.floor((F.col("_lrn") - 1) / _Q254_FILE_ROWS)
        .cast("long")
        .alias("lfile"),
    )
    def boxes(file_col: str, label: str) -> DataFrame:
        return laid.groupBy(file_col).agg(
            (F.max("b1") - F.min("b1")).alias("r1"),
            (F.max("b2") - F.min("b2")).alias("r2"),
        ).select(F.lit(label).alias("layout"), "r1", "r2")

    u = boxes("zfile", "zorder").unionByName(boxes("lfile", "linear"))
    scale = float(1 << _Z_BITS)
    return u.groupBy("layout").agg(
        F.count("*").cast("long").alias("n_files"),
        prnd(
            F.avg((F.col("r1") + 1.0) * (F.col("r2") + 1.0) / (scale * scale)),
            6,
        ).alias("avg_bbox_vol"),
        prnd(1.0 - F.avg((F.col("r1") + 1.0) / scale), 6).alias(
            "est_skip_dim1"
        ),
        prnd(1.0 - F.avg((F.col("r2") + 1.0) / scale), 6).alias(
            "est_skip_dim2"
        ),
    )


# ---------------------------------------------------------------------------
# q257 stratified treatment-effect estimate (observational)
# ---------------------------------------------------------------------------


@query(
    "q257_stratified_effect",
    oracle=f"""
    WITH act AS (
      SELECT user_id, count(*) AS n_ev FROM events GROUP BY user_id
    ),
    strat AS (
      SELECT user_id, ntile(3) OVER (ORDER BY n_ev, user_id) AS stratum
      FROM act
    ),
    obs AS (
      SELECT s.stratum,
             CAST(hour(e.ts) >= 12 AS INT) AS treated,
             CAST(e.event_type = 'purchase' AS INT) AS y
      FROM events e JOIN strat s USING (user_id)
    ),
    cell AS (
      SELECT stratum, treated,
             CAST(count(*) AS BIGINT) AS n, avg(CAST(y AS DOUBLE)) AS rate
      FROM obs GROUP BY stratum, treated
    ),
    wide AS (
      SELECT stratum,
             max(CASE WHEN treated = 1 THEN n END) AS n_t,
             max(CASE WHEN treated = 0 THEN n END) AS n_c,
             max(CASE WHEN treated = 1 THEN rate END) AS rate_t,
             max(CASE WHEN treated = 0 THEN rate END) AS rate_c
      FROM cell GROUP BY stratum
    )
    SELECT CAST(stratum AS INTEGER) AS stratum, n_t, n_c,
           {o_rnd('rate_t', 6)} AS rate_t,
           {o_rnd('rate_c', 6)} AS rate_c,
           {o_rnd('rate_t - rate_c', 6)} AS risk_diff,
           {o_rnd('sum((rate_t - rate_c) * (n_t + n_c)) OVER () / sum(n_t + n_c) OVER ()', 6)} AS pooled_effect
    FROM wide
    """,
)
def q257_stratified_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified treatment-effect estimate for OBSERVATIONAL data:
    treatment = afternoon event, outcome = purchase, strata = user
    activity terciles — per-stratum risk differences plus the
    size-weighted pooled effect (the Cochran stratification that
    deconfounds 'active users are both more afternoon-active AND buy
    more', which the q168 A/B machinery may not assume away outside
    a randomized experiment).

    One user-grain aggregate, a distributed tercile cut through
    operators/globalrank.with_global_ntile (range exchange + local
    rank + O(partitions) offsets — the user grain never sits in a
    single-task ntile window; r6 routing of VERDICT r5's record-grain
    window class), one broadcast join back to events, a 6-cell
    contingency groupBy — the pooled effect is a window over the
    3-row stratum table."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    from ..operators.globalrank import with_global_ntile

    act = ev.groupBy("user_id").agg(F.count("*").alias("n_ev"))
    strat = with_global_ntile(
        act, ["n_ev", "user_id"], 3, "stratum"
    ).select("user_id", "stratum")
    obs = ev.join(F.broadcast(strat), "user_id").select(
        "stratum",
        (F.hour("ts") >= 12).cast("int").alias("treated"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    cell = obs.groupBy("stratum", "treated").agg(
        F.count("*").cast("long").alias("n"),
        F.avg(F.col("y").cast("double")).alias("rate"),
    )
    wide = cell.groupBy("stratum").agg(
        F.max(F.when(F.col("treated") == 1, F.col("n"))).alias("n_t"),
        F.max(F.when(F.col("treated") == 0, F.col("n"))).alias("n_c"),
        F.max(F.when(F.col("treated") == 1, F.col("rate"))).alias("rate_t"),
        F.max(F.when(F.col("treated") == 0, F.col("rate"))).alias("rate_c"),
    )
    whole = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    rd = F.col("rate_t") - F.col("rate_c")
    nw = F.col("n_t") + F.col("n_c")
    return wide.select(
        F.col("stratum").cast("int").alias("stratum"),
        "n_t",
        "n_c",
        prnd("rate_t", 6).alias("rate_t"),
        prnd("rate_c", 6).alias("rate_c"),
        prnd(rd, 6).alias("risk_diff"),
        prnd(F.sum(rd * nw).over(whole) / F.sum(nw).over(whole), 6).alias(
            "pooled_effect"
        ),
    )


# ---------------------------------------------------------------------------
# q259 Kaplan-Meier survival: signup -> first purchase, right-censored
# ---------------------------------------------------------------------------


@query(
    "q259_km_survival",
    oracle=f"""
    WITH anchor AS (SELECT max(ts) AS tmax FROM events),
    su AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    fp AS (
      SELECT s.user_id, s.signup_ts, min(e.ts) AS purchase_ts
      FROM su s LEFT JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase'
       AND e.ts >= s.signup_ts
      GROUP BY s.user_id, s.signup_ts
    ),
    dur AS (
      SELECT user_id,
             CAST(purchase_ts IS NOT NULL AS INT) AS died,
             CASE WHEN purchase_ts IS NOT NULL
                  THEN date_diff('day', CAST(signup_ts AS DATE), CAST(purchase_ts AS DATE))
                  ELSE date_diff('day', CAST(signup_ts AS DATE), CAST(any_value(tmax) OVER () AS DATE))
             END AS days
      FROM fp CROSS JOIN anchor
    ),
    day_tab AS (
      SELECT days,
             CAST(sum(died) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS leaving
      FROM dur GROUP BY days
    ),
    risk AS (
      SELECT days, d,
             (SELECT count(*) FROM dur) -
             coalesce(sum(leaving) OVER (ORDER BY days
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      FROM day_tab
    ),
    km AS (
      SELECT days, d, n_risk,
             exp(sum(CASE WHEN d < n_risk THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                          ELSE -690.0 END)
                 OVER (ORDER BY days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
      FROM risk WHERE d > 0
    )
    SELECT CAST(days AS BIGINT) AS days, CAST(n_risk AS BIGINT) AS n_at_risk,
           d AS n_events, {o_rnd('s', 6)} AS survival
    FROM km
    """,
)
def q259_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of 'time from signup to first purchase',
    right-censored at the corpus horizon — the estimator that uses
    users who NEVER bought correctly (they inform the at-risk
    denominator until their censoring day; dropping them biases
    conversion-time low, which is exactly the mistake q98's plain
    funnel makes when windows are short).

    Events collapse to a user-grain duration table; the KM product
    over event days is exp(running sum of ln(1 - d/n)) — one ordered
    window over the tiny day table, with at-risk counts derived from
    a cumulative count of everyone who left earlier."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    anchor = ev.agg(F.max("ts").alias("tmax"))
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("uid"), F.col("ts").alias("pts")
    )
    fp = (
        su.join(
            pur,
            (F.col("uid") == F.col("user_id"))
            & (F.col("pts") >= F.col("signup_ts")),
            "left",
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.min("pts").alias("purchase_ts"))
    )
    dur = fp.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.col("purchase_ts").isNotNull().cast("int").alias("died"),
        F.when(
            F.col("purchase_ts").isNotNull(),
            F.datediff(F.to_date("purchase_ts"), F.to_date("signup_ts")),
        )
        .otherwise(F.datediff(F.to_date("tmax"), F.to_date("signup_ts")))
        .alias("days"),
    )
    day_tab = dur.groupBy("days").agg(
        F.sum("died").cast("long").alias("d"),
        F.count("*").cast("long").alias("leaving"),
    )
    total = dur.agg(F.count("*").alias("n_total"))
    prev = W.orderBy("days").rowsBetween(W.unboundedPreceding, -1)
    risk = day_tab.crossJoin(F.broadcast(total)).select(
        "days",
        "d",
        (
            F.col("n_total")
            - F.coalesce(F.sum("leaving").over(prev), F.lit(0))
        ).alias("n_risk"),
    )
    cum = W.orderBy("days").rowsBetween(W.unboundedPreceding, W.currentRow)
    km = risk.filter(F.col("d") > 0).select(
        "days",
        "d",
        "n_risk",
        F.exp(
            F.sum(
                F.when(
                    F.col("d") < F.col("n_risk"),
                    F.log(1.0 - F.col("d").cast("double") / F.col("n_risk")),
                ).otherwise(-690.0)
            ).over(cum)
        ).alias("s"),
    )
    return km.select(
        F.col("days").cast("long").alias("days"),
        F.col("n_risk").cast("long").alias("n_at_risk"),
        F.col("d").alias("n_events"),
        prnd("s", 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# q261 CUPED variance reduction (pre-period covariate adjustment)
# ---------------------------------------------------------------------------


@query(
    "q261_cuped_adjustment",
    oracle=f"""
    WITH bounds AS (
      SELECT make_timestamp(epoch_us(min(ts))
               + (epoch_us(max(ts)) - epoch_us(min(ts))) // 2) AS tmid
      FROM events
    ),
    tagged AS (
      SELECT user_id, value, event_type,
             ts < (SELECT tmid FROM bounds) AS pre
      FROM events
    ),
    u AS (
      SELECT user_id,
             sum(CASE WHEN pre THEN value ELSE 0.0 END) AS x,
             sum(CASE WHEN NOT pre AND event_type = 'purchase'
                      THEN value ELSE 0.0 END) AS y
      FROM tagged
      GROUP BY user_id
    ),
    s AS (
      SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
             avg(x * y) - avg(x) * avg(y) AS cxy,
             avg(x * x) - avg(x) * avg(x) AS vx,
             avg(y * y) - avg(y) * avg(y) AS vy
      FROM u
    ),
    adj AS (
      SELECT u.user_id, s.n, s.vy,
             u.y - (s.cxy / s.vx) * (u.x - s.mx) AS y_cuped
      FROM u CROSS JOIN s
    )
    SELECT CAST(any_value(n) AS BIGINT) AS n_users,
           {o_rnd('any_value(vy)', 4)} AS var_raw,
           {o_rnd('avg(y_cuped * y_cuped) - avg(y_cuped) * avg(y_cuped)', 4)} AS var_cuped,
           {o_rnd('1.0 - (avg(y_cuped * y_cuped) - avg(y_cuped) * avg(y_cuped)) / any_value(vy)', 6)} AS variance_reduction
    FROM adj
    """,
)
def q261_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al., WSDM'13): adjust each user's experiment
    outcome by their PRE-period covariate, y' = y - theta (x - mean x)
    with theta = cov(x,y)/var(x) — the industry-standard variance
    reduction that makes A/B tests converge in a fraction of the
    traffic. Pre-period = first half of the corpus window, outcome =
    second-half purchase spend; the emitted variance_reduction IS the
    sample-size saving (rho^2 of the covariate).

    One user-grain conditional aggregate (the only pass over events),
    a 1-row moments frame joined back broadcast, a second tiny
    user-grain aggregate for the adjusted variance — all algebraic."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        (
            F.min("ts")
            + (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / 2.0
            ).cast("long")
            * F.expr("INTERVAL 1 MICROSECOND")
        ).alias("tmid")
    )
    u = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("ts") < F.col("tmid"), F.col("value")).otherwise(
                    0.0
                )
            ).alias("x"),
            F.sum(
                F.when(
                    (F.col("ts") >= F.col("tmid"))
                    & (F.col("event_type") == "purchase"),
                    F.col("value"),
                ).otherwise(0.0)
            ).alias("y"),
        )
    )
    s = u.agg(
        F.count("*").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        (F.avg(F.col("x") * F.col("y")) - F.avg("x") * F.avg("y")).alias(
            "cxy"
        ),
        (F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x")).alias(
            "vx"
        ),
        (F.avg(F.col("y") * F.col("y")) - F.avg("y") * F.avg("y")).alias(
            "vy"
        ),
    )
    adj = u.crossJoin(F.broadcast(s)).select(
        "n",
        "vy",
        (
            F.col("y")
            - (F.col("cxy") / F.col("vx")) * (F.col("x") - F.col("mx"))
        ).alias("yc"),
    )
    vc = F.avg(F.col("yc") * F.col("yc")) - F.avg("yc") * F.avg("yc")
    return adj.agg(
        F.first("n").cast("long").alias("n_users"),
        prnd(F.first("vy"), 4).alias("var_raw"),
        prnd(vc, 4).alias("var_cuped"),
        prnd(1.0 - vc / F.first("vy"), 6).alias("variance_reduction"),
    )


# ---------------------------------------------------------------------------
# q267 sweep-line concurrency (max concurrent user sessions per day)
# ---------------------------------------------------------------------------

_Q267_GAP_MIN = 30  # session gap rule, matches q63's sessionization


@query(
    "q267_concurrency_sweep",
    oracle=f"""
    WITH marks AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL {_Q267_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    sess AS (
      SELECT user_id,
             min(ts) AS t_start,
             max(ts) + INTERVAL {_Q267_GAP_MIN} MINUTE AS t_end
      FROM (
        SELECT user_id, ts,
               sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        FROM marks
      )
      GROUP BY user_id, sess_no
    ),
    deltas AS (
      SELECT t_start AS ts, 1 AS delta FROM sess
      UNION ALL
      SELECT t_end, -1 FROM sess
    ),
    sweep AS (
      SELECT ts, CAST(ts AS DATE) AS day,
             sum(delta) OVER (ORDER BY ts, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
      FROM deltas
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(max(live) AS BIGINT) AS peak_concurrency,
           CAST(count(*) AS BIGINT) AS n_boundary_events
    FROM sweep GROUP BY day
    """,
)
def q267_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency by sweep line: sessionize (q63's 30-minute
    gap rule), convert each session to a +1 start / -1 end boundary
    event, and take the running sum over the global boundary order —
    its daily max is the peak number of simultaneously-active
    sessions, the capacity number an ops team sizes for. The
    classic interval problem that naive per-minute-per-session
    explosion answers at 1440x the cost.

    Sessionization is the shared per-user sort; the sweep's running
    sum routes through operators/globalrank (range exchange on the
    boundary order + per-partition running sum + O(partitions)
    offsets) — the boundary table is 2 rows per SESSION, i.e. data
    grain, so it must never sit in a single-task window (r6 routing
    of VERDICT r5's record-grain window class). Ends sort before
    starts at identical timestamps (delta ascending), the standard
    half-open convention; rows tied on the full (ts, delta) key are
    interchangeable for a running SUM (identical deltas produce the
    same multiset of cumulative values), so the operator's total-order
    contract is satisfied up to that harmless permutation. The
    boundary count per day audits the volume."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    from ..operators.globalrank import with_global_row_stats

    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr(f"INTERVAL {_Q267_GAP_MIN} MINUTES")
    marks = ev.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(wu).isNull()
            | (F.col("ts") - F.lag("ts").over(wu) > gap),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    cum = W.partitionBy("user_id").orderBy("ts").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sess = (
        marks.withColumn("sess_no", F.sum("is_start").over(cum))
        .groupBy("user_id", "sess_no")
        .agg(
            F.min("ts").alias("t_start"),
            (F.max("ts") + gap).alias("t_end"),
        )
    )
    # r12 (guide S2.4): one pass over the session frame — the former
    # unionByName of two projections executed the sessionization
    # subtree twice; the 2-element array explode emits the identical
    # boundary rows from a single execution (same fix as q280).
    deltas = sess.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("t_start").alias("ts"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col("t_end").alias("ts"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("_e")
    ).select("_e.ts", "_e.delta")
    sweep = with_global_row_stats(
        deltas, ["ts", "delta"], cum_sums={"live": "delta"}, allow_ties=True
    ).select(F.to_date("ts").alias("day"), "live")
    return sweep.groupBy(
        F.date_format("day", "yyyy-MM-dd").alias("day")
    ).agg(
        F.max("live").cast("long").alias("peak_concurrency"),
        F.count("*").cast("long").alias("n_boundary_events"),
    )


# ---------------------------------------------------------------------------
# q275 sequential probability ratio test (SPRT) per variant
# ---------------------------------------------------------------------------

_Q275_P0, _Q275_P1 = 0.19, 0.21
_Q275_BOUND = 2.9444389791664403  # ln(19): alpha = beta = 0.05


@query(
    "q275_sequential_sprt",
    oracle=f"""
    WITH obs AS (
      SELECT user_id % 2 AS variant, ts, event_id,
             CAST(event_type = 'purchase' AS INT) AS y
      FROM events
    ),
    llr AS (
      SELECT variant, ts, event_id, y,
             row_number() OVER (PARTITION BY variant ORDER BY ts, event_id) AS rn,
             sum(y * ln({_Q275_P1} / {_Q275_P0})
                 + (1 - y) * ln((1.0 - {_Q275_P1}) / (1.0 - {_Q275_P0})))
               OVER (PARTITION BY variant ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM obs
    ),
    crossing AS (
      SELECT variant, rn, s,
             row_number() OVER (PARTITION BY variant ORDER BY rn) AS k
      FROM llr WHERE s >= {_Q275_BOUND} OR s <= -{_Q275_BOUND}
    ),
    first_x AS (SELECT variant, rn, s FROM crossing WHERE k = 1),
    final AS (
      SELECT variant, max(rn) AS n_obs,
             max_by(s, rn) AS final_llr
      FROM llr GROUP BY variant
    )
    SELECT CAST(f.variant AS INTEGER) AS variant,
           CAST(f.n_obs AS BIGINT) AS n_obs,
           {o_rnd('f.final_llr', 6)} AS final_llr,
           CASE WHEN x.rn IS NULL THEN 'continue'
                WHEN x.s >= {_Q275_BOUND} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           CAST(x.rn AS BIGINT) AS n_at_decision
    FROM final f LEFT JOIN first_x x USING (variant)
    """,
)
def q275_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT run over each variant's event stream (assignment =
    user hash parity, conversion = purchase; H0 p=0.19 vs H1 p=0.21,
    alpha = beta = 0.05): the cumulative log-likelihood ratio walks
    until it crosses +-ln(19), and the first crossing is the
    SEQUENTIAL stopping decision — the always-valid monitoring that
    lets an experiment stop EARLY without p-hacking, where q168's
    fixed-horizon t-test must wait out its sample size.

    One ordered running sum per variant + an argmin over crossing
    rows — the full LLR trajectory never leaves the engine, and the
    emitted n_at_decision says how much traffic sequential testing
    saved."""
    ev = table(spark, sf_dir, "events")
    from math import log

    from pyspark.sql import Window as W

    w_inc = log(_Q275_P1 / _Q275_P0)
    l_inc = log((1.0 - _Q275_P1) / (1.0 - _Q275_P0))
    obs = ev.select(
        (F.col("user_id") % 2).alias("variant"),
        "ts",
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    wv = W.partitionBy("variant").orderBy("ts", "event_id")
    cum = wv.rowsBetween(W.unboundedPreceding, W.currentRow)
    llr = obs.select(
        "variant",
        F.row_number().over(wv).alias("rn"),
        F.sum(
            F.col("y") * w_inc + (1 - F.col("y")) * l_inc
        ).over(cum).alias("s"),
    )
    crossing = (
        llr.filter(
            (F.col("s") >= _Q275_BOUND) | (F.col("s") <= -_Q275_BOUND)
        )
        .withColumn(
            "k", F.row_number().over(W.partitionBy("variant").orderBy("rn"))
        )
        .filter(F.col("k") == 1)
        .select("variant", F.col("rn").alias("xrn"), F.col("s").alias("xs"))
    )
    final = llr.groupBy("variant").agg(
        F.max("rn").alias("n_obs"),
        F.max_by("s", "rn").alias("final_llr"),
    )
    j = final.join(F.broadcast(crossing), "variant", "left")
    return j.select(
        F.col("variant").cast("int").alias("variant"),
        F.col("n_obs").cast("long").alias("n_obs"),
        prnd("final_llr", 6).alias("final_llr"),
        F.when(F.col("xrn").isNull(), "continue")
        .when(F.col("xs") >= _Q275_BOUND, "accept_h1")
        .otherwise("accept_h0")
        .alias("decision"),
        F.col("xrn").cast("long").alias("n_at_decision"),
    )


# ---------------------------------------------------------------------------
# q277 hour x weekday activity heatmap
# ---------------------------------------------------------------------------


@query(
    "q277_activity_heatmap",
    oracle=f"""
    WITH cell AS (
      SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
             CAST(hour(ts) AS INTEGER) AS hod,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT sum(n) AS tot FROM cell)
    SELECT dow, hod, n, n_users,
           {o_rnd('CAST(n AS DOUBLE) / any_value(t.tot)', 6)} AS share
    FROM cell CROSS JOIN t
    GROUP BY dow, hod, n, n_users
    """,
)
def q277_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day x day-of-week activity heatmap (counts, distinct
    users, traffic share per cell) — the load-shape readout capacity
    planning and anomaly eyeballing start from, and the 2-D
    companion to q120's 1-D weekday seasonality. One partial-agg
    groupBy to 168 cells; day-of-week comes from the UTC session
    clock on both engines (hostile-timezone safe by construction)."""
    ev = table(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    t = cell.agg(F.sum("n").alias("tot"))
    return cell.crossJoin(F.broadcast(t)).select(
        "dow",
        "hod",
        "n",
        "n_users",
        prnd(F.col("n").cast("double") / F.col("tot"), 6).alias("share"),
    )


# ---------------------------------------------------------------------------
# q280 interval coverage (active-time share per day, sweep-line)
# ---------------------------------------------------------------------------


@query(
    "q280_interval_coverage",
    oracle=f"""
    WITH marks AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL {_Q267_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    sess AS (
      SELECT user_id, min(ts) AS t_start,
             max(ts) + INTERVAL {_Q267_GAP_MIN} MINUTE AS t_end
      FROM (
        SELECT user_id, ts,
               sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        FROM marks
      ) GROUP BY user_id, sess_no
    ),
    deltas AS (
      SELECT t_start AS ts, 1 AS delta FROM sess
      UNION ALL SELECT t_end, -1 FROM sess
    ),
    sweep AS (
      SELECT ts, delta,
             sum(delta) OVER (ORDER BY ts, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live,
             lead(ts) OVER (ORDER BY ts, delta) AS nts
      FROM deltas
    ),
    covered AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(CASE WHEN live > 0 AND nts IS NOT NULL
                      THEN epoch_us(nts) - epoch_us(ts) ELSE 0 END) AS cov_us
      FROM sweep GROUP BY CAST(ts AS DATE)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(cov_us // 1000000 AS BIGINT) AS covered_seconds
    FROM covered
    """,
)
def q280_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-intervals coverage: seconds per day during which AT
    LEAST one session is active — the complement of q267's peak (that
    asks how high the concurrency spikes; this asks how much of the
    clock is busy at all, the utilization number an SLA report
    carries). Overlapping sessions must not double-count, which is
    exactly what the sweep line gives for free: between consecutive
    boundary events the live count is constant, so covered time is
    the sum of inter-boundary gaps where live > 0.

    Same session + boundary machinery as q267; the sweep's running
    sum AND global row_number route through operators/globalrank
    (range exchange + local windows + O(partitions) offsets — the
    boundary table is data-grain, never a single-task window; r6
    routing of VERDICT r5's record-grain window class), and lead(ts)
    is recovered as a self equi-join on the unique global rank
    (rn = rn + 1), a plain shuffle hash join on a long key. Rows tied
    on the full (ts, delta) key are interchangeable: gaps between
    tied boundaries are zero whatever their rank order, and the
    tie-group's last rank always carries the group-final live count
    into the next distinct timestamp. Gap spans are attributed to the
    day of their left boundary (both engines agree by
    construction)."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    from ..operators.globalrank import with_global_row_stats

    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr(f"INTERVAL {_Q267_GAP_MIN} MINUTES")
    marks = ev.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(wu).isNull()
            | (F.col("ts") - F.lag("ts").over(wu) > gap),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    cum = W.partitionBy("user_id").orderBy("ts").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sess = (
        marks.withColumn("sess_no", F.sum("is_start").over(cum))
        .groupBy("user_id", "sess_no")
        .agg(F.min("ts").alias("t_start"), (F.max("ts") + gap).alias("t_end"))
    )
    # r12 (guide S2.4): emit both boundary events from ONE pass over
    # the session frame — the former unionByName of two projections
    # planned the whole sessionization subtree (events scan + two
    # windows + groupBy) TWICE inside the sweep's pinned input; the
    # 2-element inline array explode produces the identical rows from
    # a single execution.
    deltas = sess.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("t_start").alias("ts"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col("t_end").alias("ts"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("_e")
    ).select("_e.ts", "_e.delta")
    ranked = with_global_row_stats(
        deltas,
        ["ts", "delta"],
        rank_col="rn",
        cum_sums={"live": "delta"},
        allow_ties=True,
    )
    nxt = ranked.select(
        (F.col("rn") - 1).alias("rn"), F.col("ts").alias("nts")
    )
    sweep = ranked.join(nxt, "rn", "left").select("ts", "live", "nts")
    covered = sweep.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(
                (F.col("live") > 0) & F.col("nts").isNotNull(),
                F.unix_micros("nts") - F.unix_micros("ts"),
            ).otherwise(0)
        ).alias("cov_us")
    )
    return covered.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.floor(F.col("cov_us") / 1000000).cast("long").alias(
            "covered_seconds"
        ),
    )


# ---------------------------------------------------------------------------
# q279 shuffle-partition skew planner (predicted reducer imbalance)
# ---------------------------------------------------------------------------

_Q279_CHOICES = (8, 32, 128)


def _q279_oracle() -> str:
    rows = ", ".join(f"({n})" for n in _Q279_CHOICES)
    return f"""
    WITH kh AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
      FROM events GROUP BY user_id
    ),
    cfg(np) AS (VALUES {rows}),
    assigned AS (
      SELECT cfg.np, ({o_hash64('kh.user_id')}) % cfg.np AS part,
             kh.n_rows
      FROM kh CROSS JOIN cfg
    ),
    load AS (
      SELECT np, part, sum(n_rows) AS rows_in_part
      FROM assigned GROUP BY np, part
    )
    SELECT CAST(np AS INTEGER) AS n_partitions,
           CAST(count(*) AS BIGINT) AS n_used_partitions,
           CAST(max(rows_in_part) AS BIGINT) AS max_load,
           {o_rnd('avg(CAST(rows_in_part AS DOUBLE))', 2)} AS avg_load,
           {o_rnd('max(rows_in_part) / avg(CAST(rows_in_part AS DOUBLE))', 4)} AS skew_ratio
    FROM load GROUP BY np
    """


@query("q279_partition_skew_planner", oracle=_q279_oracle())
def q279_partition_skew_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-partition planning from the key histogram: simulate
    hash-partitioning the user_id key set at 8 / 32 / 128 reducers
    and report the predicted max-over-avg load (straggler factor) —
    the number that says whether raising
    spark.sql.shuffle.partitions will actually help or whether one
    hot key pins the stage regardless (then q96's salting is the
    fix, not more partitions). q159 profiles WHICH keys are hot; this
    predicts what the cluster will DO about it.

    Runs entirely on the key HISTOGRAM (|keys| rows, not |events|):
    one groupBy over data, then a keys x 3 literal cross and two tiny
    aggregations — the planner is free relative to the shuffle it
    plans."""
    ev = table(spark, sf_dir, "events")
    kh = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("n_rows"))
    cfg = spark.createDataFrame([(n,) for n in _Q279_CHOICES], "np INT")
    assigned = kh.crossJoin(F.broadcast(cfg)).select(
        "np",
        (hash64(F.col("user_id")) % F.col("np")).alias("part"),
        "n_rows",
    )
    load = assigned.groupBy("np", "part").agg(
        F.sum("n_rows").alias("rows_in_part")
    )
    return load.groupBy(F.col("np").cast("int").alias("n_partitions")).agg(
        F.count("*").cast("long").alias("n_used_partitions"),
        F.max("rows_in_part").cast("long").alias("max_load"),
        prnd(F.avg(F.col("rows_in_part").cast("double")), 2).alias(
            "avg_load"
        ),
        prnd(
            F.max("rows_in_part")
            / F.avg(F.col("rows_in_part").cast("double")),
            4,
        ).alias("skew_ratio"),
    )


# ---------------------------------------------------------------------------
# q281 identity resolution (rare-attribute linkage + label propagation)
# ---------------------------------------------------------------------------

_Q281_MAX_SHARERS = 3  # k value counts as identifying if <= 3 users share it
_Q281_ROUNDS = 3


def _q281_round_sql(r: int) -> str:
    return f""",
    lbl{r} AS (
      SELECT n.user_id,
             least(n.lbl, coalesce(min(o.lbl), n.lbl)) AS lbl
      FROM lbl{r - 1} n
      LEFT JOIN edges e ON e.ua = n.user_id
      LEFT JOIN lbl{r - 1} o ON o.user_id = e.ub
      GROUP BY n.user_id, n.lbl
    )"""


def _q281_oracle() -> str:
    rounds = "".join(_q281_round_sql(r) for r in range(1, _Q281_ROUNDS + 1))
    return f"""
    WITH uk AS (
      SELECT DISTINCT user_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    ),
    rare AS (
      SELECT k FROM uk GROUP BY k
      HAVING count(*) BETWEEN 2 AND {_Q281_MAX_SHARERS}
    ),
    edges0 AS (
      SELECT a.user_id AS ua, b.user_id AS ub
      FROM uk a JOIN rare USING (k) JOIN uk b USING (k)
      WHERE b.user_id <> a.user_id
    ),
    edges AS (SELECT DISTINCT ua, ub FROM edges0),
    lbl0 AS (SELECT DISTINCT user_id, user_id AS lbl FROM uk)
    {rounds}
    SELECT a.user_id, a.lbl AS identity_root,
           CAST(a.lbl = b.lbl AS INT) AS converged
    FROM lbl{_Q281_ROUNDS} a JOIN lbl{_Q281_ROUNDS - 1} b USING (user_id)
    """


@query("q281_identity_resolution", oracle=_q281_oracle())
def q281_identity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity resolution: users sharing a RARE attribute value
    (props.k held by <= 3 users — common values are non-identifying
    and pruned, the blocking rule every ER system needs) are linked,
    and identities merge by iterative min-label propagation (3
    unrolled rounds, the q48 fixpoint law with an explicit
    per-node convergence flag instead of an asserted fixpoint).

    Edges come from an equi self-join THROUGH the rare-value block
    list (never user x user); each round is one join + groupBy on
    the label table. Bounded rounds are the honest contract at
    scale: the flag tells downstream exactly which nodes were still
    moving."""
    ev = table(spark, sf_dir, "events")
    uk = ev.select(
        "user_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    ).distinct()
    rare = uk.groupBy("k").count().filter(
        (F.col("count") >= 2) & (F.col("count") <= _Q281_MAX_SHARERS)
    ).select("k")
    a = uk.join(F.broadcast(rare), "k").select(
        F.col("user_id").alias("ua"), "k"
    )
    b = uk.join(F.broadcast(rare), "k").select(
        F.col("user_id").alias("ub"), F.col("k").alias("kb")
    )
    edges = (
        a.join(b, (F.col("kb") == F.col("k")) & (F.col("ub") != F.col("ua")))
        .select("ua", "ub")
        .distinct()
        .transform(pin_frame)
    )
    lbl_prev = None
    lbl = uk.select("user_id").distinct().select(
        "user_id", F.col("user_id").alias("lbl")
    ).transform(pin_frame)
    for _ in range(_Q281_ROUNDS):
        lbl_prev = lbl
        nbr = (
            lbl.join(edges, lbl.user_id == edges.ua)
            .join(
                lbl_prev.select(
                    F.col("user_id").alias("ub"), F.col("lbl").alias("olbl")
                ),
                "ub",
            )
            .groupBy(F.col("ua").alias("user_id"))
            .agg(F.min("olbl").alias("nlbl"))
        )
        lbl = (
            lbl.join(nbr, "user_id", "left")
            .select(
                "user_id",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .transform(pin_loop)
        )
    return lbl.join(
        lbl_prev.select("user_id", F.col("lbl").alias("plbl")), "user_id"
    ).select(
        "user_id",
        F.col("lbl").alias("identity_root"),
        (F.col("lbl") == F.col("plbl")).cast("int").alias("converged"),
    )


# ---------------------------------------------------------------------------
# q283 entropy rate of the behavioral sequence
# ---------------------------------------------------------------------------


@query(
    "q283_entropy_rate",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    pairs AS (
      SELECT cur, nxt, CAST(count(*) AS DOUBLE) AS n_xy
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    marg AS (SELECT cur, sum(n_xy) AS n_x FROM pairs GROUP BY cur),
    tot AS (SELECT sum(n_xy) AS n FROM pairs),
    parts AS (
      SELECT p.n_xy / tot.n AS p_xy, p.n_xy / m.n_x AS p_cond
      FROM pairs p JOIN marg m USING (cur) CROSS JOIN tot
    )
    SELECT {o_rnd('-sum(p_xy * ln(p_cond))', 6)} AS entropy_rate,
           {o_rnd('-sum(p_xy * ln(p_xy))', 6)} AS joint_entropy,
           {o_rnd('(-sum(p_xy * ln(p_xy))) - (-sum(p_xy * ln(p_cond)))', 6)} AS marginal_entropy
    FROM parts
    """,
)
def q283_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy RATE of the behavioral process: H(next | current) over
    per-user event-type transitions — how unpredictable the next
    action is GIVEN the current one, in nats. Against q191's
    marginal entropy it quantifies how much the Markov structure
    (q142's matrix) actually buys a predictor; near-zero rate with
    high marginal entropy = rigid flows, equal values = memoryless
    users.

    One lead() on the shared per-user sort, one pair groupBy (25
    cells), conditional probabilities from the marginal join —
    information theory as three tiny aggregates."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(wu).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    pairs = seq.groupBy("cur", "nxt").agg(
        F.count("*").cast("double").alias("n_xy")
    )
    marg = pairs.groupBy("cur").agg(F.sum("n_xy").alias("n_x"))
    tot = pairs.agg(F.sum("n_xy").alias("n"))
    parts = pairs.join(F.broadcast(marg), "cur").crossJoin(F.broadcast(tot)).select(
        (F.col("n_xy") / F.col("n")).alias("p_xy"),
        (F.col("n_xy") / F.col("n_x")).alias("p_cond"),
    )
    h_rate = -F.sum(F.col("p_xy") * F.log("p_cond"))
    h_joint = -F.sum(F.col("p_xy") * F.log("p_xy"))
    return parts.agg(
        prnd(h_rate, 6).alias("entropy_rate"),
        prnd(h_joint, 6).alias("joint_entropy"),
        prnd(h_joint - h_rate, 6).alias("marginal_entropy"),
    )


# ---------------------------------------------------------------------------
# q284 cluster-sampling design effect (ICC + deff)
# ---------------------------------------------------------------------------


@query(
    "q284_design_effect",
    oracle=f"""
    WITH cl AS (
      SELECT user_id, CAST(count(*) AS DOUBLE) AS m, avg(value) AS ybar,
             sum(value * value) AS ss, sum(value) AS s
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT count(*) AS k, sum(m) AS n,
             sum(s) / sum(m) AS gy,
             sum(m * m) AS sm2
      FROM cl
    ),
    comp AS (
      SELECT any_value(g.k) AS k, any_value(g.n) AS n, any_value(g.sm2) AS sm2,
             sum(cl.m * (cl.ybar - g.gy) * (cl.ybar - g.gy)) AS ssb,
             sum(cl.ss - cl.m * cl.ybar * cl.ybar) AS ssw
      FROM cl CROSS JOIN g
    ),
    est AS (
      SELECT k, n,
             ssb / (k - 1) AS msb,
             ssw / (n - k) AS msw,
             (n - sm2 / n) / (k - 1) AS m0
      FROM comp
    )
    SELECT CAST(k AS BIGINT) AS n_clusters, CAST(n AS BIGINT) AS n_obs,
           {o_rnd('(msb - msw) / (msb + (m0 - 1.0) * msw)', 6)} AS icc,
           {o_rnd('1.0 + (m0 - 1.0) * ((msb - msw) / (msb + (m0 - 1.0) * msw))', 6)} AS deff
    FROM est
    """,
)
def q284_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-sampling design effect: one-way ANOVA intraclass
    correlation of event values within users (clusters) and the
    Kish design effect deff = 1 + (m0 - 1) ICC — the variance
    inflation you pay when you sample USERS and keep all their events
    instead of sampling events independently. deff = 3 means your
    'million-event sample' carries a third of a million events'
    information: the number that sizes q237/q154's sampling designs
    honestly.

    Per-cluster moments in one groupBy, between/within sums of
    squares from the cluster table + a 1-row grand frame — exact
    ANOVA algebra, no resampling."""
    ev = table(spark, sf_dir, "events")
    cl = ev.groupBy("user_id").agg(
        F.count("*").cast("double").alias("m"),
        F.avg("value").alias("ybar"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
        F.sum("value").alias("s"),
    )
    g = cl.agg(
        F.count("*").alias("k"),
        F.sum("m").alias("n"),
        (F.sum("s") / F.sum("m")).alias("gy"),
        F.sum(F.col("m") * F.col("m")).alias("sm2"),
    )
    comp = cl.crossJoin(F.broadcast(g)).agg(
        F.first("k").alias("k"),
        F.first("n").alias("n"),
        F.first("sm2").alias("sm2"),
        F.sum(
            F.col("m")
            * (F.col("ybar") - F.col("gy"))
            * (F.col("ybar") - F.col("gy"))
        ).alias("ssb"),
        F.sum(
            F.col("ss") - F.col("m") * F.col("ybar") * F.col("ybar")
        ).alias("ssw"),
    )
    msb = F.col("ssb") / (F.col("k") - 1)
    msw = F.col("ssw") / (F.col("n") - F.col("k"))
    m0 = (F.col("n") - F.col("sm2") / F.col("n")) / (F.col("k") - 1)
    icc = (msb - msw) / (msb + (m0 - 1.0) * msw)
    return comp.select(
        F.col("k").cast("long").alias("n_clusters"),
        F.col("n").cast("long").alias("n_obs"),
        prnd(icc, 6).alias("icc"),
        prnd(1.0 + (m0 - 1.0) * icc, 6).alias("deff"),
    )


# ---------------------------------------------------------------------------
# q285 Simpson's-paradox detector over the stratified effect
# ---------------------------------------------------------------------------


@query(
    "q285_simpson_detector",
    oracle=f"""
    WITH act AS (
      SELECT user_id, count(*) AS n_ev FROM events GROUP BY user_id
    ),
    strat AS (
      SELECT user_id, ntile(3) OVER (ORDER BY n_ev, user_id) AS stratum
      FROM act
    ),
    obs AS (
      SELECT s.stratum,
             CAST(hour(e.ts) >= 12 AS INT) AS treated,
             CAST(e.event_type = 'purchase' AS INT) AS y
      FROM events e JOIN strat s USING (user_id)
    ),
    cell AS (
      SELECT stratum, treated, CAST(count(*) AS BIGINT) AS n,
             avg(CAST(y AS DOUBLE)) AS rate
      FROM obs GROUP BY stratum, treated
    ),
    per_stratum AS (
      SELECT stratum,
             max(CASE WHEN treated = 1 THEN rate END)
               - max(CASE WHEN treated = 0 THEN rate END) AS rd
      FROM cell GROUP BY stratum
    ),
    pooled AS (
      SELECT sum(CASE WHEN treated = 1 THEN rate * n END) / sum(CASE WHEN treated = 1 THEN n END)
             - sum(CASE WHEN treated = 0 THEN rate * n END) / sum(CASE WHEN treated = 0 THEN n END) AS rd
      FROM cell
    )
    SELECT {o_rnd('any_value(pooled.rd)', 6)} AS pooled_rd,
           CAST(count(*) AS BIGINT) AS n_strata,
           CAST(sum(CASE WHEN sign(s.rd) <> sign(pooled.rd) THEN 1 ELSE 0 END) AS BIGINT) AS n_reversed,
           CAST(max(CASE WHEN sign(s.rd) <> sign(pooled.rd) THEN 1 ELSE 0 END) AS INT) AS paradox_flag
    FROM per_stratum s CROSS JOIN pooled
    """,
)
def q285_simpson_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox guardrail: compare the POOLED treatment
    effect (ignoring strata) against each stratum's effect sign —
    when any stratum reverses the pooled sign, the aggregate number
    is confounded and must not ship (the automated check behind
    q257's stratified estimate; dashboards that skip it publish
    effects with the wrong SIGN).

    Reuses the 6-cell contingency table (with q257's stratum cut
    routed through operators/globalrank.with_global_ntile, never a
    single-task ntile window over the user grain); the detector
    itself is sign arithmetic over 3 + 1 rows."""
    ev = table(spark, sf_dir, "events")
    from ..operators.globalrank import with_global_ntile

    act = ev.groupBy("user_id").agg(F.count("*").alias("n_ev"))
    strat = with_global_ntile(
        act, ["n_ev", "user_id"], 3, "stratum"
    ).select("user_id", "stratum")
    obs = ev.join(F.broadcast(strat), "user_id").select(
        "stratum",
        (F.hour("ts") >= 12).cast("int").alias("treated"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    cell = obs.groupBy("stratum", "treated").agg(
        F.count("*").cast("long").alias("n"),
        F.avg(F.col("y").cast("double")).alias("rate"),
    )
    per_stratum = cell.groupBy("stratum").agg(
        (
            F.max(F.when(F.col("treated") == 1, F.col("rate")))
            - F.max(F.when(F.col("treated") == 0, F.col("rate")))
        ).alias("rd")
    )
    t1 = F.when(F.col("treated") == 1, F.col("rate") * F.col("n"))
    t0 = F.when(F.col("treated") == 0, F.col("rate") * F.col("n"))
    n1 = F.when(F.col("treated") == 1, F.col("n"))
    n0 = F.when(F.col("treated") == 0, F.col("n"))
    pooled = cell.agg(
        (F.sum(t1) / F.sum(n1) - F.sum(t0) / F.sum(n0)).alias("prd")
    )
    j = per_stratum.crossJoin(F.broadcast(pooled))
    rev = (F.signum("rd") != F.signum("prd")).cast("int")
    return j.agg(
        prnd(F.first("prd"), 6).alias("pooled_rd"),
        F.count("*").cast("long").alias("n_strata"),
        F.sum(rev).cast("long").alias("n_reversed"),
        F.max(rev).cast("int").alias("paradox_flag"),
    )


# ---------------------------------------------------------------------------
# q286 KMV sketch union-merge (mergeable distinct-count states)
# ---------------------------------------------------------------------------

_Q286_K = 64


@query(
    "q286_kmv_union_merge",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) || '@'
             || strftime(date_trunc('minute', ts), '%Y-%m-%dT%H:%M') AS item,
             event_id % 2 AS shard
      FROM events
    ),
    h AS (SELECT DISTINCT {o_hash64('item')} AS hv, shard FROM items),
    sk AS (
      SELECT shard, hv,
             row_number() OVER (PARTITION BY shard ORDER BY hv) AS rn
      FROM h
    ),
    sketches AS (SELECT shard, hv FROM sk WHERE rn <= {_Q286_K}),
    merged AS (
      SELECT hv, row_number() OVER (ORDER BY hv) AS rn
      FROM (SELECT DISTINCT hv FROM sketches)
    ),
    kth AS (SELECT hv FROM merged WHERE rn = {_Q286_K}),
    exact AS (SELECT count(DISTINCT item) AS nd FROM items)
    SELECT CAST(any_value(exact.nd) AS BIGINT) AS n_exact,
           {o_rnd(f'({_Q286_K} - 1.0) * {float(HASH_SPACE)} / any_value(kth.hv)', 2)} AS kmv_union_estimate,
           {o_rnd(f'abs(({_Q286_K} - 1.0) * {float(HASH_SPACE)} / any_value(kth.hv) - any_value(exact.nd)) / any_value(exact.nd)', 6)} AS rel_err
    FROM exact CROSS JOIN kth
    """,
)
def q286_kmv_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KMV distinct-count states: two shards each keep only
    their 64 smallest item hashes, the UNION of sketches is re-cut to
    the 64 smallest, and the merged k-th minimum estimates the
    distinct user-minutes of BOTH shards combined — the property that
    lets per-partition / per-day distinct sketches roll up without
    touching raw data, q241's merge law for cardinality instead of
    moments (items seen by both shards dedupe inside the merge, which
    is exactly what makes sketch union ≠ sum of counts).

    Everything after the one distinct-items pass runs on 2 x 64
    hashes; the exact count rides along as the audit column with the
    realized relative error."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    from ..operators.sketches import HASH_SPACE as _HS

    items = ev.select(
        F.concat(
            F.col("user_id").cast("string"),
            F.lit("@"),
            F.date_format(
                F.date_trunc("minute", "ts"), "yyyy-MM-dd'T'HH:mm"
            ),
        ).alias("item"),
        (F.col("event_id") % 2).alias("shard"),
    ).distinct()
    h = items.select(hash64("item").alias("hv"), "shard").distinct()
    sk = h.withColumn(
        "rn", F.row_number().over(W.partitionBy("shard").orderBy("hv"))
    ).filter(F.col("rn") <= _Q286_K)
    merged = (
        sk.select("hv")
        .distinct()
        .withColumn("rn", F.row_number().over(W.orderBy("hv")))
    )
    kth = merged.filter(F.col("rn") == _Q286_K).select("hv")
    exact = items.agg(F.countDistinct("item").alias("nd"))
    est = (_Q286_K - 1.0) * float(_HS) / F.col("hv").cast("double")
    return exact.crossJoin(F.broadcast(kth)).select(
        F.col("nd").cast("long").alias("n_exact"),
        prnd(est, 2).alias("kmv_union_estimate"),
        prnd(F.abs(est - F.col("nd")) / F.col("nd"), 6).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# q290 feature-store assembly (user-grain wide feature vector, one pass)
# ---------------------------------------------------------------------------


@query(
    "q290_user_features",
    oracle=f"""
    WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS amax FROM events),
    u AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
             sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) AS spend,
             CAST(any_value(a.amax) - max(CAST(ts AS DATE)) AS BIGINT) AS recency_days,
             avg(CASE WHEN hour(ts) >= 12 THEN 1.0 ELSE 0.0 END) AS pm_share,
             count(DISTINCT event_type) AS n_types
      FROM events CROSS JOIN anchor a
      GROUP BY user_id
    )
    SELECT user_id, n_events, n_active_days, n_purchases,
           {o_rnd('spend', 4)} AS spend,
           recency_days,
           {o_rnd('pm_share', 6)} AS pm_share,
           CAST(n_types AS INTEGER) AS n_types,
           {o_rnd('CAST(n_purchases AS DOUBLE) / n_events', 6)} AS purchase_rate,
           {o_rnd('CAST(n_events AS DOUBLE) / n_active_days', 4)} AS events_per_active_day
    FROM u
    """,
)
def q290_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store materialization: the user-grain wide feature
    vector (activity counts, purchase behavior, recency, time-of-day
    mix, type breadth, derived rates) assembled in ONE conditional
    aggregate — the point-in-time table a churn/LTV model trains on,
    and the sink where q236's segments, q290's features and q172's
    market features meet the same key.

    Every feature is a conditional expression inside a single
    groupBy (two distinct-counts ride the same hash aggregate); no
    per-feature scans, no joins until models need cross-entity
    features. The scale law of feature stores: wide beats repeated."""
    ev = table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.to_date("ts")).alias("amax"))
    u = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct(F.to_date("ts")).cast("long").alias(
                "n_active_days"
            ),
            F.sum((F.col("event_type") == "purchase").cast("int"))
            .cast("long")
            .alias("n_purchases"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(0.0)
            ).alias("spend"),
            F.datediff(F.first("amax"), F.max(F.to_date("ts")))
            .cast("long")
            .alias("recency_days"),
            F.avg(
                F.when(F.hour("ts") >= 12, 1.0).otherwise(0.0)
            ).alias("pm_share"),
            F.countDistinct("event_type").cast("int").alias("n_types"),
        )
    )
    return u.select(
        "user_id",
        "n_events",
        "n_active_days",
        "n_purchases",
        prnd("spend", 4).alias("spend"),
        "recency_days",
        prnd("pm_share", 6).alias("pm_share"),
        "n_types",
        prnd(
            F.col("n_purchases").cast("double") / F.col("n_events"), 6
        ).alias("purchase_rate"),
        prnd(
            F.col("n_events").cast("double") / F.col("n_active_days"), 4
        ).alias("events_per_active_day"),
    )


# ---------------------------------------------------------------------------
# q294 attribution model disagreement (first-touch vs last-touch)
# ---------------------------------------------------------------------------


@query(
    "q294_attribution_compare",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
      QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                 ORDER BY event_id DESC) = 1
    ),
    pur AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ),
    matched AS (
      SELECT p.event_id, p.user_id,
             min_by(c.event_id, c.ts) AS first_click,
             max_by(c.event_id, c.ts) AS last_click,
             CAST(count(c.event_id) AS BIGINT) AS n_clicks_in_window
      FROM pur p LEFT JOIN clicks c
        ON c.user_id = p.user_id
       AND c.ts <= p.ts
       AND c.ts >= p.ts - INTERVAL {_Q234_WINDOW_MIN} MINUTE
      GROUP BY p.event_id, p.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CASE WHEN n_clicks_in_window > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
           CAST(sum(CASE WHEN n_clicks_in_window > 1
                          AND first_click <> last_click THEN 1 ELSE 0 END) AS BIGINT) AS n_model_disagree,
           {o_rnd('sum(CASE WHEN n_clicks_in_window > 0 AND first_click <> last_click THEN 1.0 ELSE 0.0 END) / nullif(sum(CASE WHEN n_clicks_in_window > 0 THEN 1.0 ELSE 0.0 END), 0.0)', 6)} AS disagree_share
    FROM matched
    """,
)
def q294_attribution_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-model sensitivity: for purchases with clicks in
    the 30-minute window, how often FIRST-touch and LAST-touch credit
    DIFFERENT clicks — the share of marketing spend that would move
    between channels purely by changing the attribution rule (q234
    ships last-touch; this measures how much that choice matters
    before anyone argues about it).

    One bounded interval join per purchase (same window as q234),
    min_by/max_by pick both touches in a single aggregation — the
    disagreement audit costs one extra aggregate over the same scan."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    clicks = (
        ev.filter(F.col("event_type") == "click")
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("user_id", "ts").orderBy(
                    F.col("event_id").desc()
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            F.col("user_id").alias("cu"),
            F.col("ts").alias("cts"),
            F.col("event_id").alias("cid"),
        )
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = pur.join(
        clicks,
        (F.col("cu") == F.col("user_id"))
        & (F.col("cts") <= F.col("ts"))
        & (
            F.col("cts")
            >= F.col("ts") - F.expr(f"INTERVAL {_Q234_WINDOW_MIN} MINUTES")
        ),
        "left",
    )
    matched = j.groupBy("event_id", "user_id").agg(
        F.min_by("cid", "cts").alias("first_click"),
        F.max_by("cid", "cts").alias("last_click"),
        F.count("cid").cast("long").alias("n_clicks_in_window"),
    )
    has = F.col("n_clicks_in_window") > 0
    dis = has & (F.col("first_click") != F.col("last_click"))
    return matched.agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.sum(has.cast("int")).cast("long").alias("n_attributed"),
        F.sum(
            ((F.col("n_clicks_in_window") > 1) & dis).cast("int")
        )
        .cast("long")
        .alias("n_model_disagree"),
        prnd(
            F.sum(F.when(dis, 1.0).otherwise(0.0))
            / F.nullif(F.sum(F.when(has, 1.0).otherwise(0.0)), F.lit(0.0)),
            6,
        ).alias("disagree_share"),
    )


# ---------------------------------------------------------------------------
# q295 inter-arrival latency percentiles per event type
# ---------------------------------------------------------------------------


@query(
    "q295_interarrival_percentiles",
    oracle=f"""
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY event_type
                                                   ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           {o_rnd('quantile_cont(gap_us / 1000000.0, 0.5)', 4)} AS p50_s,
           {o_rnd('quantile_cont(gap_us / 1000000.0, 0.95)', 4)} AS p95_s,
           {o_rnd('quantile_cont(gap_us / 1000000.0, 0.99)', 4)} AS p99_s,
           {o_rnd('max(gap_us / 1000000.0)', 4)} AS max_s
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def q295_interarrival_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival latency distribution per stream: P50/P95/P99/max
    gaps between consecutive events of each type — the tail-latency
    readout that sets freshness SLAs and watermark delays from DATA
    (q162 justifies the watermark from out-of-orderness; this sets
    the alert threshold from arrival cadence: alert at p99, not at
    the mean, or you page every night).

    One lag on the per-type sort, exact percentiles via the same
    sort-based aggregate as q156; gaps ride integer microseconds
    until the final division."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    wt = W.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wt))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    g_s = F.col("gap_us") / 1000000.0
    return gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_gaps"),
        prnd(F.expr("percentile(gap_us / 1000000.0, 0.5)"), 4).alias("p50_s"),
        prnd(F.expr("percentile(gap_us / 1000000.0, 0.95)"), 4).alias(
            "p95_s"
        ),
        prnd(F.expr("percentile(gap_us / 1000000.0, 0.99)"), 4).alias(
            "p99_s"
        ),
        prnd(F.max(g_s), 4).alias("max_s"),
    )


# ---------------------------------------------------------------------------
# q296 deterministic permutation test (hash sign-flip resampling)
# ---------------------------------------------------------------------------

_Q296_PERMS = 64


@query(
    "q296_permutation_test",
    oracle=f"""
    WITH u AS (
      SELECT user_id, user_id % 2 AS grp, avg(value) AS y
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT avg(CASE WHEN grp = 1 THEN y END)
             - avg(CASE WHEN grp = 0 THEN y END) AS d_obs
      FROM u
    ),
    perms AS (
      SELECT p.p,
             avg(CASE WHEN ({o_hash64("CAST(u.user_id AS VARCHAR) || '#' || CAST(p.p AS VARCHAR)")}) % 2 = 1 THEN u.y END)
             - avg(CASE WHEN ({o_hash64("CAST(u.user_id AS VARCHAR) || '#' || CAST(p.p AS VARCHAR)")}) % 2 = 0 THEN u.y END) AS d_perm
      FROM u CROSS JOIN (SELECT unnest(range(1, {_Q296_PERMS + 1})) AS p) p
      GROUP BY p.p
    )
    SELECT CAST((SELECT count(*) FROM u) AS BIGINT) AS n_units,
           {o_rnd('any_value(obs.d_obs)', 6)} AS observed_diff,
           CAST(sum(CASE WHEN abs(perms.d_perm) >= abs(obs.d_obs) THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           {o_rnd(f'(sum(CASE WHEN abs(perms.d_perm) >= abs(obs.d_obs) THEN 1.0 ELSE 0.0 END) + 1.0) / ({_Q296_PERMS} + 1.0)', 6)} AS p_value
    FROM perms CROSS JOIN obs
    """,
)
def q296_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test of the A/B mean difference with DETERMINISTIC
    resampling: 64 pseudo-permutations reassign each user to a group
    by hashing (user, perm_id), and the p-value is the share of
    permuted |differences| at least as extreme as observed (with the
    +1 smoothing of Phipson & Smyth) — distribution-free inference
    that q168's Welch t buys only under normality, reproducible
    run-over-run because the 'randomness' is the portable hash.

    Permutations explode the USER-grain table (units x 64, not
    events x 64); each permuted statistic is one conditional
    aggregate — resampling as a groupBy, no driver loop."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (F.col("user_id") % 2).alias("grp"), F.avg("value").alias("y")
    ).select("user_id", "grp", "y")
    obs = u.agg(
        (
            F.avg(F.when(F.col("grp") == 1, F.col("y")))
            - F.avg(F.when(F.col("grp") == 0, F.col("y")))
        ).alias("d_obs")
    )
    perms = (
        u.select(
            "user_id",
            "y",
            F.explode(F.sequence(F.lit(1), F.lit(_Q296_PERMS))).alias("p"),
        )
        .select(
            "p",
            "y",
            (
                hash64(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit("#"),
                        F.col("p").cast("string"),
                    )
                )
                % 2
            ).alias("pg"),
        )
        .groupBy("p")
        .agg(
            (
                F.avg(F.when(F.col("pg") == 1, F.col("y")))
                - F.avg(F.when(F.col("pg") == 0, F.col("y")))
            ).alias("d_perm")
        )
    )
    n_units = u.agg(F.count("*").cast("long").alias("n_units"))
    extreme = (F.abs(F.col("d_perm")) >= F.abs(F.col("d_obs"))).cast("int")
    return (
        perms.crossJoin(F.broadcast(obs))
        .crossJoin(F.broadcast(n_units))
        .agg(
            F.first("n_units").alias("n_units"),
            prnd(F.first("d_obs"), 6).alias("observed_diff"),
            F.sum(extreme).cast("long").alias("n_extreme"),
            prnd(
                (F.sum(extreme) + 1.0) / (_Q296_PERMS + 1.0), 6
            ).alias("p_value"),
        )
    )


# ---------------------------------------------------------------------------
# q297 identity-graph component size distribution
# ---------------------------------------------------------------------------


@query(
    "q297_component_sizes",
    oracle=f"""
    WITH uk AS (
      SELECT DISTINCT user_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    ),
    rare AS (
      SELECT k FROM uk GROUP BY k
      HAVING count(*) BETWEEN 2 AND {_Q281_MAX_SHARERS}
    ),
    edges0 AS (
      SELECT a.user_id AS ua, b.user_id AS ub
      FROM uk a JOIN rare USING (k) JOIN uk b USING (k)
      WHERE b.user_id <> a.user_id
    ),
    edges AS (SELECT DISTINCT ua, ub FROM edges0),
    lbl0 AS (SELECT DISTINCT user_id, user_id AS lbl FROM uk)
    {"".join(_q281_round_sql(r) for r in range(1, _Q281_ROUNDS + 1))},
    comp AS (
      SELECT lbl AS root, CAST(count(*) AS BIGINT) AS size
      FROM lbl{_Q281_ROUNDS} GROUP BY lbl
    )
    SELECT size AS component_size,
           CAST(count(*) AS BIGINT) AS n_components,
           CAST(size * count(*) AS BIGINT) AS n_users_covered
    FROM comp GROUP BY size
    """,
)
def q297_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity-graph health: the component SIZE DISTRIBUTION after
    q281's label propagation — singleton count (unlinked users), the
    typical merge size, and whether a mega-component formed (the
    classic ER failure: one over-shared attribute value snowballs
    half the user base into a single 'identity', which is why the
    rare-value block filter exists). The histogram is the one-line
    check that the blocking rule held.

    Reuses the q281 machinery and adds two tiny groupBys over the
    label table."""
    lbl = q281_identity_resolution(spark, sf_dir).select(
        "user_id", F.col("identity_root").alias("lbl")
    )
    comp = lbl.groupBy("lbl").agg(F.count("*").cast("long").alias("size"))
    return comp.groupBy(F.col("size").alias("component_size")).agg(
        F.count("*").cast("long").alias("n_components"),
        (F.col("component_size") * F.count("*"))
        .cast("long")
        .alias("n_users_covered"),
    )


# ---------------------------------------------------------------------------
# q298 cache-size planner (ideal-LFU hit rates from the access histogram)
# ---------------------------------------------------------------------------

_Q298_SIZES = (10, 25, 50, 100)


def _q298_oracle() -> str:
    rows = ", ".join(f"({c})" for c in _Q298_SIZES)
    return f"""
    WITH acc AS (
      SELECT user_id AS item, CAST(count(*) AS BIGINT) AS n_acc
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT item, n_acc,
             row_number() OVER (ORDER BY n_acc DESC, item) AS rk,
             sum(n_acc) OVER () AS total
      FROM acc
    ),
    cfg(c) AS (VALUES {rows})
    SELECT CAST(cfg.c AS INTEGER) AS cache_size,
           CAST(count(*) AS BIGINT) AS n_cached_items,
           CAST(sum(r.n_acc) AS BIGINT) AS hits,
           {o_rnd('sum(r.n_acc) / any_value(CAST(r.total AS DOUBLE))', 6)} AS hit_rate
    FROM cfg JOIN ranked r ON r.rk <= cfg.c
    GROUP BY cfg.c
    """


@query("q298_cache_planner", oracle=_q298_oracle())
def q298_cache_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cache-size planning from the access histogram: the ideal-LFU
    hit rate at 10/25/50/100 cached keys (share of accesses landing
    on the top-C hottest items) — the upper bound any LRU/LFU
    implementation can reach, read straight off the key-frequency
    curve. Where the curve flattens is where more cache stops paying;
    the broadcast-dimension and hot-key-salting decisions (q96/q111)
    are this same curve read at cluster scale.

    One groupBy to the access histogram; the item rank routes through
    operators/globalrank and the grand access total arrives as a
    1-row broadcast (r6 — the item histogram is key-grain, so it
    never sits in a single-task window); only the top-max(sizes)
    ranks survive into the 4-row config join — the planner never
    rescans accesses."""
    ev = table(spark, sf_dir, "events")
    from ..operators.globalrank import with_global_row_stats

    acc = ev.groupBy(F.col("user_id").alias("item")).agg(
        F.count("*").cast("long").alias("n_acc")
    )
    tot = acc.agg(F.sum("n_acc").alias("total"))
    ranked = (
        with_global_row_stats(
            acc, [F.col("n_acc").desc(), "item"], rank_col="rk"
        )
        .filter(F.col("rk") <= max(_Q298_SIZES))
        .crossJoin(F.broadcast(tot))
    )
    cfg = spark.createDataFrame([(c,) for c in _Q298_SIZES], "c INT")
    j = F.broadcast(cfg).join(ranked, ranked.rk <= cfg.c)
    return j.groupBy(F.col("c").cast("int").alias("cache_size")).agg(
        F.count("*").cast("long").alias("n_cached_items"),
        F.sum("n_acc").cast("long").alias("hits"),
        prnd(
            F.sum("n_acc") / F.first(F.col("total").cast("double")), 6
        ).alias("hit_rate"),
    )


# ---------------------------------------------------------------------------
# q301 max-min fair-share allocation (water-filling, closed form)
# ---------------------------------------------------------------------------

_Q301_CAP_FRAC = 0.5  # capacity = half the total demand (rationing always on)


@query(
    "q301_fair_share",
    oracle=f"""
    WITH demand AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS d
      FROM events GROUP BY user_id
    ),
    cap AS (SELECT floor(sum(d) * {_Q301_CAP_FRAC}) AS c FROM demand),
    ranked AS (
      SELECT user_id, d, (SELECT c FROM cap) AS c,
             row_number() OVER (ORDER BY d, user_id) AS rk,
             count(*) OVER () AS n,
             sum(d) OVER (ORDER BY d, user_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM demand
    ),
    lvl AS (
      SELECT max(CAST(c - (cum - d) AS DOUBLE) / (n - rk + 1)) AS water
      FROM ranked
      WHERE CAST(c - (cum - d) AS DOUBLE) / (n - rk + 1) >= d
    ),
    alloc AS (
      SELECT r.user_id, r.d,
             least(CAST(r.d AS DOUBLE),
                   coalesce(l.water, CAST(r.c AS DOUBLE) / r.n)) AS share
      FROM ranked r CROSS JOIN lvl l
    )
    SELECT user_id, d AS demand,
           {o_rnd('share', 4)} AS allocation,
           CAST(share >= d AS INT) AS fully_served
    FROM alloc
    """,
)
def q301_fair_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair allocation of a capacity budget (half the total
    demand, so rationing is always active) across competing users
    (water-filling): everyone below the water level gets their
    full demand, everyone above gets exactly the level, and the level
    is the highest value the budget supports — the scheduler math
    behind multi-tenant rate limits and shuffle-slot sharing, solved
    in CLOSED FORM: sort demands ascending and take the max feasible
    level (capacity - smaller-demands-served) / remaining-users over
    prefixes where the level still covers the boundary demand.

    The iterative water-filling loop becomes one global (rank,
    running-sum, grand-count) pass + one filtered max over the
    user-grain demand table — another fixpoint-to-closed-form
    conversion (q192's Gini, q233's weighted median are the same
    move). The global pass routes through operators/globalrank
    (range exchange + local windows + O(partitions) offsets), so the
    user grain never sits in a single-task window (r6 routing of
    VERDICT r5's record-grain window class)."""
    ev = table(spark, sf_dir, "events")
    from ..operators.globalrank import with_global_row_stats

    demand = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("d")
    )
    cap = demand.agg(F.floor(F.sum("d") * _Q301_CAP_FRAC).alias("c"))
    ranked = with_global_row_stats(
        demand,
        ["d", "user_id"],
        rank_col="rk",
        count_col="n",
        cum_sums={"cum": "d"},
    ).crossJoin(F.broadcast(cap))
    level = (
        (F.col("c") - (F.col("cum") - F.col("d"))).cast("double")
        / (F.col("n") - F.col("rk") + 1)
    )
    lvl = ranked.filter(level >= F.col("d")).agg(
        F.max(level).alias("water")
    )
    alloc = ranked.crossJoin(F.broadcast(lvl)).select(
        "user_id",
        "d",
        F.least(
            F.col("d").cast("double"),
            F.coalesce(
                F.col("water"), F.col("c").cast("double") / F.col("n")
            ),
        ).alias("share"),
    )
    return alloc.select(
        "user_id",
        F.col("d").alias("demand"),
        prnd("share", 4).alias("allocation"),
        (F.col("share") >= F.col("d")).cast("int").alias("fully_served"),
    )


# ---------------------------------------------------------------------------
# q302 tail attribution (who drives the global P99)
# ---------------------------------------------------------------------------


@query(
    "q302_p99_attribution",
    oracle=f"""
    WITH fence AS (
      SELECT quantile_cont(value, 0.99) AS p99 FROM events
    ),
    tail AS (
      SELECT e.event_type, e.value
      FROM events e CROSS JOIN fence f
      WHERE e.value > f.p99
    ),
    t AS (SELECT CAST(count(*) AS DOUBLE) AS n_tail FROM tail)
    SELECT tail.event_type,
           CAST(count(*) AS BIGINT) AS n_tail_events,
           {o_rnd('count(*) / any_value(t.n_tail)', 6)} AS tail_share,
           {o_rnd('avg(tail.value)', 4)} AS avg_tail_value
    FROM tail CROSS JOIN t
    GROUP BY tail.event_type
    """,
)
def q302_p99_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail attribution: which event types own the global P99 —
    the question an SLO breach postmortem actually asks (the p99
    moved: WHOSE traffic is in the tail?). Complements q295 (per-type
    tails) by slicing the one GLOBAL tail by contributor.

    Exact global fence once (scalar broadcast), map-side tail filter,
    one small groupBy — attribution costs one extra scan of the tail
    slice only."""
    ev = table(spark, sf_dir, "events")
    fence = ev.agg(F.expr("percentile(value, 0.99)").alias("p99"))
    tail = ev.crossJoin(F.broadcast(fence)).filter(
        F.col("value") > F.col("p99")
    )
    t = tail.agg(F.count("*").cast("double").alias("n_tail"))
    return (
        tail.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_tail_events"),
            F.avg("value").alias("_avg"),
        )
        .crossJoin(F.broadcast(t))
        .select(
            "event_type",
            "n_tail_events",
            prnd(F.col("n_tail_events") / F.col("n_tail"), 6).alias(
                "tail_share"
            ),
            prnd("_avg", 4).alias("avg_tail_value"),
        )
    )


# ---------------------------------------------------------------------------
# q304 absorbing-chain analytics (expected visits before purchase)
# ---------------------------------------------------------------------------

_Q304_TERMS = 24  # Neumann-series truncation: sum_{k<=24} Q^k


def _q304_oracle() -> str:
    head = f"""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    q0 AS (
      SELECT cur, nxt, CAST(count(*) AS DOUBLE)
             / sum(count(*)) OVER (PARTITION BY cur) AS p
      FROM seq WHERE nxt IS NOT NULL AND cur <> 'purchase'
      GROUP BY cur, nxt
    ),
    q AS (SELECT cur, nxt, p FROM q0 WHERE nxt <> 'purchase'),
    n1 AS MATERIALIZED (
      SELECT cur, nxt, p AS v FROM q
    ),
    acc1 AS MATERIALIZED (
      SELECT cur, nxt, v FROM n1
    )"""
    parts = [head]
    # MATERIALIZED: each term is referenced by both the next term and
    # the accumulator; default CTE inlining would expand the chain
    # exponentially
    for k in range(2, _Q304_TERMS + 1):
        parts.append(f""",
    n{k} AS MATERIALIZED (
      SELECT a.cur, q.nxt, sum(a.v * q.p) AS v
      FROM n{k - 1} a JOIN q ON q.cur = a.nxt
      GROUP BY a.cur, q.nxt
    ),
    acc{k} AS MATERIALIZED (
      SELECT cur, nxt, sum(v) AS v FROM (
        SELECT cur, nxt, v FROM acc{k - 1}
        UNION ALL SELECT cur, nxt, v FROM n{k}
      ) GROUP BY cur, nxt
    )""")
    parts.append(f"""
    SELECT cur AS start_state,
           {{o_rnd}}
    FROM (
      SELECT cur, 1.0 + sum(v) AS esteps FROM acc{_Q304_TERMS} GROUP BY cur
    )
    """)
    sql = "".join(parts)
    return sql.replace(
        "{o_rnd}", f"{o_rnd('esteps', 4)} AS expected_steps_to_purchase"
    )


@query("q304_absorbing_markov", oracle=_q304_oracle())
def q304_absorbing_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-chain analytics: expected number of steps a user
    takes before the next PURCHASE, from each starting event type —
    the fundamental-matrix quantity N = (I-Q)^(-1) 1 of the behavior
    chain (purchase = absorbing state), computed as the truncated
    Neumann series 1 + sum Q^k 1 (24 terms; the chain's spectral
    radius makes the tail geometric, same truncation law as the EMA
    closed-form oracles). Funnel metrics (q114) count who arrives;
    this says HOW LONG the journey is from every entry point.

    The transition COUNTING stays distributed (events scan, per-user
    window, (cur, nxt) aggregation — data-grain work); the Neumann
    series itself runs on the DRIVER over the collected transition
    matrix (r12, guide S1.2: the matrix is state-domain^2 rows — the
    event-type vocabulary, never data grain — and the previous 24
    distributed join+checkpoint terms cost 24 job round-trips plus 23
    eager localCheckpoints of pure scheduling latency at ANY scale,
    measured 4.2 s warm at sf0.1 vs ~1 s for one aggregation pass +
    a numpy loop).  Bounded-materialization site audited in
    tests/test_plans.py; same class as q56's coarse-seed collect.
    Series algebra is verbatim: term_k = Q^k 1, expected = 1 + sum_k
    term_k, float64 matmul (the join+sum order it replaces was itself
    partition-order-dependent; both sit ~1e11 below the 1e-4 grid)."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(wu).alias("nxt"),
    ).filter(F.col("nxt").isNotNull() & (F.col("cur") != "purchase"))
    counts = seq.groupBy("cur", "nxt").agg(F.count("*").alias("c"))
    tot = W.partitionBy("cur")
    q0 = counts.select(
        "cur",
        "nxt",
        (F.col("c").cast("double") / F.sum("c").over(tot)).alias("p"),
    )
    qm = q0.filter(F.col("nxt") != "purchase")
    rows = qm.collect()  # bounded: |event-type domain|^2 max
    states = sorted({r["cur"] for r in rows} | {r["nxt"] for r in rows})
    idx = {s: i for i, s in enumerate(states)}
    import numpy as np

    Q = np.zeros((len(states), len(states)))
    for r in rows:
        Q[idx[r["cur"]], idx[r["nxt"]]] = r["p"]
    v = np.ones(len(states))
    acc = np.zeros(len(states))
    for _ in range(1, _Q304_TERMS + 1):
        v = Q @ v
        acc = acc + v
    curs = sorted({r["cur"] for r in rows})
    out = [(c, 1.0 + float(acc[idx[c]])) for c in curs]
    return spark.createDataFrame(
        out, "start_state string, _e double"
    ).select(
        "start_state", prnd("_e", 4).alias("expected_steps_to_purchase")
    )


# ---------------------------------------------------------------------------
# q306 population estimation from partial observation
# ---------------------------------------------------------------------------


@query(
    "q306_population_estimates",
    oracle=f"""
    WITH sample_a AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    ),
    sample_b AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
    ),
    tank AS (
      SELECT max(user_id) AS m, CAST(count(*) AS BIGINT) AS k
      FROM sample_a
    ),
    lp AS (
      SELECT (SELECT count(*) FROM sample_a) AS na,
             (SELECT count(*) FROM sample_b) AS nb,
             (SELECT count(*) FROM sample_a a
              WHERE EXISTS (SELECT 1 FROM sample_b b
                            WHERE b.user_id = a.user_id)) AS nab
    ),
    truth AS (SELECT count(DISTINCT user_id) AS n_true FROM events)
    SELECT CAST(truth.n_true AS BIGINT) AS n_true,
           CAST(lp.na AS BIGINT) AS n_sample_a,
           CAST(lp.nb AS BIGINT) AS n_sample_b,
           CAST(lp.nab AS BIGINT) AS n_overlap,
           {o_rnd('(CAST(lp.na AS DOUBLE) * lp.nb) / lp.nab', 2)} AS lincoln_petersen,
           {o_rnd('CAST(tank.m AS DOUBLE) + CAST(tank.m AS DOUBLE) / tank.k - 1.0', 2)} AS german_tank
    FROM truth CROSS JOIN lp CROSS JOIN tank
    """,
)
def q306_population_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-size estimation from PARTIAL observation, two
    classic estimators side by side with the ground truth: Lincoln-
    Petersen capture-recapture (two independent samplers — clickers
    and viewers — estimate the total user base from their overlap:
    N ~ na*nb/nab) and the German-tank / maximum-spacing estimator
    (sequential ids: N ~ m + m/k - 1 from the sample maximum). The
    ops questions these answer daily: how many users does the
    UNSAMPLED firehose really have; how many ids exist behind a
    partner's API given the ids we've seen.

    Three distinct-aggregates and a semi-join overlap count — every
    estimator input is a scalar."""
    ev = table(spark, sf_dir, "events")
    sa = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    sb = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    tank = sa.agg(
        F.max("user_id").alias("m"), F.count("*").cast("long").alias("k")
    )
    na = sa.agg(F.count("*").alias("na"))
    nb = sb.agg(F.count("*").alias("nb"))
    nab = sa.join(sb, "user_id", "left_semi").agg(
        F.count("*").alias("nab")
    )
    truth = ev.agg(F.countDistinct("user_id").alias("n_true"))
    j = (
        truth.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nab))
        .crossJoin(F.broadcast(tank))
    )
    return j.select(
        F.col("n_true").cast("long").alias("n_true"),
        F.col("na").cast("long").alias("n_sample_a"),
        F.col("nb").cast("long").alias("n_sample_b"),
        F.col("nab").cast("long").alias("n_overlap"),
        prnd(
            (F.col("na").cast("double") * F.col("nb")) / F.col("nab"), 2
        ).alias("lincoln_petersen"),
        prnd(
            F.col("m").cast("double")
            + F.col("m").cast("double") / F.col("k")
            - 1.0,
            2,
        ).alias("german_tank"),
    )


# ---------------------------------------------------------------------------
# q321 as-of join with freshness tolerance (feature TTL)
# ---------------------------------------------------------------------------

_Q321_TTL_DAYS = 3


@query(
    "q321_asof_tolerance",
    oracle=f"""
    WITH c AS (
      SELECT event_type AS id, CAST(ts AS DATE) AS dt, avg(value) AS close
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    l AS (
      SELECT event_id, event_type, CAST(ts AS DATE) AS edt
      FROM events WHERE event_id % 11 = 0
    ),
    j AS (
      SELECT l.event_id, l.event_type, l.edt, c.close, c.dt AS cdt
      FROM l ASOF LEFT JOIN c ON l.event_type = c.id AND l.edt >= c.dt
    )
    SELECT event_id, event_type, edt,
           CAST(date_diff('day', cdt, edt) AS INTEGER) AS staleness_days,
           CASE WHEN cdt IS NOT NULL
                 AND date_diff('day', cdt, edt) <= {_Q321_TTL_DAYS}
                THEN floor(close * 10000.0 + 0.5001) / 10000.0 END AS fresh_close,
           CAST(cdt IS NULL
                OR date_diff('day', cdt, edt) > {_Q321_TTL_DAYS} AS INT) AS is_stale
    FROM j
    """,
)
def q321_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join with a freshness TTL — the feature-store
    contract beyond plain as-of (q19): a feature older than the
    tolerance is WRONG to serve, so matches staler than 3 days are
    rejected (NULL) and flagged rather than silently attached. Same
    single-shuffle tagged-union carry-forward plan as q19; the TTL is
    a post-join predicate, so the 100 TB shape is unchanged (no range
    explosion — tolerance does NOT become a join condition)."""
    from ..operators.asof import asof_join

    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 0)
    left = ev.select(
        "event_id",
        F.col("event_type").alias("id"),
        F.to_date("ts").alias("edt"),
    )
    right = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("id"), F.to_date("ts").alias("edt")
        )
        .agg(F.avg("value").alias("close"))
        .select("id", "edt", "close", F.col("edt").alias("cdt"))
    )
    j = asof_join(left, right, on="edt", by="id", value_cols=["close", "cdt"])
    stale_days = F.datediff(F.col("edt"), F.col("right_cdt"))
    is_stale = (
        F.col("right_cdt").isNull() | (stale_days > _Q321_TTL_DAYS)
    ).cast("int")
    return j.select(
        "event_id",
        F.col("id").alias("event_type"),
        "edt",
        stale_days.cast("int").alias("staleness_days"),
        F.when(
            F.col("right_cdt").isNotNull()
            & (stale_days <= _Q321_TTL_DAYS),
            prnd(F.col("right_close"), 4),
        ).alias("fresh_close"),
        is_stale.alias("is_stale"),
    )


# ---------------------------------------------------------------------------
# q322 point-in-time multi-feature materialization
# ---------------------------------------------------------------------------


@query(
    "q322_point_in_time_features",
    oracle="""
    WITH c AS (
      SELECT event_type AS id, CAST(ts AS DATE) AS dt, avg(value) AS close
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    r5 AS (
      SELECT id, dt,
             avg(close) OVER (PARTITION BY id ORDER BY dt
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll5
      FROM c
    ),
    hist AS (
      SELECT event_id, user_id, event_type, ts, CAST(ts AS DATE) AS edt,
             count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS user_prior_events
      FROM events
    ),
    l AS (SELECT * FROM hist WHERE event_id % 7 = 0),
    f1 AS (
      SELECT l.event_id, l.user_id, l.event_type, l.edt,
             l.user_prior_events, c.close AS asof_close, c.dt AS asof_dt
      FROM l ASOF LEFT JOIN c ON l.event_type = c.id AND l.edt >= c.dt
    )
    SELECT f1.event_id, f1.user_id, f1.event_type, f1.edt,
           CAST(f1.user_prior_events AS BIGINT) AS user_prior_events,
           floor(f1.asof_close * 10000.0 + 0.5001) / 10000.0 AS asof_close,
           f1.asof_dt,
           floor(r5.roll5 * 10000.0 + 0.5001) / 10000.0 AS asof_roll5
    FROM f1 ASOF LEFT JOIN r5
      ON f1.event_type = r5.id AND f1.edt >= r5.dt
    """,
)
def q322_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct multi-feature materialization — the
    feature-store centerpiece: for each (sampled) event, attach (a)
    the latest daily close at or before the event day, (b) the latest
    5-day rolling mean at or before it, and (c) the user's own strict
    prior event count — three features, every one leak-free by
    construction (as-of joins look only backward; the user history
    window ends at 1 PRECEDING with a deterministic (ts, event_id)
    order). This is the exact join discipline that prevents
    train-serve skew in training-data generation at 100 TB: two
    carry-forward as-of passes (each one shuffle on the entity key,
    q19 plan) + one cumulative window, never a per-row point lookup."""
    from pyspark.sql import Window as W

    from ..operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    c = (
        ev.groupBy(F.col("event_type").alias("id"), F.to_date("ts").alias("dt"))
        .agg(F.avg("value").alias("close"))
    )
    wid = W.partitionBy("id").orderBy("dt")
    r5 = c.select(
        "id", "dt", F.avg("close").over(wid.rowsBetween(-4, 0)).alias("roll5")
    )
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    hist = ev.select(
        "event_id",
        "user_id",
        F.col("event_type").alias("id"),
        "ts",
        F.to_date("ts").alias("edt"),
        F.count("*")
        .over(wu.rowsBetween(W.unboundedPreceding, -1))
        .alias("user_prior_events"),
    )
    left = hist.filter(F.col("event_id") % 7 == 0).drop("ts")
    f1 = asof_join(
        left,
        c.select("id", F.col("dt").alias("edt"), "close", F.col("dt").alias("cdt")),
        on="edt",
        by="id",
        value_cols=["close", "cdt"],
    ).select(
        "event_id", "user_id", "id", "edt", "user_prior_events",
        F.col("right_close").alias("asof_close"),
        F.col("right_cdt").alias("asof_dt"),
    )
    f2 = asof_join(
        f1,
        r5.select("id", F.col("dt").alias("edt"), "roll5"),
        on="edt",
        by="id",
        value_cols=["roll5"],
    )
    return f2.select(
        "event_id",
        "user_id",
        F.col("id").alias("event_type"),
        "edt",
        F.col("user_prior_events").cast("long").alias("user_prior_events"),
        prnd(F.col("asof_close"), 4).alias("asof_close"),
        "asof_dt",
        prnd(F.col("right_roll5"), 4).alias("asof_roll5"),
    )


# ---------------------------------------------------------------------------
# q327 experiment sample-size / MDE planner
# ---------------------------------------------------------------------------

_Q327_Z_ALPHA = 1.959963984540054  # Phi^-1(0.975), two-sided alpha=0.05
_Q327_Z_BETA = 0.8416212335729143  # Phi^-1(0.8), power=0.8
_Q327_N_PLAN = 10000
_Q327_REL_EFFECT = 0.01


def _q327_oracle() -> str:
    z2 = f"({_Q327_Z_ALPHA!r} + {_Q327_Z_BETA!r})"
    return f"""
    WITH s AS (
      SELECT event_type,
             count(*) AS n, avg(value) AS mu, var_pop(value) AS v
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_obs,
           {o_rnd('mu', 6)} AS mean_value,
           {o_rnd('v', 6)} AS var_value,
           {o_rnd(f'{z2} * sqrt(2.0 * v / {_Q327_N_PLAN})', 6)} AS mde_at_10k,
           CAST(ceil(2.0 * v * {z2} * {z2}
                     / (({_Q327_REL_EFFECT} * mu) * ({_Q327_REL_EFFECT} * mu)))
                AS BIGINT) AS n_per_arm_1pct
    FROM s
    """


@query("q327_mde_planner", oracle=_q327_oracle())
def q327_mde_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-design planner from observed metric moments: per
    event type, the minimum detectable effect at n=10k/arm and the
    required n per arm to detect a 1% relative lift (two-sample
    normal approximation, alpha=0.05 two-sided, power=0.8 — z values
    pinned as exact double literals). The planning counterpart of the
    post-hoc tests (q168 t-test, q208 SRM, q275 SPRT): every
    experimentation platform runs THIS query against historical data
    before any experiment starts. Pure sufficient-statistics algebra
    — one aggregation, closed-form arithmetic, identical at any
    scale."""
    ev = table(spark, sf_dir, "events")
    z2 = _Q327_Z_ALPHA + _Q327_Z_BETA
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("mu"),
        F.var_pop("value").alias("v"),
    )
    delta = _Q327_REL_EFFECT * F.col("mu")
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_obs"),
        prnd(F.col("mu"), 6).alias("mean_value"),
        prnd(F.col("v"), 6).alias("var_value"),
        prnd(
            F.lit(z2) * F.sqrt(2.0 * F.col("v") / _Q327_N_PLAN), 6
        ).alias("mde_at_10k"),
        F.ceil(
            2.0 * F.col("v") * F.lit(z2) * F.lit(z2) / (delta * delta)
        ).cast("long").alias("n_per_arm_1pct"),
    )


# ---------------------------------------------------------------------------
# q329 exact rolling distinct users (7-day sliding window)
# ---------------------------------------------------------------------------

_Q329_WINDOW_DAYS = 7


@query(
    "q329_rolling_uniques_exact",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS d
      FROM events
    ),
    days AS (SELECT DISTINCT event_type, d FROM du),
    contrib AS (
      SELECT event_type, user_id,
             d + CAST(o AS INTEGER) AS win_end
      FROM du, unnest(range(0, {_Q329_WINDOW_DAYS})) t(o)
    ),
    cnt AS (
      SELECT event_type, win_end,
             count(DISTINCT user_id) AS uniques
      FROM contrib GROUP BY event_type, win_end
    )
    SELECT days.event_type, days.d AS dt,
           CAST(cnt.uniques AS BIGINT) AS uniques_7d
    FROM days JOIN cnt
      ON cnt.event_type = days.event_type AND cnt.win_end = days.d
    """,
)
def q329_rolling_uniques_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT sliding-window distinct users (7 days) per event type —
    the precise counterpart of q105's windowed HLL. Distinct-in-window
    is not a window aggregate (COUNT(DISTINCT) OVER a frame is
    unsupported and would hold per-frame sets anyway); the scalable
    formulation: dedup to (type, user, day) once, then each active day
    CONTRIBUTES to the 7 window-ends it falls into (a bounded explode
    = window_days fanout, not rows^2), and one distinct-count per
    (type, window_end) finishes. Reported only for days the type was
    actually active (same spine as the raw data).

    At 100 TB: the pre-dedup collapses the event volume to active
    (user, day) pairs before any fanout; the x7 explode is map-side;
    both shuffles key on (type, day-ish) — linear end to end."""
    ev = table(spark, sf_dir, "events")
    du = ev.select(
        "event_type", "user_id", F.to_date("ts").alias("d")
    ).distinct()
    days = du.select("event_type", "d").distinct()
    contrib = du.withColumn(
        "win_end",
        F.explode(
            F.array(
                *[
                    F.date_add(F.col("d"), o)
                    for o in range(_Q329_WINDOW_DAYS)
                ]
            )
        ),
    )
    cnt = contrib.groupBy("event_type", "win_end").agg(
        F.countDistinct("user_id").alias("uniques")
    )
    return days.join(
        cnt,
        (cnt.event_type == days.event_type) & (cnt.win_end == days.d),
    ).select(
        days.event_type,
        days.d.alias("dt"),
        F.col("uniques").cast("long").alias("uniques_7d"),
    )


# ---------------------------------------------------------------------------
# q330 difference-in-differences estimator
# ---------------------------------------------------------------------------

_Q330_CUTOFF = "2024-01-16"
_Q330_TREAT = ("purchase", "signup")
_Q330_CONTROL = ("view", "click")


def _q330_oracle() -> str:
    tr = ", ".join(f"'{t}'" for t in _Q330_TREAT)
    ct = ", ".join(f"'{c}'" for c in _Q330_CONTROL)
    return f"""
    WITH e AS (
      SELECT CASE WHEN event_type IN ({tr}) THEN 1 ELSE 0 END AS treated,
             CASE WHEN CAST(ts AS DATE) >= DATE '{_Q330_CUTOFF}'
                  THEN 1 ELSE 0 END AS post,
             value
      FROM events
      WHERE event_type IN ({tr}, {ct})
    ),
    cells AS (
      SELECT treated, post,
             count(*) AS n, avg(value) AS mu, var_pop(value) AS v
      FROM e GROUP BY treated, post
    ),
    wide AS (
      SELECT
        max(CASE WHEN treated = 1 AND post = 1 THEN mu END) AS t_post,
        max(CASE WHEN treated = 1 AND post = 0 THEN mu END) AS t_pre,
        max(CASE WHEN treated = 0 AND post = 1 THEN mu END) AS c_post,
        max(CASE WHEN treated = 0 AND post = 0 THEN mu END) AS c_pre,
        max(CASE WHEN treated = 1 AND post = 1 THEN v / n END) AS vt1,
        max(CASE WHEN treated = 1 AND post = 0 THEN v / n END) AS vt0,
        max(CASE WHEN treated = 0 AND post = 1 THEN v / n END) AS vc1,
        max(CASE WHEN treated = 0 AND post = 0 THEN v / n END) AS vc0,
        CAST(sum(n) AS BIGINT) AS n_total
      FROM cells
    )
    SELECT n_total,
           {o_rnd('t_post - t_pre', 6)} AS treated_delta,
           {o_rnd('c_post - c_pre', 6)} AS control_delta,
           {o_rnd('(t_post - t_pre) - (c_post - c_pre)', 6)} AS did_estimate,
           {o_rnd('sqrt(vt1 + vt0 + vc1 + vc0)', 6)} AS did_se,
           CAST(abs((t_post - t_pre) - (c_post - c_pre))
                / sqrt(vt1 + vt0 + vc1 + vc0) > 1.959963984540054 AS INT)
             AS significant
    FROM wide
    """


@query("q330_diff_in_diff", oracle=_q330_oracle())
def q330_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the workhorse quasi-experimental
    estimator when randomization is impossible — treated streams'
    post-minus-pre change, net of the control streams' change over the
    same cutoff, with a normal-approximation SE from the four cell
    variances (parallel-trends is the identifying assumption; the
    pre-period deltas q211/q120 describe are the diagnostics).
    Everything is four-cell sufficient statistics: one conditional
    aggregation + one pivot-to-scalars pass, identical at any scale."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(*(_Q330_TREAT + _Q330_CONTROL))
    )
    e = ev.select(
        F.col("event_type").isin(*_Q330_TREAT).cast("int").alias("treated"),
        (F.to_date("ts") >= F.lit(_Q330_CUTOFF).cast("date"))
        .cast("int")
        .alias("post"),
        "value",
    )
    cells = e.groupBy("treated", "post").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("mu"),
        F.var_pop("value").alias("v"),
    )

    def cell(tr, po, col):
        return F.max(
            F.when((F.col("treated") == tr) & (F.col("post") == po), F.col(col))
        )

    wide = cells.agg(
        cell(1, 1, "mu").alias("t_post"),
        cell(1, 0, "mu").alias("t_pre"),
        cell(0, 1, "mu").alias("c_post"),
        cell(0, 0, "mu").alias("c_pre"),
        F.max(
            F.when(
                (F.col("treated") == 1) & (F.col("post") == 1),
                F.col("v") / F.col("n"),
            )
        ).alias("vt1"),
        F.max(
            F.when(
                (F.col("treated") == 1) & (F.col("post") == 0),
                F.col("v") / F.col("n"),
            )
        ).alias("vt0"),
        F.max(
            F.when(
                (F.col("treated") == 0) & (F.col("post") == 1),
                F.col("v") / F.col("n"),
            )
        ).alias("vc1"),
        F.max(
            F.when(
                (F.col("treated") == 0) & (F.col("post") == 0),
                F.col("v") / F.col("n"),
            )
        ).alias("vc0"),
        F.sum("n").cast("long").alias("n_total"),
    )
    did = (F.col("t_post") - F.col("t_pre")) - (
        F.col("c_post") - F.col("c_pre")
    )
    se = F.sqrt(
        F.col("vt1") + F.col("vt0") + F.col("vc1") + F.col("vc0")
    )
    return wide.select(
        "n_total",
        prnd(F.col("t_post") - F.col("t_pre"), 6).alias("treated_delta"),
        prnd(F.col("c_post") - F.col("c_pre"), 6).alias("control_delta"),
        prnd(did, 6).alias("did_estimate"),
        prnd(se, 6).alias("did_se"),
        (F.abs(did) / se > 1.959963984540054).cast("int").alias("significant"),
    )


# ---------------------------------------------------------------------------
# q332 Hawkes self-exciting intensity
# ---------------------------------------------------------------------------


def _q332_oracle() -> str:
    from ..operators.timeseries import HAWKES_ALPHA, HAWKES_MU, HAWKES_TAU_S

    return f"""
    WITH RECURSIVE c AS MATERIALIZED (
      SELECT event_type, event_id, epoch_us(ts) AS us,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    r AS (
      SELECT event_type, event_id, rn, us, CAST(0.0 AS DOUBLE) AS a
      FROM c WHERE rn = 1
      UNION ALL
      SELECT c.event_type, c.event_id, c.rn, c.us,
             exp(-((c.us - p.us) / 1000000.0) / {HAWKES_TAU_S!r}) * (p.a + 1.0) AS a
      FROM r p JOIN c ON c.event_type = p.event_type AND c.rn = p.rn + 1
    )
    SELECT event_type, event_id, CAST(rn AS BIGINT) AS rn,
           {o_rnd('a', 6)} AS decayed_count,
           {o_rnd(f'{HAWKES_MU!r} + {HAWKES_ALPHA!r} * (1.0 / {HAWKES_TAU_S!r}) * a', 9)}
             AS intensity
    FROM r
    """


@query("q332_hawkes_intensity", oracle=_q332_oracle())
def q332_hawkes_intensity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hawkes self-exciting process intensity at every event: the
    exponentially-decayed count of all prior events in the stream and
    the implied conditional intensity — THE model for clustered
    arrivals (bursty error cascades, momentum trading); its O(n^2)
    kernel sum collapses to a one-float recursion under the
    exponential kernel (operators/timeseries.hawkes_intensity).
    Complements the descriptive burstiness statistic (q213) with the
    generative model's state variable.

    Recursion state is exp-products of EXACT integer micros deltas —
    C-libm exp on both sides — so the oracle's recursive CTE replays
    it bit-for-bit (no grid snaps inside the loop; the ``_per_id``
    kernel law: one key-shuffle, O(rows) per stream)."""
    from ..operators.timeseries import hawkes_intensity

    out = hawkes_intensity(table(spark, sf_dir, "events"))
    return out.select(
        "event_type",
        "event_id",
        F.col("rn").cast("long").alias("rn"),
        prnd(F.col("decayed_count"), 6).alias("decayed_count"),
        prnd(F.col("intensity"), 9).alias("intensity"),
    )


# ---------------------------------------------------------------------------
# q333 weight-of-evidence / information-value binning
# ---------------------------------------------------------------------------

_Q333_BINS = 10
_Q333_TARGET = "purchase"


def _q333_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT event_id, value,
             CASE WHEN event_type = '{_Q333_TARGET}' THEN 1 ELSE 0 END AS y,
             ntile({_Q333_BINS}) OVER (ORDER BY value, event_id) AS bin
      FROM events
    ),
    b AS (
      SELECT bin, count(*) AS n,
             sum(y) AS n_pos, count(*) - sum(y) AS n_neg
      FROM e GROUP BY bin
    ),
    t AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn FROM b)
    SELECT CAST(b.bin AS INTEGER) AS bin,
           CAST(b.n AS BIGINT) AS n,
           CAST(b.n_pos AS BIGINT) AS n_pos,
           {o_rnd('CAST(b.n_pos AS DOUBLE) / t.tp', 6)} AS pos_share,
           {o_rnd('CAST(b.n_neg AS DOUBLE) / t.tn', 6)} AS neg_share,
           {o_rnd('ln((CAST(b.n_pos AS DOUBLE) / t.tp) / (CAST(b.n_neg AS DOUBLE) / t.tn))', 6)} AS woe,
           {o_rnd('''(CAST(b.n_pos AS DOUBLE) / t.tp - CAST(b.n_neg AS DOUBLE) / t.tn)
                  * ln((CAST(b.n_pos AS DOUBLE) / t.tp) / (CAST(b.n_neg AS DOUBLE) / t.tn))''', 6)} AS iv_contrib
    FROM b CROSS JOIN t
    """


@query("q333_woe_iv_binning", oracle=_q333_oracle())
def q333_woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value supervised binning: the
    `value` feature cut into 10 equal-frequency bins (ntile with a
    deterministic (value, event_id) tie-break), each bin's share of
    positives vs negatives (target = purchase events), its WOE
    ln(pos_share/neg_share) and IV contribution — the credit-scoring
    feature-engineering standard for monotonic-risk encoding and
    feature screening (IV > 0.3 = strong), sitting next to the
    hash-target encoder (q179) as the SUPERVISED binning path.

    The equal-frequency cut routes through
    operators/globalrank.with_global_ntile — range exchange on
    (value, event_id) + per-partition rank + O(partitions) offsets,
    never a single-task ntile window over all events (r6 routing of
    VERDICT r5's record-grain window class); everything after is
    exact integer counts."""
    from ..operators.globalrank import with_global_ntile

    ev = table(spark, sf_dir, "events")
    e = with_global_ntile(
        ev.select(
            "event_id",
            "value",
            (F.col("event_type") == _Q333_TARGET).cast("int").alias("y"),
        ),
        ["value", "event_id"],
        _Q333_BINS,
        "bin",
    )
    b = e.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("n_pos"),
        (F.count("*") - F.sum("y")).alias("n_neg"),
    )
    t = b.agg(
        F.sum("n_pos").alias("tp"), F.sum("n_neg").alias("tn")
    )
    j = b.crossJoin(F.broadcast(t))
    ps = F.col("n_pos").cast("double") / F.col("tp")
    ns = F.col("n_neg").cast("double") / F.col("tn")
    woe = F.log(ps / ns)
    return j.select(
        F.col("bin").cast("int").alias("bin"),
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        prnd(ps, 6).alias("pos_share"),
        prnd(ns, 6).alias("neg_share"),
        prnd(woe, 6).alias("woe"),
        prnd((ps - ns) * woe, 6).alias("iv_contrib"),
    )


# ---------------------------------------------------------------------------
# q360 watermark sweep (late-event drop-rate curve)
# ---------------------------------------------------------------------------

_Q360_WATERMARKS_S = (0, 60, 300, 3600)


def _q360_oracle() -> str:
    vals = ", ".join(f"({w})" for w in _Q360_WATERMARKS_S)
    return f"""
    WITH e AS (SELECT event_id, epoch_us(ts) AS us FROM events),
    c AS (
      SELECT event_id, us,
             max(us) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hw
      FROM e
    ),
    l AS (SELECT us, hw - us AS late_us FROM c),
    cfg(w) AS (VALUES {vals})
    SELECT CAST(cfg.w AS INTEGER) AS watermark_s,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE late_us > 0) AS BIGINT) AS n_late,
           CAST(count(*) FILTER (WHERE late_us > CAST(cfg.w AS BIGINT) * 1000000)
                AS BIGINT) AS n_dropped,
           {o_rnd("CAST(count(*) FILTER (WHERE late_us > CAST(cfg.w AS BIGINT) * 1000000) AS DOUBLE) / count(*)", 6)} AS drop_rate,
           CAST(max(late_us) AS BIGINT) AS max_late_us
    FROM l CROSS JOIN cfg GROUP BY cfg.w
    """


@query("q360_watermark_sweep", oracle=_q360_oracle())
def q360_watermark_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark planning sweep: for candidate watermark delays
    (0s/1m/5m/1h), how many events would a streaming job drop as
    too-late — each event's lateness measured against the running
    event-time high-water mark in ARRIVAL order (event_id), exactly
    the `withWatermark` drop rule of Structured Streaming
    (streaming/pipelines.py consumers).  q162 audits per-type
    disorder; this is the GLOBAL curve an SRE reads to set the
    watermark: the drop-rate-vs-delay trade, before committing state
    size to a longer watermark.

    The arrival-order running max routes through
    operators/globalrank's cum_maxs (r5 extension) — range-partition
    on event_id, per-partition running max, O(partitions) offset
    maxima combined with greatest() — so the raw stream never sits in
    a single-task window; the 4-notch sweep is a broadcast cross join
    over per-event lateness.  All arithmetic in exact integer
    microseconds (the q162 law)."""
    from ..operators.globalrank import with_global_row_stats

    ev = table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    c = with_global_row_stats(ev, ["event_id"], cum_maxs={"hw": "us"})
    late = c.select((F.col("hw") - F.col("us")).alias("late_us"))
    cfg = spark.createDataFrame(
        [(w,) for w in _Q360_WATERMARKS_S], "w int"
    )
    j = late.crossJoin(F.broadcast(cfg))
    dropped = F.col("late_us") > F.col("w").cast("long") * 1000000
    return j.groupBy("w").agg(
        F.count("*").cast("long").alias("n_events"),
        F.count(F.when(F.col("late_us") > 0, 1)).cast("long").alias("n_late"),
        F.count(F.when(dropped, 1)).cast("long").alias("n_dropped"),
        prnd(
            F.count(F.when(dropped, 1)).cast("double") / F.count("*"), 6
        ).alias("drop_rate"),
        F.max("late_us").cast("long").alias("max_late_us"),
    ).select(
        F.col("w").cast("int").alias("watermark_s"),
        "n_events", "n_late", "n_dropped", "drop_rate", "max_late_us",
    )


# ---------------------------------------------------------------------------
# q375 quantile treatment effects (per-decile A/B lift)
# ---------------------------------------------------------------------------

_Q375_DECILES = tuple(range(1, 10))


def _q375_oracle() -> str:
    sel = []
    for d in _Q375_DECILES:
        q = d / 10.0
        lo = f"CAST(floor({q} * (n - 1)) AS BIGINT) + 1"
        hi = f"CAST(ceil({q} * (n - 1)) AS BIGINT) + 1"
        sel.append(f"max(CASE WHEN rn = {lo} THEN metric END) AS vlo_{d}")
        sel.append(f"max(CASE WHEN rn = {hi} THEN metric END) AS vhi_{d}")
    rows = []
    for d in _Q375_DECILES:
        q = d / 10.0
        qa = (f"a0.vlo_{d} + (({q} * (a0.n - 1)) - floor({q} * (a0.n - 1)))"
              f" * (a0.vhi_{d} - a0.vlo_{d})")
        qb = (f"a1.vlo_{d} + (({q} * (a1.n - 1)) - floor({q} * (a1.n - 1)))"
              f" * (a1.vhi_{d} - a1.vlo_{d})")
        rows.append(f"""
        SELECT CAST({d} AS INTEGER) AS decile,
               CAST(a0.n AS BIGINT) AS n_a, CAST(a1.n AS BIGINT) AS n_b,
               {o_rnd(qa, 4)} AS q_a, {o_rnd(qb, 4)} AS q_b,
               {o_rnd(f'({qb}) - ({qa})', 4)} AS qte
        FROM a0, a1""")
    return f"""
    WITH m AS (
      SELECT user_id, user_id % 2 AS grp, sum(value) AS metric
      FROM events GROUP BY user_id
    ),
    r AS (
      SELECT grp, metric, user_id,
             row_number() OVER (PARTITION BY grp
                                ORDER BY metric, user_id) AS rn,
             count(*) OVER (PARTITION BY grp) AS n
      FROM m
    ),
    a AS (SELECT grp, max(n) AS n, {", ".join(sel)} FROM r GROUP BY grp),
    a0 AS (SELECT * FROM a WHERE grp = 0),
    a1 AS (SELECT * FROM a WHERE grp = 1)
    {" UNION ALL ".join(rows)}
    """


@query("q375_quantile_effects", oracle=_q375_oracle())
def q375_quantile_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: per-user spend under the hash
    split (q168's user_id % 2 arms), exact PERCENTILE_CONT at every
    decile per arm (q156's straddling-rank law), and QTE_d = q_B -
    q_A — where the distributional story lives that q168's Welch t
    on means cannot see (an experiment that moves only the top
    decile has mean lift but flat medians).

    Scale shape: per-user metrics come from one partial-agg groupBy;
    the per-arm rank that exact percentiles need is the TWO-PASS
    distributed global rank (operators/globalrank.py — composite
    (grp, metric, user) total order, range partitioning, broadcast
    offset table), NOT a per-arm window, which would put each arm's
    millions of users in one task; in-arm rank falls out as global
    rank minus the arm's broadcast base.  Decile extraction is
    conditional aggregation over ranked rows — no driver math."""
    from ..operators.globalrank import with_global_row_stats

    ev = table(spark, sf_dir, "events")
    m = ev.groupBy("user_id").agg(F.sum("value").alias("metric")).select(
        (F.col("user_id") % 2).alias("grp"), "metric", "user_id"
    )
    ranked = with_global_row_stats(
        m, order_by=["grp", "metric", "user_id"], rank_col="grn"
    )
    base = ranked.groupBy("grp").agg(
        F.min("grn").alias("base"), F.count("*").alias("n")
    )
    r = ranked.join(F.broadcast(base), "grp").select(
        "grp", "metric",
        (F.col("grn") - F.col("base") + 1).alias("rn"),
        "n",
    )
    aggs = [F.max("n").alias("n")]
    for d in _Q375_DECILES:
        q = d / 10.0
        pos = F.lit(q) * (F.col("n") - 1)
        lo = F.floor(pos).cast("long") + 1
        hi = F.ceil(pos).cast("long") + 1
        aggs.append(
            F.max(F.when(F.col("rn") == lo, F.col("metric"))).alias(f"vlo_{d}")
        )
        aggs.append(
            F.max(F.when(F.col("rn") == hi, F.col("metric"))).alias(f"vhi_{d}")
        )
    a = r.groupBy("grp").agg(*aggs)
    a0 = a.filter(F.col("grp") == 0).drop("grp")
    a1 = a.filter(F.col("grp") == 1).drop("grp")
    wide = F.broadcast(a0.select(
        F.col("n").alias("n_a"),
        *[F.col(f"vlo_{d}").alias(f"alo_{d}") for d in _Q375_DECILES],
        *[F.col(f"vhi_{d}").alias(f"ahi_{d}") for d in _Q375_DECILES],
    )).crossJoin(F.broadcast(a1.select(
        F.col("n").alias("n_b"),
        *[F.col(f"vlo_{d}").alias(f"blo_{d}") for d in _Q375_DECILES],
        *[F.col(f"vhi_{d}").alias(f"bhi_{d}") for d in _Q375_DECILES],
    )))

    def interp(n_col, lo_col, hi_col, q):
        pos = F.lit(q) * (F.col(n_col) - 1)
        return F.col(lo_col) + (pos - F.floor(pos)) * (
            F.col(hi_col) - F.col(lo_col)
        )

    structs = []
    for d in _Q375_DECILES:
        q = d / 10.0
        qa = interp("n_a", f"alo_{d}", f"ahi_{d}", q)
        qb = interp("n_b", f"blo_{d}", f"bhi_{d}", q)
        structs.append(
            F.struct(
                F.lit(d).cast("int").alias("decile"),
                F.col("n_a").cast("long").alias("n_a"),
                F.col("n_b").cast("long").alias("n_b"),
                prnd(qa, 4).alias("q_a"),
                prnd(qb, 4).alias("q_b"),
                prnd(qb - qa, 4).alias("qte"),
            )
        )
    return wide.select(
        F.explode(F.array(*structs)).alias("x")
    ).select("x.*")


# ---------------------------------------------------------------------------
# q377 Freedman-Diaconis bin-width advisor
# ---------------------------------------------------------------------------


def _q377_oracle() -> str:
    # exact IQR via straddling-rank interpolation (q156 law)
    sel = []
    for q, tag in ((0.25, "q1"), (0.75, "q3")):
        lo = f"CAST(floor({q} * (n - 1)) AS BIGINT) + 1"
        hi = f"CAST(ceil({q} * (n - 1)) AS BIGINT) + 1"
        sel.append(f"max(CASE WHEN rn = {lo} THEN value END) AS vlo_{tag}")
        sel.append(f"max(CASE WHEN rn = {hi} THEN value END) AS vhi_{tag}")
    def interp(q, tag):
        pos = f"{q} * (n_rows - 1)"
        return (f"(vlo_{tag} + (({pos}) - floor({pos}))"
                f" * (vhi_{tag} - vlo_{tag}))")
    iqr = f"({interp(0.75, 'q3')} - {interp(0.25, 'q1')})"
    width = f"(2.0 * {iqr} / pow(n_rows, 1.0 / 3.0))"
    width_r = o_rnd(width, 6)
    return f"""
    WITH r AS (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    a AS (
      SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows,
             min(value) AS vmin, max(value) AS vmax,
             {", ".join(sel)}
      FROM r GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_rows AS BIGINT) AS n_rows,
           {o_rnd(iqr, 6)} AS iqr,
           {width_r} AS fd_width,
           CAST(ceil((vmax - vmin) / ({width_r})) AS BIGINT) AS n_bins
    FROM a
    """


@query("q377_fd_binwidth", oracle=_q377_oracle())
def q377_fd_binwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freedman-Diaconis bin-width advisor per event type: width =
    2*IQR/n^(1/3) from the EXACT interquartile range (q156's
    straddling-rank interpolation, not an engine sketch), plus the
    implied bin count over the observed range — the principled input
    q169's histogram needs instead of a hand-picked bucket count.
    The bin count divides by the ROUNDED width so the ceil boundary
    is grid-pinned, never decided by cross-engine fp drift.

    Scale shape: one per-type rank window (at 100 TB the per-type
    sort is the honest cost of exact quantiles; the q375 globalrank
    two-pass applies if one type dominates), then conditional
    aggregation — two shuffles total, no joins."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    r = ev.select(
        "event_type", "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("event_type")).alias("n"),
    )
    aggs = [
        F.max("n").cast("long").alias("n_rows"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    ]
    for q, tag in ((0.25, "q1"), (0.75, "q3")):
        pos = F.lit(q) * (F.col("n") - 1)
        lo = F.floor(pos).cast("long") + 1
        hi = F.ceil(pos).cast("long") + 1
        aggs.append(
            F.max(F.when(F.col("rn") == lo, F.col("value"))).alias(f"vlo_{tag}")
        )
        aggs.append(
            F.max(F.when(F.col("rn") == hi, F.col("value"))).alias(f"vhi_{tag}")
        )
    a = r.groupBy("event_type").agg(*aggs)

    def interp(q, tag):
        pos = F.lit(q) * (F.col("n_rows") - 1)
        return F.col(f"vlo_{tag}") + (pos - F.floor(pos)) * (
            F.col(f"vhi_{tag}") - F.col(f"vlo_{tag}")
        )

    iqr = interp(0.75, "q3") - interp(0.25, "q1")
    width_r = prnd(
        F.lit(2.0) * iqr / F.pow(F.col("n_rows").cast("double"), 1.0 / 3.0),
        6,
    )
    return a.select(
        "event_type",
        "n_rows",
        prnd(iqr, 6).alias("iqr"),
        width_r.alias("fd_width"),
        F.ceil((F.col("vmax") - F.col("vmin")) / width_r)
        .cast("long")
        .alias("n_bins"),
    )


# ---------------------------------------------------------------------------
# q383 IPS / SNIPS off-policy evaluation
# ---------------------------------------------------------------------------

# target policy: even-hash users get 'purchase', odd-hash get 'click'
_Q383_ARMS = ("purchase", "click")
_Q383_WCAP = 20.0  # importance-weight clip


def _q383_oracle() -> str:
    from ..functions.portable import o_hash64

    h_u = o_hash64("user_id")
    h_ua = o_hash64("CAST(user_id AS VARCHAR) || ':' || event_type")
    pi_a = (f"CASE WHEN ({h_u}) % 2 = 0 THEN '{_Q383_ARMS[0]}' "
            f"ELSE '{_Q383_ARMS[1]}' END")
    p_log = f"(0.1 + 0.8 * (({h_ua}) % 1000) / 999.0)"
    w = f"least({_Q383_WCAP}, 1.0 / {p_log})"
    return f"""
    WITH logged AS (
      SELECT event_type, value,
             {pi_a} AS pi_action,
             CASE WHEN event_type = {pi_a} THEN {w} ELSE 0.0 END AS w
      FROM events
    )
    SELECT CAST(count(*) AS BIGINT) AS n_logged,
           CAST(count(*) FILTER (WHERE w > 0) AS BIGINT) AS n_matched,
           {o_rnd('avg(value)', 4)} AS logging_value,
           {o_rnd('sum(w * value) / count(*)', 4)} AS ips_value,
           {o_rnd('sum(w * value) / sum(w)', 4)} AS snips_value,
           {o_rnd('sum(w) / count(*)', 6)} AS mean_weight
    FROM logged
    """


@query("q383_ips_offpolicy", oracle=_q383_oracle())
def q383_ips_offpolicy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation of a deterministic target policy from
    logged bandit feedback: IPS (inverse-propensity-scored) and
    SNIPS (self-normalized) value estimates with a weight clip —
    how a recsys/ranking team scores a candidate policy on logs
    BEFORE an online test (the q168/q375 experiment family's
    offline sibling).  Logged propensities are a deterministic
    hash-derived column (in production they are logged with the
    event); the target policy is a user-hash rule, so both engines
    replay the identical counterfactual.  SNIPS trades IPS's
    unbiasedness for variance control; mean_weight near 1 is the
    standard sanity diagnostic.

    Scale shape: one map-side projection (hashes, the match
    indicator, the clipped weight) and ONE scalar aggregate — no
    shuffle beyond the final fold; the hash budget is one md5 per
    row plus one per (row, action) string concat (q315's hash-budget
    law)."""
    from ..functions.portable import hash64

    ev = table(spark, sf_dir, "events")
    h_u = hash64(F.col("user_id"))
    h_ua = hash64(
        F.concat(
            F.col("user_id").cast("string"), F.lit(":"), F.col("event_type")
        )
    )
    pi_a = F.when(h_u % 2 == 0, _Q383_ARMS[0]).otherwise(_Q383_ARMS[1])
    p_log = F.lit(0.1) + F.lit(0.8) * (h_ua % 1000) / 999.0
    w = F.when(
        F.col("event_type") == pi_a,
        F.least(F.lit(_Q383_WCAP), 1.0 / p_log),
    ).otherwise(F.lit(0.0))
    logged = ev.select(F.col("value"), w.alias("w"))
    return logged.agg(
        F.count("*").cast("long").alias("n_logged"),
        F.count(F.when(F.col("w") > 0, 1)).cast("long").alias("n_matched"),
        prnd(F.avg("value"), 4).alias("logging_value"),
        prnd(F.sum(F.col("w") * F.col("value")) / F.count("*"), 4).alias(
            "ips_value"
        ),
        prnd(F.sum(F.col("w") * F.col("value")) / F.sum("w"), 4).alias(
            "snips_value"
        ),
        prnd(F.sum("w") / F.count("*"), 6).alias("mean_weight"),
    )


# ---------------------------------------------------------------------------
# q384 split-conformal prediction coverage
# ---------------------------------------------------------------------------

_Q384_ALPHA = 0.1  # target 90% coverage


def _q384_oracle() -> str:
    from ..functions.portable import o_hash64

    b = f"({o_hash64('user_id')}) % 10"
    return f"""
    WITH sp AS (SELECT event_type, value, event_id, {b} AS b FROM events),
    pred AS (
      SELECT event_type, avg(value) AS yhat
      FROM sp WHERE b < 6 GROUP BY event_type
    ),
    cal AS (
      SELECT abs(sp.value - p.yhat) AS s
      FROM sp JOIN pred p USING (event_type) WHERE sp.b IN (6, 7)
    ),
    calr AS (
      SELECT s,
             row_number() OVER (ORDER BY s) AS rn,
             count(*) OVER () AS n
      FROM cal
    ),
    qh AS (
      SELECT max(CASE WHEN rn <= least(n, CAST(ceil((n + 1) * {1 - _Q384_ALPHA}) AS BIGINT))
                 THEN s END) AS qhat,
             max(n) AS n_cal
      FROM calr
    ),
    test AS (
      SELECT sp.event_type,
             abs(sp.value - p.yhat) AS s
      FROM sp JOIN pred p USING (event_type) WHERE sp.b >= 8
    )
    SELECT t.event_type,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(q.n_cal AS BIGINT) AS n_cal,
           {o_rnd('max(q.qhat)', 4)} AS q_hat,
           {o_rnd('CAST(count(*) FILTER (WHERE t.s <= q.qhat) AS DOUBLE) / count(*)', 6)} AS coverage
    FROM test t CROSS JOIN qh q
    GROUP BY t.event_type, q.n_cal
    """


@query("q384_conformal_coverage", oracle=_q384_oracle())
def q384_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction audit (Vovk; Lei et al.): train a
    per-type mean predictor on the 60% hash split, take the
    finite-sample-corrected ceil((n+1)(1-alpha)) order statistic of
    calibration nonconformity |y - yhat| as the interval radius
    q_hat, and measure empirical test coverage per event type —
    distribution-free ~90% intervals, the modern uncertainty wrapper
    for any point model and the per-type breakdown shows where
    exchangeability breaks (types with coverage far from 90% have
    shifted residuals).

    Scale shape: the predictor and splits are hash groupBys/joins;
    q_hat is max-of-k-smallest, executed as a distributed
    TakeOrdered of the calibration scores (k from one scalar count
    collect — the q210 driver-scalar allowance) broadcast back; the
    test pass is one partial agg.  No global window over raw rows
    anywhere."""
    import math as _math

    from ..functions.portable import hash64

    ev = table(spark, sf_dir, "events")
    sp = ev.select(
        "event_type", "value", (hash64("user_id") % 10).alias("b")
    )
    pred = (
        sp.filter(F.col("b") < 6)
        .groupBy("event_type")
        .agg(F.avg("value").alias("yhat"))
    )
    cal = (
        sp.filter(F.col("b").isin(6, 7))
        .join(pred, "event_type")
        .select(F.abs(F.col("value") - F.col("yhat")).alias("s"))
    )
    n_cal = cal.count()
    k = min(n_cal, int(_math.ceil((n_cal + 1) * (1 - _Q384_ALPHA))))
    qh = (
        cal.orderBy("s")
        .limit(k)
        .agg(F.max("s").alias("qhat"))
        .withColumn("n_cal", F.lit(n_cal).cast("long"))
    )
    test = (
        sp.filter(F.col("b") >= 8)
        .join(pred, "event_type")
        .select(
            "event_type", F.abs(F.col("value") - F.col("yhat")).alias("s")
        )
    )
    return (
        test.crossJoin(F.broadcast(qh))
        .groupBy("event_type", "n_cal")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            prnd(F.max("qhat"), 4).alias("q_hat"),
            prnd(
                F.count(F.when(F.col("s") <= F.col("qhat"), 1))
                .cast("double")
                / F.count("*"),
                6,
            ).alias("coverage"),
        )
        .select("event_type", "n_test", "n_cal", "q_hat", "coverage")
    )


# ---------------------------------------------------------------------------
# q387 Epanechnikov KDE at pinned grid points
# ---------------------------------------------------------------------------

_Q387_GRID = tuple(12.5 * i for i in range(9))  # 0, 12.5, ..., 100
_Q387_H = 8.0                                   # pinned bandwidth


def _q387_oracle() -> str:
    h = _Q387_H
    rows = []
    for g in _Q387_GRID:
        u = f"((value - {g}) / {h})"
        k = f"CASE WHEN abs({u}) < 1 THEN 0.75 * (1 - {u} * {u}) ELSE 0.0 END"
        rows.append(f"""
      SELECT event_type, CAST({g} AS DOUBLE) AS grid_x,
             count(*) AS n,
             sum({k}) / (count(*) * {h}) AS dens
      FROM events GROUP BY event_type""")
    return f"""
    WITH d AS ({" UNION ALL ".join(rows)})
    SELECT event_type, grid_x,
           CAST(n AS BIGINT) AS n_obs,
           {o_rnd('dens', 6)} AS density
    FROM d
    """


@query("q387_kde", oracle=_q387_oracle())
def q387_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel density estimate of the value distribution per event
    type at 9 pinned grid points, Epanechnikov kernel with pinned
    bandwidth h = 8 — the smooth replacement for q169's histogram
    when the shape (modes, shoulders) matters; the Epanechnikov
    kernel is the MSE-optimal one AND pure polynomial arithmetic, so
    both engines evaluate bit-comparable contributions (no exp/libm
    in the kernel at all, unlike a Gaussian).

    Scale shape: each row contributes to 9 grid cells via a map-side
    explode of codegen'd kernel expressions; ONE partial-agg groupBy
    on (type, grid) carries 9 running sums per type — density at any
    grid resolution is one shuffle of grid-sized partials, the same
    outer-product-aggregate law as q303/q368."""
    ev = table(spark, sf_dir, "events")
    h = _Q387_H
    structs = []
    for g in _Q387_GRID:
        u = (F.col("value") - g) / h
        k = F.when(F.abs(u) < 1, F.lit(0.75) * (1 - u * u)).otherwise(0.0)
        structs.append(
            F.struct(F.lit(g).alias("grid_x"), k.alias("k"))
        )
    d = ev.select(
        "event_type", F.explode(F.array(*structs)).alias("x")
    ).select("event_type", "x.*")
    return d.groupBy("event_type", "grid_x").agg(
        F.count("*").cast("long").alias("n_obs"),
        prnd(F.sum("k") / (F.count("*") * h), 6).alias("density"),
    )


# ---------------------------------------------------------------------------
# q394 rank-biased overlap (leaderboard stability between split halves)
# ---------------------------------------------------------------------------

_Q394_K = 20
_Q394_P = 0.9
# per-item RBO mass for an item whose worse rank is m:
# w(m) = (1-p) * sum_{d=m}^{k} p^(d-1) / d  — precomputed once, shared
# by both engines as literals (no cross-engine float math)
_Q394_W = tuple(
    round(
        (1 - _Q394_P)
        * sum(_Q394_P ** (d - 1) / d for d in range(m, _Q394_K + 1)),
        12,
    )
    for m in range(1, _Q394_K + 1)
)


def _q394_weight_sql(m: str) -> str:
    cases = " ".join(
        f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_Q394_W)
    )
    return f"CASE {m} {cases} ELSE 0.0 END"


def _q394_oracle() -> str:
    def side(flag: str, alias: str) -> str:
        return f"""
    {alias} AS (
      SELECT event_type, user_id, rn FROM (
        SELECT event_type, user_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY {o_rnd('sum(value)', 6)} DESC,
                                           user_id) AS rn
        FROM events
        WHERE CAST(floor(epoch(ts) / 86400) AS BIGINT) % 2 = {flag}
        GROUP BY event_type, user_id
      ) WHERE rn <= {_Q394_K}
    )"""
    w = _q394_weight_sql("greatest(a.rn, b.rn)")
    return f"""
    WITH {side('0', 'ra')}, {side('1', 'rb')}
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS n_common,
           {o_rnd('sum(' + w + ')', 6)} AS rbo,
           CAST(max(CASE WHEN a.rn = 1 AND b.rn = 1 THEN 1 ELSE 0 END) AS INT)
             AS top1_stable
    FROM ra a JOIN rb b
      ON b.event_type = a.event_type AND b.user_id = a.user_id
    GROUP BY a.event_type
    """


@query("q394_rank_biased_overlap", oracle=_q394_oracle())
def q394_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010, truncated at k=20,
    p=0.9) between each event type's top-spender leaderboard on
    even vs odd epoch days — the top-weighted rank-stability metric
    (Kendall's tau weights rank 1 and rank 500 equally; RBO decays
    geometrically, which is what leaderboards, search rankings and
    recsys slates actually care about).  Low RBO = the ranking is
    noise; the metric gates whether a ranking is worth caching or
    personalizing on.

    Scale shape: per-split rankings are per-type windows over
    per-user AGGREGATES (rounded-sum order keys pin cross-engine
    rank order); the per-item RBO mass w(worse_rank) is a
    precomputed literal lookup, so the overlap is one equi join of
    two k-row-per-type lists and a partial agg — the depth loop of
    the textbook definition is folded away algebraically."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")

    def side(flag: int):
        g = (
            ev.filter(
                F.floor(F.col("ts").cast("double") / 86400).cast("long") % 2
                == flag
            )
            .groupBy("event_type", "user_id")
            .agg(prnd(F.sum("value"), 6).alias("s"))
        )
        return (
            g.select(
                "event_type", "user_id",
                F.row_number()
                .over(
                    W.partitionBy("event_type").orderBy(
                        F.col("s").desc(), "user_id"
                    )
                )
                .alias("rn"),
            )
            .filter(F.col("rn") <= _Q394_K)
        )

    ra, rb = side(0), side(1)
    m = F.greatest(F.col("ra_rn"), F.col("rb_rn"))
    wexpr = F.lit(0.0)
    for i, wv in enumerate(_Q394_W):
        wexpr = F.when(m == i + 1, F.lit(wv)).otherwise(wexpr)
    j = ra.select(
        "event_type", "user_id", F.col("rn").alias("ra_rn")
    ).join(
        rb.select("event_type", "user_id", F.col("rn").alias("rb_rn")),
        ["event_type", "user_id"],
    )
    return j.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_common"),
        prnd(F.sum(wexpr), 6).alias("rbo"),
        F.max(
            F.when((F.col("ra_rn") == 1) & (F.col("rb_rn") == 1), 1).otherwise(0)
        )
        .cast("int")
        .alias("top1_stable"),
    )


# ---------------------------------------------------------------------------
# q395 Weibull interarrival fit (median-rank regression)
# ---------------------------------------------------------------------------


def _q395_oracle() -> str:
    # OLS of y = ln(-ln(1 - F_i)) on x = ln(t_i), F_i = (i-0.3)/(n+0.4)
    slope = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
    icept = f"(sy - ({slope}) * sx) / n"
    r2 = (f"power(n * sxy - sx * sy, 2) / "
          f"((n * sxx - sx * sx) * (n * syy - sy * sy))")
    return f"""
    WITH ordered AS (
      SELECT event_type, user_id, ts,
             lag(ts) OVER (PARTITION BY event_type, user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    dur AS (
      SELECT event_type,
             CAST(epoch(ts) - epoch(prev) AS DOUBLE) AS t
      FROM ordered WHERE prev IS NOT NULL AND epoch(ts) > epoch(prev)
    ),
    rk AS (
      SELECT event_type, t,
             row_number() OVER (PARTITION BY event_type ORDER BY t, random() * 0) AS i,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM dur
    ),
    xy AS (
      SELECT event_type,
             ln(t) AS x,
             ln(-ln(1.0 - (i - 0.3) / (n + 0.4))) AS y
      FROM rk
    ),
    s AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM xy GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_durations,
           {o_rnd(slope, 4)} AS shape_k,
           {o_rnd(f'exp(-({icept}) / ({slope}))', 2)} AS scale_lambda,
           {o_rnd(r2, 4)} AS r_squared
    FROM s
    """


@query("q395_weibull_fit", oracle=_q395_oracle())
def q395_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit of per-user interarrival times by median-rank
    regression (the classic closed-form reliability estimator: OLS
    of ln(-ln(1-F)) on ln t with Bernard's approximation F_i =
    (i-0.3)/(n+0.4)): shape k < 1 = bursty/clustered arrivals
    (failure rate decreasing — the q213 burstiness signal with an
    actual parametric model), k ~ 1 = Poisson, k > 1 = regularized
    cadence; scale lambda is the characteristic gap.  r^2 says
    whether Weibull describes the process at all.

    Scale shape: interarrival durations from one per-(type, user)
    lag window; the rank the plotting positions need is a per-TYPE
    sort of durations (the q377 exact-quantile cost — globalrank
    two-pass swaps in when one type dominates); the fit itself is
    the six-sum sufficient-statistics fold (q381 law).  Zero-length
    gaps are excluded ON BOTH SIDES (ln 0) by the same predicate."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    wo = W.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type",
        F.col("ts").cast("double").alias("tse"),
        F.lag(F.col("ts").cast("double")).over(wo).alias("prev"),
    )
    dur = ordered.filter(
        F.col("prev").isNotNull() & (F.col("tse") > F.col("prev"))
    ).select("event_type", (F.col("tse") - F.col("prev")).alias("t"))
    wr = W.partitionBy("event_type").orderBy("t")
    rk = dur.select(
        "event_type", "t",
        F.row_number().over(wr).alias("i"),
        F.count("*").over(W.partitionBy("event_type")).alias("n"),
    )
    xy = rk.select(
        "event_type",
        F.log("t").alias("x"),
        F.log(
            -F.log(1.0 - (F.col("i") - 0.3) / (F.col("n") + 0.4))
        ).alias("y"),
    )
    s = xy.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    icept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    r2 = F.pow(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"), 2) / (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_durations"),
        prnd(slope, 4).alias("shape_k"),
        prnd(F.exp(-icept / slope), 2).alias("scale_lambda"),
        prnd(r2, 4).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# q401 Kingman backpressure planner (queueing capacity from arrivals)
# ---------------------------------------------------------------------------

_Q401_UTILS = (0.5, 0.8, 0.9)   # candidate utilization targets
_Q401_CS2 = 0.25                 # assumed service-time CV^2 (pinned)


def _q401_oracle() -> str:
    blocks = []
    for rho in _Q401_UTILS:
        # utilization rho = lambda * E[S]  =>  E[S] = rho * mean_gap,
        # and the consumer must serve at 1/E[S] = lambda / rho
        wait = (f"({rho} / (1.0 - {rho})) * ((ca2 + {_Q401_CS2}) / 2.0)"
                f" * (mean_gap * {rho})")
        blocks.append(f"""
      SELECT event_type, n_gaps, mean_gap, ca2,
             CAST({rho} AS DOUBLE) AS util,
             {o_rnd(f'1.0 / (mean_gap * {rho})', 6)} AS required_rate,
             {o_rnd(wait, 4)} AS kingman_wait_s
      FROM s""")
    return f"""
    WITH ordered AS (
      SELECT event_type,
             epoch(ts) - epoch(lag(ts) OVER (PARTITION BY event_type
                                             ORDER BY ts, event_id)) AS gap
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(count(gap) AS BIGINT) AS n_gaps,
             avg(gap) AS mean_gap,
             var_pop(gap) / (avg(gap) * avg(gap)) AS ca2
      FROM ordered WHERE gap IS NOT NULL GROUP BY event_type
    ),
    u AS ({" UNION ALL ".join(blocks)})
    SELECT event_type,
           CAST(n_gaps AS BIGINT) AS n_gaps,
           {o_rnd('mean_gap', 4)} AS mean_gap_s,
           {o_rnd('ca2', 4)} AS arrival_cv2,
           util, required_rate, kingman_wait_s
    FROM u
    """


@query("q401_kingman_backpressure", oracle=_q401_oracle())
def q401_kingman_backpressure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backpressure capacity planner from Kingman's VUT formula: per
    event type, measure the arrival process (mean gap, squared CV —
    the burstiness q213 scores, now fed into an actual queueing
    model) and for target utilizations 50/80/90% report the consumer
    rate to provision and the expected steady-state queue wait
    W ~ rho/(1-rho) * (ca^2+cs^2)/2 * service_time.  The quantified
    version of 'bursty topics need headroom': at ca^2 >> 1 the same
    utilization costs far more latency — this is the number that
    sizes q360's watermarks and the streaming consumer fleet.

    Scale shape: one per-type lag window for gaps, one sufficient-
    stats groupBy, and a 3-row-per-type literal utilization fan-out
    over the tiny summary frame.  Service-time CV^2 is a pinned
    assumption surfaced as a constant."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    wo = W.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (
            F.col("ts").cast("double")
            - F.lag(F.col("ts").cast("double")).over(wo)
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    s = gaps.groupBy("event_type").agg(
        F.count("gap").cast("long").alias("n_gaps"),
        F.avg("gap").alias("mean_gap"),
        (
            F.var_pop("gap") / (F.avg("gap") * F.avg("gap"))
        ).alias("ca2"),
    )
    structs = []
    for rho in _Q401_UTILS:
        svc = F.col("mean_gap") * rho
        wait = (
            F.lit(rho / (1.0 - rho))
            * ((F.col("ca2") + _Q401_CS2) / 2.0)
            * svc
        )
        structs.append(
            F.struct(
                F.lit(float(rho)).alias("util"),
                prnd(F.lit(1.0) / svc, 6).alias("required_rate"),
                prnd(wait, 4).alias("kingman_wait_s"),
            )
        )
    return s.select(
        "event_type", "n_gaps",
        prnd("mean_gap", 4).alias("mean_gap_s"),
        prnd("ca2", 4).alias("arrival_cv2"),
        F.explode(F.array(*structs)).alias("x"),
    ).select(
        "event_type", "n_gaps", "mean_gap_s", "arrival_cv2", "x.*"
    )


# ---------------------------------------------------------------------------
# q403 exponential time-decay trending scores
# ---------------------------------------------------------------------------

_Q403_HALFLIVES = (6.0, 24.0, 72.0)   # hours
_Q403_LN2 = 0.6931471805599453         # pinned


def _q403_oracle() -> str:
    cols = []
    for hl in _Q403_HALFLIVES:
        lam = f"({_Q403_LN2} / {hl})"
        cols.append(
            o_rnd(f"sum(value * exp(-{lam} * age_h))", 4)
            + f" AS score_hl{int(hl)}"
        )
    return f"""
    WITH mx AS (SELECT max(epoch(ts)) AS t_now FROM events),
    aged AS (
      SELECT event_type, value,
             (m.t_now - epoch(ts)) / 3600.0 AS age_h
      FROM events CROSS JOIN mx m
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {", ".join(cols)},
           {o_rnd('sum(value)', 2)} AS undecayed_sum
    FROM aged GROUP BY event_type
    """


@query("q403_decay_trending", oracle=_q403_oracle())
def q403_decay_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed popularity scores per event type at
    6 h / 24 h / 72 h half-lives — THE feed/trending primitive:
    score = sum(value * 2^(-age/halflife)), computed against the
    corpus max timestamp so the query is reproducible (in production
    t_now is the trigger time).  The three half-lives bracket
    fast-trending vs evergreen, and the undecayed sum is the control
    column showing how much recency reshuffles the ranking; ln 2 is
    a pinned literal (q371 convention).

    Scale shape: one scalar max broadcast back, then a map-side
    decay expression per half-life folded by a single partial-agg
    groupBy — the decayed sums are associative, so this same shape
    is the incremental-refresh / streaming-fold version too (state
    = one running sum per key per half-life, rescaled on read)."""
    ev = table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.col("ts").cast("double")).alias("t_now"))
    aged = ev.crossJoin(F.broadcast(mx)).select(
        "event_type", "value",
        ((F.col("t_now") - F.col("ts").cast("double")) / 3600.0).alias(
            "age_h"
        ),
    )
    aggs = [F.count("*").cast("long").alias("n_events")]
    for hl in _Q403_HALFLIVES:
        lam = _Q403_LN2 / hl
        aggs.append(
            prnd(
                F.sum(F.col("value") * F.exp(-F.lit(lam) * F.col("age_h"))),
                4,
            ).alias(f"score_hl{int(hl)}")
        )
    aggs.append(prnd(F.sum("value"), 2).alias("undecayed_sum"))
    return aged.groupBy("event_type").agg(*aggs)


# ---------------------------------------------------------------------------
# q413 SLO burn-rate alerts (multiwindow, SRE workbook pattern)
# ---------------------------------------------------------------------------

_Q413_SLO = 0.25          # error-budget: error share allowed (synthetic data
                          # has ~20% 'error' events; a real SLO would be ~1%)
_Q413_FAST, _Q413_SLOW = 14.4 / 6, 6.0 / 6  # scaled burn thresholds


def _q413_oracle() -> str:
    return f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             count(*) AS n,
             count(*) FILTER (WHERE event_type = 'error') AS errs
      FROM events GROUP BY 1
    ),
    burn AS (
      SELECT h, n, errs,
             (CAST(errs AS DOUBLE) / n) / {_Q413_SLO} AS burn_1h,
             (CAST(sum(errs) OVER w AS DOUBLE) / sum(n) OVER w)
               / {_Q413_SLO} AS burn_6h
      FROM hourly
      WINDOW w AS (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_hours,
           {o_rnd('avg(burn_1h)', 4)} AS avg_burn_1h,
           {o_rnd('max(burn_1h)', 4)} AS max_burn_1h,
           {o_rnd('max(burn_6h)', 4)} AS max_burn_6h,
           CAST(count(*) FILTER (WHERE burn_1h > {_Q413_FAST}
                                   AND burn_6h > {_Q413_SLOW}) AS BIGINT)
             AS alert_hours,
           CAST(count(*) FILTER (WHERE burn_1h > {_Q413_FAST}) AS BIGINT)
             AS fast_only_hours
    FROM burn
    """


@query("q413_slo_burn_rate", oracle=_q413_oracle())
def q413_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow SLO burn-rate alerting (the Google SRE workbook
    pattern): hourly error-budget burn = error share / SLO, paged
    only when BOTH the fast window (1 h) and the slow window (6 h
    rolling) burn hot — the two-window AND is what kills the
    flappy-alert problem (fast_only_hours counts the pages the
    naive single-window rule would have fired).  The q132
    rate-anomaly detector finds WEIRD; this one bills against an
    explicit BUDGET.

    Scale shape: one hourly pre-aggregation (partial agg), a 6-row
    rolling window over the HOURLY frame (hours, not events — the
    q355 post-aggregate law; at fleet scale partition the window by
    service), and a scalar fold."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("errs"),
    )
    w6 = W.orderBy("h").rowsBetween(-5, 0)
    burn = hourly.select(
        (F.col("errs").cast("double") / F.col("n") / _Q413_SLO).alias(
            "burn_1h"
        ),
        (
            F.sum("errs").over(w6).cast("double")
            / F.sum("n").over(w6)
            / _Q413_SLO
        ).alias("burn_6h"),
    )
    alert = (F.col("burn_1h") > _Q413_FAST) & (
        F.col("burn_6h") > _Q413_SLOW
    )
    return burn.agg(
        F.count("*").cast("long").alias("n_hours"),
        prnd(F.avg("burn_1h"), 4).alias("avg_burn_1h"),
        prnd(F.max("burn_1h"), 4).alias("max_burn_1h"),
        prnd(F.max("burn_6h"), 4).alias("max_burn_6h"),
        F.count(F.when(alert, 1)).cast("long").alias("alert_hours"),
        F.count(F.when(F.col("burn_1h") > _Q413_FAST, 1))
        .cast("long")
        .alias("fast_only_hours"),
    )


# ---------------------------------------------------------------------------
# q416 group-sequential monitoring (O'Brien-Fleming bounds)
# ---------------------------------------------------------------------------

# two-sided O'Brien-Fleming z-bounds for K=4 equally-spaced looks
# (alpha = 0.05), pinned literals
_Q416_BOUNDS = (4.048, 2.862, 2.337, 2.024)


def _q416_oracle() -> str:
    looks = []
    for k, zb in enumerate(_Q416_BOUNDS, start=1):
        frac = k / len(_Q416_BOUNDS)
        looks.append(f"""
      SELECT event_type, {k} AS look, {zb} AS z_bound,
             count(*) AS n,
             sum(CASE WHEN grp = 0 THEN value END) AS s0,
             sum(CASE WHEN grp = 1 THEN value END) AS s1,
             sum(CASE WHEN grp = 0 THEN value * value END) AS q0,
             sum(CASE WHEN grp = 1 THEN value * value END) AS q1,
             count(*) FILTER (WHERE grp = 0) AS n0,
             count(*) FILTER (WHERE grp = 1) AS n1
      FROM staged WHERE frac_rank <= {frac}
      GROUP BY event_type""")
    z = ("(s0 / n0 - s1 / n1) / sqrt("
         "(q0 / n0 - (s0 / n0) * (s0 / n0)) / n0"
         " + (q1 / n1 - (s1 / n1) * (s1 / n1)) / n1)")
    return f"""
    WITH base AS (
      SELECT event_type, user_id % 2 AS grp, value, ts, event_id
      FROM events
    ),
    staged AS (
      SELECT event_type, grp, value,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id) AS DOUBLE)
               / count(*) OVER (PARTITION BY event_type) AS frac_rank
      FROM base
    ),
    looks AS ({" UNION ALL ".join(looks)}),
    scored AS (
      SELECT event_type, look, z_bound, n0, n1, {o_rnd(z, 4)} AS z
      FROM looks
    )
    SELECT event_type,
           CAST(look AS INTEGER) AS look,
           CAST(n0 + n1 AS BIGINT) AS n_seen,
           z,
           {o_rnd('z_bound', 3)} AS z_bound,
           CAST(abs(z) > z_bound AS INT) AS would_stop
    FROM scored
    """


@query("q416_group_sequential", oracle=_q416_oracle())
def q416_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential experiment monitoring with O'Brien-Fleming
    bounds (K=4 looks, pinned two-sided 5% literals): replay the
    q168 A/B comparison at 25/50/75/100% of the event stream IN TIME
    ORDER and report whether each interim Welch z crosses its
    spending bound — the 'could we have stopped this test early'
    audit, and the correct answer to peeking (q275's SPRT is the
    fully-sequential cousin; OBF is what experimentation platforms
    actually ship).

    Scale shape: the time-fraction rank is ONE per-type window over
    events (the honest sort; q375's globalrank swaps in at extreme
    type cardinality), then each look is a filtered partial agg over
    the same staged frame — four conditional aggregations, no
    re-sort, z from sufficient stats (q381 law)."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    wt = W.partitionBy("event_type").orderBy("ts", "event_id")
    staged = ev.select(
        "event_type",
        (F.col("user_id") % 2).alias("grp"),
        "value",
        (
            F.row_number().over(wt).cast("double")
            / F.count("*").over(W.partitionBy("event_type"))
        ).alias("frac_rank"),
    )
    outs = []
    for k, zb in enumerate(_Q416_BOUNDS, start=1):
        frac = k / len(_Q416_BOUNDS)
        g = staged.filter(F.col("frac_rank") <= frac).groupBy(
            "event_type"
        ).agg(
            F.sum(F.when(F.col("grp") == 0, F.col("value"))).alias("s0"),
            F.sum(F.when(F.col("grp") == 1, F.col("value"))).alias("s1"),
            F.sum(
                F.when(F.col("grp") == 0, F.col("value") * F.col("value"))
            ).alias("q0"),
            F.sum(
                F.when(F.col("grp") == 1, F.col("value") * F.col("value"))
            ).alias("q1"),
            F.count(F.when(F.col("grp") == 0, 1)).alias("n0"),
            F.count(F.when(F.col("grp") == 1, 1)).alias("n1"),
        )
        m0 = F.col("s0") / F.col("n0")
        m1 = F.col("s1") / F.col("n1")
        z = (m0 - m1) / F.sqrt(
            (F.col("q0") / F.col("n0") - m0 * m0) / F.col("n0")
            + (F.col("q1") / F.col("n1") - m1 * m1) / F.col("n1")
        )
        outs.append(
            g.select(
                "event_type",
                F.lit(k).cast("int").alias("look"),
                (F.col("n0") + F.col("n1")).cast("long").alias("n_seen"),
                prnd(z, 4).alias("z"),
                prnd(F.lit(zb), 3).alias("z_bound"),
                (F.abs(z) > zb).cast("int").alias("would_stop"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


# ---------------------------------------------------------------------------
# q419 composition mix-shift monitor (daily JS vs trailing week)
# ---------------------------------------------------------------------------

_Q419_TYPES = ("click", "error", "purchase", "signup", "view")
_Q419_ALERT = 0.02  # JS divergence alert threshold (nats)


def _q419_oracle() -> str:
    cnt_cols = ", ".join(
        f"count(*) FILTER (WHERE event_type = '{t}') AS c_{i}"
        for i, t in enumerate(_Q419_TYPES)
    )
    trail = ("sum({c}) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 "
             "PRECEDING)")
    base_cols = ", ".join(
        f"{trail.format(c=f'c_{i}')} AS b_{i}"
        for i in range(len(_Q419_TYPES))
    )
    kl_terms_pq = []
    kl_terms_qp = []
    for i in range(len(_Q419_TYPES)):
        p = f"(CAST(c_{i} AS DOUBLE) / n)"
        q = f"(CAST(b_{i} AS DOUBLE) / bn)"
        mm = f"(({p} + {q}) / 2.0)"
        kl_terms_pq.append(
            f"CASE WHEN {p} > 0 THEN {p} * ln({p} / {mm}) ELSE 0.0 END"
        )
        kl_terms_qp.append(
            f"CASE WHEN {q} > 0 THEN {q} * ln({q} / {mm}) ELSE 0.0 END"
        )
    js = (f"0.5 * ({' + '.join(kl_terms_pq)})"
          f" + 0.5 * ({' + '.join(kl_terms_qp)})")
    n_expr = " + ".join(f"c_{i}" for i in range(len(_Q419_TYPES)))
    bn_expr = " + ".join(f"b_{i}" for i in range(len(_Q419_TYPES)))
    return f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, {cnt_cols}
      FROM events GROUP BY 1
    ),
    trailed AS (
      SELECT d, {", ".join(f"c_{i}" for i in range(len(_Q419_TYPES)))},
             {base_cols}
      FROM daily
    ),
    scored AS (
      SELECT d, ({n_expr}) AS n, ({bn_expr}) AS bn,
             {", ".join(f"c_{i}" for i in range(len(_Q419_TYPES)))},
             {", ".join(f"b_{i}" for i in range(len(_Q419_TYPES)))}
      FROM trailed
    ),
    js_frame AS (
      SELECT d, n, bn, {js} AS js
      FROM scored WHERE bn IS NOT NULL AND bn > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           {o_rnd('avg(js)', 6)} AS avg_js,
           {o_rnd('max(js)', 6)} AS max_js,
           CAST(count(*) FILTER (WHERE js > {_Q419_ALERT}) AS BIGINT)
             AS alert_days,
           CAST((SELECT max(j2.d) FROM js_frame j2
                 WHERE j2.js = (SELECT max(js) FROM js_frame)) AS DATE)
             AS worst_day
    FROM js_frame
    """


@query("q419_mix_shift", oracle=_q419_oracle())
def q419_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition mix-shift monitor: each day's event-type
    distribution vs its OWN trailing 7-day baseline, scored by
    Jensen-Shannon divergence — the rolling version of the q316/q194
    two-split drift tests, and the monitor that catches a sudden
    type-mix change (a client release dropping 'view' events, an
    error storm) even when total volume looks normal.  Reports the
    alert-day count at a fixed JS threshold and the worst day.

    Scale shape: one per-day filtered-count aggregation (5 running
    pairs per day), trailing sums via 7-row windows over the DAILY
    frame (q355 post-aggregate law; partition by service/tenant at
    fleet scale), JS as codegen'd arithmetic, and a scalar fold with
    arg_max for the worst day."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(f"c_{i}")
            for i, t in enumerate(_Q419_TYPES)
        ]
    )
    w7 = W.orderBy("d").rowsBetween(-7, -1)
    trailed = daily.select(
        "d",
        *[F.col(f"c_{i}") for i in range(len(_Q419_TYPES))],
        *[
            F.sum(f"c_{i}").over(w7).alias(f"b_{i}")
            for i in range(len(_Q419_TYPES))
        ],
    )
    n = sum(F.col(f"c_{i}") for i in range(len(_Q419_TYPES)))
    bn = sum(F.col(f"b_{i}") for i in range(len(_Q419_TYPES)))
    js = F.lit(0.0)
    for i in range(len(_Q419_TYPES)):
        p = F.col(f"c_{i}").cast("double") / F.col("n")
        q = F.col(f"b_{i}").cast("double") / F.col("bn")
        m = (p + q) / 2.0
        js = js + 0.5 * F.when(p > 0, p * F.log(p / m)).otherwise(0.0)
        js = js + 0.5 * F.when(q > 0, q * F.log(q / m)).otherwise(0.0)
    scored = trailed.select(
        "d", n.alias("n"), bn.alias("bn"),
        *[F.col(f"c_{i}") for i in range(len(_Q419_TYPES))],
        *[F.col(f"b_{i}") for i in range(len(_Q419_TYPES))],
    )
    jsf = scored.filter(
        F.col("bn").isNotNull() & (F.col("bn") > 0)
    ).select("d", js.alias("js"))
    jsf = jsf.transform(pin_frame_lazy)
    stats = jsf.agg(
        F.count("*").cast("long").alias("n_days"),
        prnd(F.avg("js"), 6).alias("avg_js"),
        prnd(F.max("js"), 6).alias("max_js"),
        F.max("js").alias("_mx"),
        F.count(F.when(F.col("js") > _Q419_ALERT, 1))
        .cast("long")
        .alias("alert_days"),
    )
    # deterministic argmax: LATEST day achieving the max (engine
    # max_by/arg_max tie order is unspecified)
    worst = (
        jsf.crossJoin(F.broadcast(stats.select("_mx")))
        .filter(F.col("js") == F.col("_mx"))
        .agg(F.max("d").cast("date").alias("worst_day"))
    )
    return stats.drop("_mx").crossJoin(F.broadcast(worst))


# ---------------------------------------------------------------------------
# q420 weekly KS drift series vs baseline week
# ---------------------------------------------------------------------------

_Q420_C = 1.36   # two-sample KS critical coefficient at alpha=0.05


def _q420_oracle() -> str:
    wk = "CAST(floor(epoch(ts) / 604800) AS BIGINT)"
    return f"""
    WITH ev AS (SELECT {wk} AS week, value FROM events),
    mn AS (SELECT min(week) AS w0 FROM ev),
    base AS (
      SELECT value, count(*) AS cb FROM ev CROSS JOIN mn
      WHERE week = mn.w0 GROUP BY value
    ),
    nb AS (SELECT CAST(sum(cb) AS DOUBLE) AS nb FROM base),
    wk_rows AS (
      SELECT week, value, count(*) AS cw FROM ev CROSS JOIN mn
      WHERE week > mn.w0 GROUP BY week, value
    ),
    weeks AS (SELECT DISTINCT week FROM wk_rows),
    u AS (
      SELECT week, value, cw, 0 AS cb FROM wk_rows
      UNION ALL
      SELECT w.week, b.value, 0, b.cb FROM weeks w CROSS JOIN base b
    ),
    g AS (
      SELECT week, value, sum(cw) AS cw, sum(cb) AS cb
      FROM u GROUP BY week, value
    ),
    nw AS (SELECT week, CAST(sum(cw) AS DOUBLE) AS nw FROM g GROUP BY week),
    cum AS (
      SELECT g.week,
             sum(g.cw) OVER (PARTITION BY g.week ORDER BY g.value)
               / nw.nw AS fw,
             sum(g.cb) OVER (PARTITION BY g.week ORDER BY g.value)
               / nb.nb AS fb,
             nw.nw, nb.nb
      FROM g JOIN nw ON nw.week = g.week CROSS JOIN nb
    ),
    ks AS (
      SELECT week, max(abs(fw - fb)) AS d,
             max(nw) AS nw, max(nb) AS nb
      FROM cum GROUP BY week
    )
    SELECT CAST(count(*) AS BIGINT) AS n_weeks,
           {o_rnd('avg(d)', 6)} AS avg_ks,
           {o_rnd('max(d)', 6)} AS max_ks,
           CAST(count(*) FILTER (
             WHERE d > {_Q420_C} * sqrt((nw + nb) / (nw * nb))) AS BIGINT)
             AS drift_weeks
    FROM ks
    """


@query("q420_weekly_ks_drift", oracle=_q420_oracle())
def q420_weekly_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly KS drift series: every week's value distribution
    tested against the FIRST week's baseline with the exact
    two-sample Kolmogorov-Smirnov statistic (computed on the merged
    distinct-value grid, so ties are handled exactly), plus the
    count of weeks crossing the alpha=0.05 critical band — the
    time-SERIES version of q193's one-shot KS and the statistical
    upgrade of q419's composition monitor (this one sees shape
    changes inside a single event type's values).  Week buckets are
    epoch-day integer arithmetic, immune to engine week-numbering
    conventions.

    Scale shape: per-(week, value) counts are one groupBy; the
    baseline histogram (distinct values of ONE week — sample it at
    scale) broadcasts onto the week list; ECDFs are per-week
    cumulative windows over the merged value grid (post-aggregate
    frames); the critical-band test is scalar arithmetic with the
    1.36 coefficient pinned.

    r9 (plan_dup_audit): everything downstream — baseline week,
    baseline histogram, weekly histograms — derives from ONE
    per-(week, value) count frame, so that frame is aggregated once
    and eager-pinned; the original shape re-planned the events scan
    three times (w0 / base / wk_rows branches, no exchange reuse)."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events").select(
        F.floor(F.col("ts").cast("double") / 604800)
        .cast("long")
        .alias("week"),
        "value",
    )
    cnt = (
        ev.groupBy("week", "value")
        .agg(F.count("*").alias("c"))
        .transform(pin_frame)
    )
    w0 = cnt.agg(F.min("week").alias("w0"))
    cm = cnt.crossJoin(F.broadcast(w0))
    base = cm.filter(F.col("week") == F.col("w0")).select(
        "value", F.col("c").alias("cb")
    )
    nb = base.agg(F.sum("cb").cast("double").alias("nb"))
    wk_rows = cm.filter(F.col("week") > F.col("w0")).select(
        "week", "value", F.col("c").alias("cw")
    )
    weeks = wk_rows.select("week").distinct()
    u = wk_rows.select(
        "week", "value", "cw", F.lit(0).alias("cb")
    ).unionByName(
        weeks.crossJoin(F.broadcast(base)).select(
            "week", "value", F.lit(0).alias("cw"), "cb"
        )
    )
    g = u.groupBy("week", "value").agg(
        F.sum("cw").alias("cw"), F.sum("cb").alias("cb")
    )
    nw = g.groupBy("week").agg(F.sum("cw").cast("double").alias("nw"))
    wcum = W.partitionBy("week").orderBy("value")
    cum = (
        g.join(nw, "week")
        .crossJoin(F.broadcast(nb))
        .select(
            "week",
            (F.sum("cw").over(wcum) / F.col("nw")).alias("fw"),
            (F.sum("cb").over(wcum) / F.col("nb")).alias("fb"),
            "nw", "nb",
        )
    )
    ks = cum.groupBy("week").agg(
        F.max(F.abs(F.col("fw") - F.col("fb"))).alias("d"),
        F.max("nw").alias("nw"), F.max("nb").alias("nb"),
    )
    crit = _Q420_C * F.sqrt(
        (F.col("nw") + F.col("nb")) / (F.col("nw") * F.col("nb"))
    )
    return ks.agg(
        F.count("*").cast("long").alias("n_weeks"),
        prnd(F.avg("d"), 6).alias("avg_ks"),
        prnd(F.max("d"), 6).alias("max_ks"),
        F.count(F.when(F.col("d") > crit, 1))
        .cast("long")
        .alias("drift_weeks"),
    )
