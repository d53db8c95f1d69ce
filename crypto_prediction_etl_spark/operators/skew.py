"""Skew mitigation: salted aggregation and salted join.

AQE's skew-join splitting (enabled in the session factory) covers
sort-merge joins at runtime; these explicit utilities cover the cases
AQE cannot re-plan — hot grouping keys in aggregations, and broadcast-
ineligible joins where one side's key distribution is pathological
(the order-book case: a handful of symbols carry almost all volume).

Salted aggregation = two-phase: salt the key into ``n_salts`` shards,
partially aggregate per (key, salt), then merge shards. Works for any
algebraic aggregate (sum/count/min/max and their compositions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int) -> DataFrame:
    """Deterministic shard assignment: hash of the full row spread over
    ``n_salts`` shards (no rand() — keeps plans replayable)."""
    return df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts)),
    )


def salted_sum_count(
    df: DataFrame, key_cols: list[str], value_col: str, n_salts: int = 16
) -> DataFrame:
    """Two-phase skew-proof sum/count per key: shuffle #1 spreads each
    hot key over ``n_salts`` reducers, shuffle #2 merges ``n_salts``
    rows per key — bounded regardless of key skew."""
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(*key_cols, "_salt").agg(
        F.sum(value_col).alias("_psum"), F.count("*").alias("_pcnt")
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_psum").alias(f"sum_{value_col}"),
        F.sum("_pcnt").alias("n_rows"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Skew-proof equi-join: salt the big side, replicate the small side
    across every salt value, join on (key, salt). Each hot key's rows
    land on ``n_salts`` different reducers instead of one."""
    big_s = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    )
    small_r = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("_salt", F.col("_salt").cast("bigint"))
    out = big_s.join(small_r, [key, "_salt"])
    return out.drop("_salt")
