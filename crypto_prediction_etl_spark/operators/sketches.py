"""Deterministic cardinality sketches.

Spark's approx_count_distinct (HLL++) and DuckDB's approx_count_distinct
are different sketches with different RNG — their estimates can never
hash-match across engines. KMV (k-minimum-values) over the portable
md5 hash CAN: the estimator is a pure function of the k-th smallest
hash value, both engines compute identical hashes, so the "approximate"
result is bit-for-bit reproducible anywhere — the property that matters
when a 100 TB pipeline's QA diff must not flag sketch noise.

Estimator (Bar-Yossef et al.): with hashes uniform on [0, 2^60), the
k-th smallest distinct hash h_k estimates cardinality as
(k-1) * 2^60 / h_k. Groups with fewer than k distinct values are exact
by construction (the sketch holds them all).

Scale shape: one distinct-shuffle on (group, hash) then a per-group
top-k window over at most k retained rows per group — at 100 TB the
retained state per group is k longs, the same bound a production HLL
register bank gives, with none of the merge-order sensitivity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.portable import hash64, prnd

HASH_SPACE = float(1 << 60)  # hash64 range is [0, 2^60)

# HyperLogLog geometry over the 60-bit portable hash: low 6 bits pick
# one of 64 registers, the remaining 54 bits feed the leading-zero rank.
HLL_M = 64
HLL_BUCKET_BITS = 6
HLL_W = 60 - HLL_BUCKET_BITS  # 54 rank bits; rho in [1, 55]
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)  # Flajolet et al. bias constant


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 16,
) -> DataFrame:
    """(group, n_exact, kmv_estimate): KMV estimate next to the exact
    distinct count (the test oracle a pipeline QA job would keep)."""
    h = df.select(
        F.col(group_col), hash64(F.col(value_col)).alias("_h")
    ).distinct()
    w = W.partitionBy(group_col).orderBy("_h")
    r = h.select(
        F.col(group_col),
        F.col("_h"),
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(W.partitionBy(group_col)).alias("_nd"),
    )
    kth = r.filter(
        F.col("_rn") == F.least(F.lit(k), F.col("_nd"))
    )
    est = F.when(
        F.col("_nd") >= k,
        F.lit(float(k - 1)) * F.lit(HASH_SPACE) / F.col("_h").cast("double"),
    ).otherwise(F.col("_nd").cast("double"))
    return kth.select(
        F.col(group_col),
        F.col("_nd").cast("long").alias("n_exact"),
        prnd(est, 2).alias("kmv_estimate"),
    )


def hll_distinct(
    df: DataFrame,
    group_col: str | list[str],
    value_col: str,
) -> DataFrame:
    """(group, n_exact, hll_estimate): HyperLogLog estimate next to the
    exact distinct count, bit-for-bit reproducible across engines.

    Every step is portable arithmetic: register index = low 6 hash
    bits; rank rho = leading-zero position of the remaining 54 bits
    computed as ``55 - length(bin(r))`` (binary-string length, identical
    in Spark and DuckDB, no float log2); the harmonic denominator
    sum(2^-M) accumulates as the INTEGER sum of 2^(55-M) (order-
    independent, max 64 * 2^55 < 2^62 fits int64 — a float sum here
    would be order-sensitive and could never hash-match), converted to
    double only once for the final estimate. Small-range correction is
    linear counting m*ln(m/V) on explicit double casts (both engines'
    ln agree to the last bit on these inputs).

    Scale shape: register max is an algebraic aggregate, so the sketch
    partial-aggregates map-side and merges with plain max — per-group
    state is 64 small ints at any scale, and sketches for disjoint
    shards union by taking register-wise max (the property that lets a
    100 TB pipeline maintain per-partition sketches and merge at read)."""
    group_cols = [group_col] if isinstance(group_col, str) else list(group_col)
    gc = [F.col(c) for c in group_cols]
    h = df.select(*gc, hash64(F.col(value_col)).alias("_h"))
    bucketed = h.select(
        *gc,
        (F.col("_h") % HLL_M).alias("_bkt"),
        F.shiftright("_h", HLL_BUCKET_BITS).alias("_r"),
    )
    rho = F.when(
        F.col("_r") == 0, F.lit(HLL_W + 1)
    ).otherwise(F.lit(HLL_W + 1) - F.length(F.bin("_r")))
    regs = (
        bucketed.withColumn("_rho", rho)
        .groupBy(*group_cols, "_bkt")
        .agg(F.max("_rho").alias("_m"))
    )
    per_group = regs.groupBy(*group_cols).agg(
        # integer-scaled harmonic sum: 2^(55-M) per present register,
        # empty registers contribute 2^55 each (added below)
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_W + 1} - _m)")).alias(
            "_s_present"
        ),
        F.count("*").alias("_n_regs"),
    )
    scale = F.lit(float(1 << (HLL_W + 1)))
    s_scaled = (
        F.col("_s_present")
        + (F.lit(HLL_M) - F.col("_n_regs")) * F.lit(1 << (HLL_W + 1)).cast("long")
    ).cast("double")
    e_raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) * scale / s_scaled
    v = (F.lit(HLL_M) - F.col("_n_regs")).cast("double")
    corrected = F.when(
        (e_raw <= F.lit(2.5 * HLL_M)) & (v > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v),
    ).otherwise(e_raw)
    est = per_group.select(*gc, prnd(corrected, 2).alias("hll_estimate"))
    exact = df.groupBy(*group_cols).agg(
        F.countDistinct(value_col).alias("n_exact")
    )
    return exact.join(est, group_cols).select(
        *group_cols,
        F.col("n_exact").cast("long").alias("n_exact"),
        "hll_estimate",
    )


# Count-min sketch geometry: 4 independent hash rows x 256 buckets.
CMS_ROWS = 4
CMS_WIDTH = 256


def cms_token_counts(
    df: DataFrame,
    token_col: str,
    probes: list[str],
) -> DataFrame:
    """(token, n_exact, cms_estimate) for each probe token: a
    count-min sketch built over the full token stream, probed for the
    given tokens, next to the exact counts.

    Counter increments are exact integer sums and the row hashes are
    salted md5 — every cell, and therefore every estimate (min over
    rows of the probed cells), is bit-identical on any engine and any
    partitioning. The sketch is rows x width integers per group (1 KB
    here) and merges across shards by cell-wise ADDITION — the
    counting analog of q91's register-max merge; estimates only ever
    overcount (hash collisions), never undercount.
    """
    bkts = F.array(
        *[
            hash64(F.concat(F.lit(f"cms{r}:"), F.col(token_col))) % CMS_WIDTH
            for r in range(CMS_ROWS)
        ]
    )
    # one scan: each token emits its (row, bucket) coordinates for all
    # hash rows via posexplode; the groupBy partial-aggregates map-side
    cells = df.select(F.posexplode(bkts).alias("_row", "_bkt"))
    sketch = cells.groupBy("_row", "_bkt").agg(F.count("*").alias("_cnt"))
    probe_rows = []
    for tok in probes:
        for r in range(CMS_ROWS):
            probe_rows.append((tok, r))
    spark = df.sparkSession
    pdf = spark.createDataFrame(probe_rows, "token string, _row int")
    pdf = pdf.withColumn(
        "_bkt",
        hash64(F.concat(F.concat(F.lit("cms"), F.col("_row").cast("string"), F.lit(":")), F.col("token")))
        % CMS_WIDTH,
    )
    est = (
        pdf.join(sketch, ["_row", "_bkt"], "left")
        .fillna(0, subset=["_cnt"])
        .groupBy("token")
        .agg(F.min("_cnt").cast("long").alias("cms_estimate"))
    )
    exact = (
        df.filter(F.col(token_col).isin(probes))
        .groupBy(F.col(token_col).alias("token"))
        .agg(F.count("*").alias("n_exact"))
    )
    return (
        est.join(exact, "token", "left")
        .fillna(0, subset=["n_exact"])
        .select("token", F.col("n_exact").cast("long").alias("n_exact"), "cms_estimate")
    )


def misra_gries_candidates(df: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries heavy-hitter candidates: each task
    streams its partition through k decrement counters and emits only
    the surviving keys (<= k rows per task, O(k) memory regardless of
    partition size).

    Guarantee used by callers: any key with global frequency
    > N/k must exceed its share in at least one partition
    (pigeonhole), so it survives that partition's summary — the union
    of per-partition survivors is a SUPERSET of all global (N/k)-heavy
    hitters. An exact count of the tiny candidate set (one semi-joined
    aggregation) then removes false positives, giving exact heavy
    hitters with bounded memory — the two-phase shape that replaces a
    full groupBy over a high-cardinality key at 100 TB."""
    import pandas as pd

    def mg(batches):
        # Mergeable-summaries formulation (Agarwal, Cormode et al.,
        # PODS'12): fold each Arrow batch's exact value_counts into
        # the running counters, then reduce back to k entries by
        # subtracting the (k+1)-th largest count from everything and
        # dropping non-positives. Python work is O(distinct-per-batch
        # + k log k) per batch, not O(rows); the error bound (total
        # undercount <= N_task/(k+1)) and hence the survivor-superset
        # guarantee are identical to per-row Misra-Gries.
        counters: dict = {}
        for pdf in batches:
            for v, c in pdf[col].value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > k:
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {
                    key: n - cut for key, n in counters.items() if n > cut
                }
        yield pd.DataFrame({col: list(counters.keys())})

    spark_type = dict(df.dtypes)[col]
    return df.select(col).mapInPandas(mg, schema=f"`{col}` {spark_type}")
