"""Relational breadth extensions: multi-level aggregation (ROLLUP /
grouping sets), pivot, window distribution functions, disjunctive
predicate pushdown, and scalar-subquery + anti-join composition.

These widen SURVEY §2.4 (aggregations), §2.5 (window ranking family)
and §2.2 (predicates) beyond the reference's literal query set to the
adjacent shapes any analytics user of the reference would reach for
next (the reference's Trino layer supports all of them natively, e.g.
trino/D_Load_crypto_candles_realtime_003.sql runs on a full ANSI-SQL
engine). Every plan is declarative so Catalyst keeps pushdown and
partial aggregation; pivots use a static column list so the plan is
fully resolved at analysis time (no driver-side distinct scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.portable import hash64, o_hash64, o_rnd, prnd
from ..sources.readers import table
from .registry import query
from ..pinning import pin_frame

# ---------------------------------------------------------------------------
# q134 ROLLUP / grouping-sets aggregate
# ---------------------------------------------------------------------------


@query(
    "q134_grouping_sets",
    oracle=f"""
    SELECT coalesce(l_returnflag, 'ALL') AS rf,
           coalesce(l_linestatus, 'ALL') AS ls,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS lvl,
           {o_rnd('sum(l_quantity)', 2)} AS sum_qty,
           {o_rnd('sum(l_extendedprice * (1 - l_discount))', 2)} AS sum_disc_price,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q134_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregate in ONE pass: (flag, status), (flag), ()
    via ROLLUP — the dashboard "totals row" shape.

    Spark expands rollup into a single Expand + hash-aggregate: the
    fact table is scanned ONCE and each row feeds all three grouping
    sets map-side, so at 100 TB this costs the same single shuffle as
    the finest-grained groupBy (3 grouping sets x ~8 distinct keys of
    partial rows per partition), not three scans. ``grouping()`` bits
    disambiguate real NULL keys from subtotal rows portably.
    """
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            prnd(F.sum("l_quantity"), 2).alias("sum_qty"),
            prnd(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.count("*").alias("n_rows"),
            (
                F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")
            ).cast("long").alias("lvl"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "lvl",
            "sum_qty",
            "sum_disc_price",
            "n_rows",
        )
    )


# ---------------------------------------------------------------------------
# q135 pivot (long -> wide crosstab)
# ---------------------------------------------------------------------------

_Q135_MONTHS = list(range(1, 13))


@query(
    "q135_pivot_matrix",
    oracle="""
    SELECT o_orderpriority AS id,
    """
    + ",\n".join(
        f"       {o_rnd(f'avg(CASE WHEN EXTRACT(month FROM o_orderdate) = {m} THEN o_totalprice END)', 2)} AS m{m:02d}"
        for m in _Q135_MONTHS
    )
    + """
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
)
def q135_pivot_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot / crosstab: priority x calendar-month average-price matrix
    for 1995 (5 rows x 12 static month columns).

    ``.pivot(col, values)`` with an EXPLICIT value list — never the
    two-arg form, which runs a driver-side distinct job to discover
    columns before the plan can even resolve. With static values the
    pivot compiles to one hash aggregate with 12 conditional columns:
    single shuffle of 5x12 partial cells per partition, same cost as a
    plain groupBy at any scale.
    """
    o = table(spark, sf_dir, "orders")
    proj = o.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select(
        F.col("o_orderpriority").alias("id"),
        F.month("o_orderdate").alias("month"),
        "o_totalprice",
    )
    wide = (
        proj.groupBy("id")
        .pivot("month", _Q135_MONTHS)
        .agg(prnd(F.avg("o_totalprice"), 2))
    )
    renames = [F.col("id")] + [
        F.col(str(m)).alias(f"m{m:02d}") for m in _Q135_MONTHS
    ]
    return wide.select(*renames)


# ---------------------------------------------------------------------------
# q136 window distribution functions
# ---------------------------------------------------------------------------


@query(
    "q136_distribution_windows",
    oracle=f"""
    SELECT c_custkey,
           c_nationkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           {o_rnd('percent_rank() OVER w', 6)} AS pct_rank,
           {o_rnd('cume_dist() OVER w', 6)} AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def q136_distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window distribution family (§2.5 ranking beyond row_number):
    ntile / percent_rank / cume_dist over balances per nation.

    All three share ONE window spec, so Spark plans a single sort
    within each nation partition (one exchange + one sort total — the
    WindowExec computes all three functions in the same pass). The
    ORDER BY carries c_custkey as a unique tie-break: distribution
    functions over a non-total order are nondeterministic under
    parallel re-runs, which at 100 TB means unreproducible outputs.
    """
    win = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(win).cast("long").alias("quartile"),
        prnd(F.percent_rank().over(win), 6).alias("pct_rank"),
        prnd(F.cume_dist().over(win), 6).alias("cume"),
    )


# ---------------------------------------------------------------------------
# q137 disjunctive predicate (TPC-H Q19 shape)
# ---------------------------------------------------------------------------


@query(
    "q137_disjunctive_pred",
    oracle=f"""
    SELECT {o_rnd('coalesce(sum(l_extendedprice * (1 - l_discount)), 0.0)', 2)} AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q137_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-conjunctions join predicate (TPC-H Q19 shape): the classic
    optimizer test for disjunctive pushdown.

    Catalyst factors the single-table conjuncts out of the OR: lineitem
    gets ``l_quantity BETWEEN 1 AND 30`` and part gets the brand/size
    disjunction pushed INTO the scans (visible in PushedFilters), so
    both sides shrink before the join; the full disjunction evaluates
    post-join only on surviving rows. part is broadcast — the 100 TB
    fact side never shuffles for a dimension predicate.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(clause).agg(
        prnd(
            F.coalesce(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                F.lit(0.0),
            ),
            2,
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


# ---------------------------------------------------------------------------
# q138 scalar subquery + anti join (TPC-H Q22 shape)
# ---------------------------------------------------------------------------


@query(
    "q138_dormant_customers",
    oracle=f"""
    WITH cutoff AS (
      SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey,
           count(*) AS n_cust,
           {o_rnd('sum(c_acctbal)', 2)} AS total_bal
    FROM customer, cutoff
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
)
def q138_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-style "rich but dormant" screen: scalar-subquery
    threshold + NOT EXISTS, grouped by nation.

    The average-balance scalar is a 1-row aggregate cross-joined in
    (BroadcastNestedLoopJoin of one row — free); NOT EXISTS compiles to
    LEFT ANTI join on o_custkey. At scale the anti join's orders side
    projects a single column and partial-distincts it map-side; with
    AQE the post-threshold customer side is small enough to broadcast,
    making the anti probe shuffle-free.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").select("o_custkey")
    cutoff = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = c.crossJoin(cutoff).filter(F.col("c_acctbal") > F.col("avg_bal"))
    dormant = rich.join(
        o, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    )
    return dormant.groupBy("c_nationkey").agg(
        F.count("*").alias("n_cust"),
        prnd(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


# ---------------------------------------------------------------------------
# q148 max-aggregate scalar subquery (TPC-H Q15 shape)
# ---------------------------------------------------------------------------


@query(
    "q148_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             sum(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           {o_rnd('total_revenue', 2)} AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def q148_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15 shape: revenue view per supplier for one quarter, then
    the supplier(s) achieving the MAX of that view — an aggregate of an
    aggregate consumed as a scalar predicate.

    The revenue view is computed ONCE and reused for both the max
    scalar and the final probe (Spark reuses the shuffle via the
    ReusedExchange the plan shows for self-referencing aggregates);
    the max arrives as a 1-row broadcast, and the supplier dimension is
    broadcast onto the tiny post-filter result — the fact table is
    scanned and shuffled exactly once at any scale.
    """
    li = table(spark, sf_dir, "lineitem")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    sup = table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("suppkey"))
        .select(
            "s_suppkey", "s_name", prnd("total_revenue", 2).alias("total_revenue")
        )
    )


# ---------------------------------------------------------------------------
# q149 distinct-count + NOT IN exclusion (TPC-H Q16 shape)
# ---------------------------------------------------------------------------


@query(
    "q149_supplier_diversity",
    oracle="""
    WITH excl AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    SELECT p_brand, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
      AND l_suppkey NOT IN (SELECT s_suppkey FROM excl)
    GROUP BY p_brand, p_size
    """,
)
def q149_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16 shape: distinct suppliers per (brand, size) with a
    NOT IN exclusion list — distinct-aggregation after an anti join.

    NOT IN over a provably non-null key column compiles to LEFT ANTI
    (the null-aware penalty never triggers); the exclusion list and the
    brand-filtered part dimension both broadcast, so the fact side's
    only exchange is the final distinct-count — which Spark plans as
    the standard two-phase (partial distinct per partition, then
    merge), keeping hot (brand, size) keys from concentrating raw rows.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#11", "Brand#22", "Brand#33")
    )
    excl = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(excl),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q150 correlated-aggregate subquery, decorrelated (TPC-H Q17 shape)
# ---------------------------------------------------------------------------


@query(
    "q150_small_quantity_revenue",
    oracle=f"""
    WITH avg_qty AS (
      SELECT l_partkey AS partkey, 0.2 * avg(l_quantity) AS threshold
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {o_rnd('coalesce(sum(l_extendedprice), 0.0) / 7.0', 2)} AS avg_yearly,
           count(*) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN avg_qty ON partkey = l_partkey
    WHERE p_brand = 'Brand#23' AND l_quantity < threshold
    """,
)
def q150_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17 shape: per-part correlated average-quantity subquery
    (`l_quantity < 0.2 * avg over the same part`), written directly in
    its decorrelated form — a per-key aggregate joined back to the
    fact table, which is exactly what a correlated-subquery rewrite
    produces.

    At scale the per-part aggregate is small (one row per part) and
    broadcast-eligible under AQE; the brand filter broadcasts into the
    fact probe so only Brand#23 rows pay the join. The avg_qty side
    intentionally aggregates the UNFILTERED lineitem (the subquery is
    correlated on partkey alone) — pushing the brand filter into it
    would change semantics; the plan keeps the two scans separate.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    avg_qty = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("threshold")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(avg_qty, F.col("partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("threshold"))
        .agg(
            prnd(
                F.coalesce(F.sum("l_extendedprice"), F.lit(0.0)) / 7.0, 2
            ).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# q151 HAVING + semi-join back (TPC-H Q18 shape)
# ---------------------------------------------------------------------------

_Q151_QTY = 250.0


@query(
    "q151_large_orders",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > {_Q151_QTY}
    )
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS orderdate,
           {o_rnd('o_totalprice', 2)} AS totalprice,
           {o_rnd('sum(l_quantity)', 2)} AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q151_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18 shape: orders whose total quantity exceeds a HAVING
    threshold, re-joined to customers and line items — the
    aggregate-then-semi-join pattern.

    The HAVING aggregate reduces lineitem to a small orderkey list; it
    probes back as LEFT SEMI before the wide 3-way join, so only
    qualifying orders' rows flow into the join stage. Both fact-fact
    joins are on orderkey — one co-partitioning serves the semi probe,
    the re-aggregation, and the orders join (a single exchange chain;
    with bucketed tables, zero).
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .filter(F.col("tq") > _Q151_QTY)
        .select("l_orderkey")
    )
    li_big = li.join(
        big.withColumnRenamed("l_orderkey", "bk"),
        F.col("l_orderkey") == F.col("bk"),
        "left_semi",
    )
    return (
        li_big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_totalprice",
        )
        .agg(prnd(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "orderdate",
            prnd("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
    )


# ---------------------------------------------------------------------------
# q160 snapshot reconciliation (table diff)
# ---------------------------------------------------------------------------


@query(
    "q160_snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS price
      FROM orders
    ),
    b AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CASE WHEN o_orderkey % 101 = 0
                  THEN o_totalprice * 1.01 ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000000 AS k, o_orderstatus AS st,
             o_totalprice AS price
      FROM orders WHERE o_orderkey % 113 = 0
    ),
    d AS (
      SELECT coalesce(a.k, b.k) AS k,
             CASE WHEN b.k IS NULL THEN 'removed'
                  WHEN a.k IS NULL THEN 'added'
                  WHEN a.st <> b.st OR a.price <> b.price THEN 'changed'
                  ELSE 'equal' END AS status
      FROM a FULL OUTER JOIN b ON a.k = b.k
    )
    SELECT status, count(*) AS n_rows, min(k) AS min_key, max(k) AS max_key
    FROM d GROUP BY status
    """,
)
def q160_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff two versions of a table into
    added / removed / changed / equal classes — the anti-entropy check
    every reload pipeline (reference L3: delete-verify-insert) runs to
    prove a swap preserved the data. The second snapshot is derived
    in-query (deterministic synthetic deletes %97, updates %101,
    inserts %113) so the gate hash-checks the diff logic itself.

    One full-outer hash join on the primary key, then per-class
    partial-agg counts. Change detection compares TYPED columns, never
    engine-formatted strings (float->string differs across engines; a
    hash-of-concat diff would false-positive). At 100 TB, bucketing
    both snapshots by key makes the diff exchange-free.
    """
    o = table(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("price"),
    )
    b_upd = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("st"),
            F.when(
                F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") * 1.01
            )
            .otherwise(F.col("o_totalprice"))
            .alias("price"),
        )
    )
    b_ins = o.filter(F.col("o_orderkey") % 113 == 0).select(
        (F.col("o_orderkey") + 1000000000).alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("price"),
    )
    b = b_upd.unionByName(b_ins)
    a2 = a.select(
        F.col("k").alias("ka"), F.col("st").alias("sta"), F.col("price").alias("pa")
    )
    b2 = b.select(
        F.col("k").alias("kb"), F.col("st").alias("stb"), F.col("price").alias("pb")
    )
    d = a2.join(b2, F.col("ka") == F.col("kb"), "full_outer").select(
        F.coalesce("ka", "kb").alias("k"),
        F.when(F.col("kb").isNull(), "removed")
        .when(F.col("ka").isNull(), "added")
        .when(
            (F.col("sta") != F.col("stb")) | (F.col("pa") != F.col("pb")),
            "changed",
        )
        .otherwise("equal")
        .alias("status"),
    )
    return d.groupBy("status").agg(
        F.count("*").alias("n_rows"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# q169 equi-width histogram
# ---------------------------------------------------------------------------

_Q169_BINS = 20


@query(
    "q169_histogram",
    oracle=f"""
    WITH b AS (
      SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
    ),
    h AS (
      SELECT o_orderpriority,
             least(CAST(floor((o_totalprice - b.lo) / ((b.hi - b.lo) / {_Q169_BINS}.0) ) AS BIGINT),
                   {_Q169_BINS - 1}) AS bin
      FROM orders CROSS JOIN b
    )
    SELECT o_orderpriority, bin, count(*) AS n
    FROM h GROUP BY o_orderpriority, bin
    """,
)
def q169_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (20 bins over the global [min, max]) of
    order totals per priority — the distribution profile every data
    QA dashboard draws.

    The bin fences come from a 1-row min/max aggregate broadcast onto
    the scan (two passes total, both full-scan-cheap); binning is pure
    row arithmetic and the result is a partial-agg groupBy of at most
    priorities x bins rows. The last bin absorbs the max via least()
    identically in both engines — float bin edges are computed with
    the same (x - lo) / width expression so boundary rows land the
    same side everywhere.
    """
    o = table(spark, sf_dir, "orders")
    b = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / float(_Q169_BINS)
    h = o.crossJoin(F.broadcast(b)).select(
        "o_orderpriority",
        F.least(
            F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("long"),
            F.lit(_Q169_BINS - 1).cast("long"),
        ).alias("bin"),
    )
    return h.groupBy("o_orderpriority", "bin").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# q177 Benford first-digit screen
# ---------------------------------------------------------------------------


@query(
    "q177_benford_digits",
    oracle=f"""
    WITH d AS (
      SELECT o_orderpriority,
             CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1.0
    ),
    c AS (
      SELECT o_orderpriority, digit, count(*) AS n,
             sum(count(*)) OVER (PARTITION BY o_orderpriority) AS total
      FROM d GROUP BY o_orderpriority, digit
    )
    SELECT o_orderpriority, digit, n,
           {o_rnd('CAST(n AS DOUBLE) / total', 6)} AS observed,
           {o_rnd('log10(1.0 + 1.0 / digit)', 6)} AS benford_expected
    FROM c
    """,
)
def q177_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen: observed leading-digit shares
    of order totals per priority next to log10(1 + 1/d) — the forensic
    QA test that flags fabricated or truncated monetary columns (real
    transactional amounts follow Benford; synthetic uniforms do not,
    which THIS data demonstrates).

    Digit extraction goes through integer/string ops only (floor ->
    bigint -> first char) — float-to-string formatting differs across
    engines and is never hashed. One partial-agg groupBy plus a
    window over the 5x9 count table.
    """
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1.0)
    d = o.select(
        "o_orderpriority",
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit"),
    )
    c = d.groupBy("o_orderpriority", "digit").agg(F.count("*").alias("n"))
    total = F.sum("n").over(W.partitionBy("o_orderpriority"))
    return c.select(
        "o_orderpriority",
        "digit",
        "n",
        prnd(F.col("n").cast("double") / total, 6).alias("observed"),
        prnd(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias(
            "benford_expected"
        ),
    )


# ---------------------------------------------------------------------------
# q178 revenue concentration (HHI)
# ---------------------------------------------------------------------------


@query(
    "q178_revenue_concentration",
    oracle=f"""
    WITH r AS (
      SELECT c_nationkey, o_custkey, sum(o_totalprice) AS rev
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY c_nationkey, o_custkey
    ),
    s AS (
      SELECT c_nationkey,
             count(*) AS n_cust,
             sum(rev) AS total_rev,
             sum(rev * rev) AS sq
      FROM r GROUP BY c_nationkey
    )
    SELECT c_nationkey, n_cust,
           {o_rnd('total_rev', 2)} AS total_rev,
           {o_rnd('sq / (total_rev * total_rev)', 6)} AS hhi
    FROM s
    """,
)
def q178_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per nation via the Herfindahl-Hirschman
    index: HHI = sum(share^2) = sum(rev^2)/total^2 — 1/n for perfectly
    even books, 1.0 for single-customer dependence; the
    concentration-risk metric computed WITHOUT materializing shares
    (the sum-of-squares identity keeps it one aggregation chain).

    Two groupBys (customer revenue, then nation moments), both
    partial-agg; the customer dim broadcasts into the first join.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    r = (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    s = r.groupBy("c_nationkey").agg(
        F.count("*").alias("n_cust"),
        F.sum("rev").alias("total_rev"),
        F.sum(F.col("rev") * F.col("rev")).alias("sq"),
    )
    return s.select(
        "c_nationkey",
        "n_cust",
        prnd("total_rev", 2).alias("total_rev"),
        prnd(
            F.col("sq") / (F.col("total_rev") * F.col("total_rev")), 6
        ).alias("hhi"),
    )


# ---------------------------------------------------------------------------
# q192 Gini coefficient
# ---------------------------------------------------------------------------


@query(
    "q192_gini_coefficient",
    oracle=f"""
    WITH x AS (
      SELECT c_nationkey, c_acctbal, c_custkey FROM customer
      WHERE c_acctbal > 0.0
    ),
    r AS (
      SELECT c_nationkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal, c_custkey) AS i,
             count(*) OVER (PARTITION BY c_nationkey) AS n
      FROM x
    )
    SELECT c_nationkey,
           CAST(max(n) AS BIGINT) AS n_cust,
           {o_rnd('2.0 * sum(i * c_acctbal) / (max(n) * sum(c_acctbal)) - (max(n) + 1.0) / max(n)', 6)} AS gini
    FROM r GROUP BY c_nationkey
    """,
)
def q192_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of positive balances per nation via the
    sorted-rank identity G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n — the
    inequality measure computed with ONE per-group sort and one
    aggregate, no pairwise |x_i - x_j| double sum (which is the
    textbook definition and an O(n^2) join).

    The (value, key) tie-broken rank is a total order, so both engines
    assign identical ranks and the statistic hash-checks exactly."""
    from pyspark.sql import Window as W

    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0.0)
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    r = c.select(
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).alias("i"),
        F.count("*").over(W.partitionBy("c_nationkey")).alias("n"),
    )
    return r.groupBy("c_nationkey").agg(
        F.max("n").cast("long").alias("n_cust"),
        prnd(
            2.0
            * F.sum(F.col("i") * F.col("c_acctbal"))
            / (F.max("n") * F.sum("c_acctbal"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q195 Lorenz curve deciles
# ---------------------------------------------------------------------------


@query(
    "q195_lorenz_deciles",
    oracle=f"""
    WITH x AS (
      SELECT c_nationkey, c_acctbal, c_custkey FROM customer
      WHERE c_acctbal > 0.0
    ),
    r AS (
      SELECT c_nationkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal, c_custkey) AS i,
             count(*) OVER (PARTITION BY c_nationkey) AS n,
             sum(c_acctbal) OVER (PARTITION BY c_nationkey) AS total
      FROM x
    ),
    c AS (
      SELECT c_nationkey,
             (i * 10 - 1) // n AS decile,
             sum(c_acctbal) OVER (PARTITION BY c_nationkey ORDER BY i
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) / total AS cum_share,
             i, n
      FROM r
    )
    SELECT c_nationkey,
           CAST(decile AS BIGINT) AS decile,
           {o_rnd('max(cum_share)', 6)} AS cum_share
    FROM c GROUP BY c_nationkey, decile
    """,
)
def q195_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve decile points per nation: cumulative share of
    total balance held by the bottom d/10 of customers — the curve the
    q192 Gini summarizes, for dashboards that need the SHAPE (which
    decile concentration lives in).

    Same single per-group sort as q192; decile boundaries via integer
    rank arithmetic ((i*10 - 1) // n) so both engines cut identically;
    each decile reports its closing cumulative share (max of the
    running share inside the decile)."""
    from pyspark.sql import Window as W

    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0.0)
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    pw = W.partitionBy("c_nationkey")
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    r = c.select(
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).alias("i"),
        F.count("*").over(pw).alias("n"),
        F.sum("c_acctbal").over(pw).alias("total"),
        (F.sum("c_acctbal").over(cum)).alias("run"),
    )
    d = r.select(
        "c_nationkey",
        ((F.col("i") * 10 - 1) / F.col("n")).cast("long").alias("decile"),
        (F.col("run") / F.col("total")).alias("cum_share"),
    )
    return d.groupBy("c_nationkey", "decile").agg(
        prnd(F.max("cum_share"), 6).alias("cum_share")
    )


# ---------------------------------------------------------------------------
# q198 referential-integrity audit
# ---------------------------------------------------------------------------


@query(
    "q198_integrity_audit",
    oracle="""
    SELECT 'lineitem->orders' AS fk,
           count(*) AS n_rows,
           count(*) FILTER (WHERE o.o_orderkey IS NULL) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    UNION ALL
    SELECT 'orders->customer' AS fk,
           count(*) AS n_rows,
           count(*) FILTER (WHERE c.c_custkey IS NULL) AS n_orphans
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'lineitem->part' AS fk,
           count(*) AS n_rows,
           count(*) FILTER (WHERE p.p_partkey IS NULL) AS n_orphans
    FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
    """,
)
def q198_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts across the three
    foreign keys of the star schema in one result — the nightly check
    that catches partial loads and broken CDC before marts consume
    them (the reference's verify_deletion/count checks generalized to
    FK health).

    Each leg is a LEFT join counting null probes; the dimension sides
    (orders keys / customer / part) broadcast or shuffle on the key
    with partial-agg counts, never materializing the orphan rows."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    p = table(spark, sf_dir, "part")

    def leg(fact, dim, fk_col, pk_col, tag):
        return (
            fact.select(F.col(fk_col))
            .join(
                dim.select(F.col(pk_col)),
                F.col(fk_col) == F.col(pk_col),
                "left",
            )
            .agg(
                F.lit(tag).alias("fk"),
                F.count("*").alias("n_rows"),
                F.count(F.when(F.col(pk_col).isNull(), 1)).alias("n_orphans"),
            )
            .select("fk", "n_rows", "n_orphans")
        )

    return (
        leg(li, o, "l_orderkey", "o_orderkey", "lineitem->orders")
        .unionByName(leg(o, c, "o_custkey", "c_custkey", "orders->customer"))
        .unionByName(leg(li, p, "l_partkey", "p_partkey", "lineitem->part"))
    )


# ---------------------------------------------------------------------------
# q204 market-basket affinity (support / confidence / lift)
# ---------------------------------------------------------------------------

_Q204_MIN_PAIR = 3


@query(
    "q204_basket_lift",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, p_brand AS item
      FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    nb AS (SELECT count(DISTINCT ok) AS n_baskets FROM items),
    freq AS (SELECT item, count(*) AS n FROM items GROUP BY item),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
      FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
      GROUP BY a.item, b.item
      HAVING count(*) >= {_Q204_MIN_PAIR}
    )
    SELECT p.item_a, p.item_b, p.n_ab,
           {o_rnd('CAST(p.n_ab AS DOUBLE) / nb.n_baskets', 6)} AS support,
           {o_rnd('CAST(p.n_ab AS DOUBLE) / fa.n', 6)} AS confidence,
           {o_rnd('CAST(p.n_ab AS DOUBLE) * nb.n_baskets / (CAST(fa.n AS DOUBLE) * fb.n)', 6)} AS lift
    FROM pairs p
    JOIN freq fa ON fa.item = p.item_a
    JOIN freq fb ON fb.item = p.item_b
    CROSS JOIN nb
    """,
)
def q204_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: brand co-occurrence within orders with
    support / confidence / lift — the association-rule primitive
    (recommendations, cross-sell) as one self-join on the basket key.

    Baskets are DISTINCT (order, item) pairs, so duplicate line items
    never inflate counts; the pair join blocks on the order key (pair
    work quadratic only in basket SIZE, never corpus size) and the
    min-support HAVING prunes the tail before the stats joins. At
    scale this is the a-priori first pass; higher-order itemsets
    iterate the same shape on the survivors."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("item"))
        .distinct()
    )
    nb = items.agg(F.countDistinct("ok").alias("n_baskets"))
    freq = items.groupBy("item").agg(F.count("*").alias("n"))
    a = items.select("ok", F.col("item").alias("item_a"))
    b = items.select("ok", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _Q204_MIN_PAIR)
    )
    fa = freq.select(F.col("item").alias("item_a"), F.col("n").alias("n_a"))
    fb = freq.select(F.col("item").alias("item_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(fa), "item_a")
        .join(F.broadcast(fb), "item_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            "n_ab",
            prnd(
                F.col("n_ab").cast("double") / F.col("n_baskets"), 6
            ).alias("support"),
            prnd(F.col("n_ab").cast("double") / F.col("n_a"), 6).alias(
                "confidence"
            ),
            prnd(
                F.col("n_ab").cast("double")
                * F.col("n_baskets")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# q211 week-over-week growth metrics
# ---------------------------------------------------------------------------


@query(
    "q211_wow_growth",
    oracle=f"""
    WITH wk AS (
      SELECT o_orderpriority,
             date_trunc('week', o_orderdate) AS week,
             sum(o_totalprice) AS revenue,
             count(*) AS n_orders
      FROM orders
      GROUP BY o_orderpriority, date_trunc('week', o_orderdate)
    ),
    g AS (
      SELECT o_orderpriority, week, revenue, n_orders,
             lag(revenue) OVER w AS prev_rev,
             lag(revenue, 4) OVER w AS prev4_rev
      FROM wk WINDOW w AS (PARTITION BY o_orderpriority ORDER BY week)
    )
    SELECT o_orderpriority,
           strftime(week, '%Y-%m-%d') AS week,
           {o_rnd('revenue', 2)} AS revenue,
           n_orders,
           {o_rnd('CASE WHEN prev_rev > 0.0 THEN revenue / prev_rev - 1.0 END', 6)} AS wow_growth,
           {o_rnd('CASE WHEN prev4_rev > 0.0 THEN revenue / prev4_rev - 1.0 END', 6)} AS w4w_growth
    FROM g
    """,
)
def q211_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week and 4-week growth of revenue per priority — the
    BI staple (periodic re-aggregation + offset comparison) every
    reporting layer ships.

    One partial-agg weekly rollup (weeks x priorities rows), then two
    lags over the SAME per-priority week sort; growth guards divide-
    by-zero identically in both engines. The raw data is aggregated
    exactly once — the offsets operate on the rollup."""
    o = table(spark, sf_dir, "orders")
    wk = o.groupBy(
        "o_orderpriority", F.date_trunc("week", "o_orderdate").alias("week")
    ).agg(
        F.sum("o_totalprice").alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    w = W.partitionBy("o_orderpriority").orderBy("week")
    prev = F.lag("revenue").over(w)
    prev4 = F.lag("revenue", 4).over(w)
    return wk.select(
        "o_orderpriority",
        F.date_format("week", "yyyy-MM-dd").alias("week"),
        prnd("revenue", 2).alias("revenue"),
        "n_orders",
        prnd(
            F.when(prev > 0.0, F.col("revenue") / prev - 1.0), 6
        ).alias("wow_growth"),
        prnd(
            F.when(prev4 > 0.0, F.col("revenue") / prev4 - 1.0), 6
        ).alias("w4w_growth"),
    )


# ---------------------------------------------------------------------------
# q220 price-ending clustering (round-number bias)
# ---------------------------------------------------------------------------


@query(
    "q220_price_endings",
    oracle=f"""
    WITH c AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5001) AS BIGINT) % 100 AS cents
      FROM orders
    ),
    h AS (SELECT cents, count(*) AS n FROM c GROUP BY cents),
    t AS (SELECT sum(n) AS total, count(*) AS n_bins FROM h)
    SELECT h.cents, h.n,
           {o_rnd('CAST(h.n AS DOUBLE) / t.total', 6)} AS observed,
           {o_rnd('1.0 / t.n_bins', 6)} AS uniform_expected,
           {o_rnd('CAST(h.n AS DOUBLE) / t.total * t.n_bins', 4)} AS bias_ratio
    FROM h CROSS JOIN t
    """,
)
def q220_price_endings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-ending clustering: the distribution of the cents digits
    of order totals against uniform — real markets cluster quotes at
    .00/.50 (round-number bias, a microstructure fact and a synthetic-
    data tell, like q177's Benford screen for leading digits).

    Cents extract via the SAME integer grid as the engine's monetary
    rounding (floor(x*100 + eps)) so both engines bin identically; one
    partial-agg groupBy of at most 100 bins + a 1-row totals join."""
    o = table(spark, sf_dir, "orders")
    c = o.select(
        (
            F.floor(F.col("o_totalprice") * 100.0 + 0.5001).cast("long") % 100
        ).alias("cents")
    )
    h = c.groupBy("cents").agg(F.count("*").alias("n"))
    t = h.agg(F.sum("n").alias("total"), F.count("*").alias("n_bins"))
    return h.crossJoin(F.broadcast(t)).select(
        "cents",
        "n",
        prnd(F.col("n").cast("double") / F.col("total"), 6).alias("observed"),
        prnd(F.lit(1.0) / F.col("n_bins"), 6).alias("uniform_expected"),
        prnd(
            F.col("n").cast("double") / F.col("total") * F.col("n_bins"), 4
        ).alias("bias_ratio"),
    )


# ---------------------------------------------------------------------------
# q226 sole-late-supplier blame (TPC-H Q21 shape: EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------

_Q226_LATE_DAYS = 90


@query(
    "q226_blame_supplier",
    oracle=f"""
    SELECT s.s_suppkey, s.s_name,
           CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE l1.l_shipdate > o.o_orderdate + INTERVAL {_Q226_LATE_DAYS} DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL {_Q226_LATE_DAYS} DAY
      )
    GROUP BY s.s_suppkey, s.s_name
    """,
)
def q226_blame_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's double-correlated existential (suppliers who were
    the SOLE late shipper in a multi-supplier order — ship date more
    than 90 days after the order date), completing the subquery family
    q148-q151 started: one EXISTS plus one NOT EXISTS against the same
    fact table.

    The oracle states the correlated form; the Spark plan decorrelates
    BOTH subqueries into a single per-(order, supplier) aggregation —
    late flag per supplier-in-order, then supplier count + late count
    per order — so the fact table is scanned once and shuffled once on
    the join key it already groups by. EXISTS == (n_supp >= 2),
    NOT EXISTS == (n_late == 1) given this supplier is late; the
    100-row supplier dim broadcasts."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    ls = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (
                    F.col("l_shipdate")
                    > F.date_add("o_orderdate", _Q226_LATE_DAYS)
                ).cast("int")
            ).alias("late")
        )
    )
    per_order = ls.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"), F.sum("late").alias("n_late")
    )
    blamed = (
        ls.filter(F.col("late") == 1)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    return (
        blamed.join(
            F.broadcast(s), blamed.l_suppkey == s.s_suppkey
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# q227 small-file compaction planner (greedy sequential bin packing)
# ---------------------------------------------------------------------------

_Q227_ROW_BYTES = 64  # synthetic on-disk width per row
_Q227_TARGET = 256_000  # target compacted file size (bytes)


@query(
    "q227_compaction_planner",
    oracle=f"""
    WITH files AS (
      SELECT o_orderpriority AS pri,
             strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mon,
             CAST(count(*) * {_Q227_ROW_BYTES} AS BIGINT) AS bytes
      FROM orders GROUP BY 1, 2
    ),
    placed AS (
      SELECT pri, mon, bytes,
             CAST(floor(CAST(sum(bytes) OVER (PARTITION BY pri ORDER BY mon
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes AS DOUBLE)
                        / {_Q227_TARGET}) AS BIGINT) AS bin
      FROM files
    )
    SELECT pri, bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           min(mon) AS first_mon, max(mon) AS last_mon
    FROM placed GROUP BY pri, bin
    """,
)
def q227_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the maintenance pass every
    partitioned lake needs (the reference's hot-table compaction,
    streaming/sinks.py compact_hot_table, decides WHETHER; this
    decides HOW): model each (partition, month) slice as a file of
    rows x 64 bytes, then assign files to target-sized compaction
    groups by greedy sequential packing — a file starts a new group
    when the running total before it crosses a 256 KB boundary.

    The packing is one cumulative-sum window per partition over the
    file INVENTORY (metadata-scale: thousands of rows for petabyte
    tables), never the data; each group is then one coalesced rewrite
    job. Deterministic: month order fixes the sequence, floor(cum/
    target) fixes the bins — both engines place identically."""
    o = table(spark, sf_dir, "orders")
    files = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "mon"
        ),
    ).agg((F.count("*") * _Q227_ROW_BYTES).cast("long").alias("bytes"))
    w = (
        W.partitionBy("pri")
        .orderBy("mon")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    placed = files.select(
        "pri",
        "mon",
        "bytes",
        F.floor(
            (F.sum("bytes").over(w) - F.col("bytes")).cast("double")
            / _Q227_TARGET
        )
        .cast("long")
        .alias("bin"),
    )
    return placed.groupBy("pri", "bin").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("bytes").cast("long").alias("total_bytes"),
        F.min("mon").alias("first_mon"),
        F.max("mon").alias("last_mon"),
    )


# ---------------------------------------------------------------------------
# q228 k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------

_Q228_K = 5


@query(
    "q228_k_anonymity",
    oracle=f"""
    WITH q AS (
      SELECT c_mktsegment AS segment, c_nationkey AS nation,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket
      FROM customer
    ),
    cls AS (
      SELECT segment, nation, bal_bucket,
             CAST(count(*) AS BIGINT) AS class_size
      FROM q GROUP BY 1, 2, 3
    ),
    tot AS (SELECT CAST(sum(class_size) AS DOUBLE) AS n FROM cls)
    SELECT segment, nation, bal_bucket, class_size,
           CAST(class_size < {_Q228_K} AS INT) AS violates_k,
           {o_rnd(f'CASE WHEN class_size < {_Q228_K} THEN class_size ELSE 0 END / any_value(tot.n)', 6)} AS reident_risk_share
    FROM cls CROSS JOIN tot
    GROUP BY segment, nation, bal_bucket, class_size
    """,
)
def q228_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over the customer quasi-identifier
    tuple (market segment, nation, account-balance band): every
    equivalence class with its size, a violation flag, and the share
    of the population each violating class exposes to re-identification
    — the privacy gate a training-data release pipeline runs before
    shipping user-derived tables (companion to q77's PII content
    filter, which looks INSIDE values; this audits the JOINT
    distribution).

    One partial-agg groupBy over the generalized tuple + a broadcast
    1-row total; banding rides floor division so both engines cut
    identical buckets. At scale the class table is tiny relative to
    the input (generalization is compression), and suppression =
    an anti join of violating classes back against the source."""
    c = table(spark, sf_dir, "customer")
    q = c.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nation"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bucket"),
    )
    cls = q.groupBy("segment", "nation", "bal_bucket").agg(
        F.count("*").cast("long").alias("class_size")
    )
    tot = cls.agg(F.sum("class_size").cast("double").alias("n"))
    viol = F.col("class_size") < _Q228_K
    return cls.crossJoin(F.broadcast(tot)).select(
        "segment",
        "nation",
        "bal_bucket",
        "class_size",
        viol.cast("int").alias("violates_k"),
        prnd(
            F.when(viol, F.col("class_size")).otherwise(0).cast("double")
            / F.col("n"),
            6,
        ).alias("reident_risk_share"),
    )


# ---------------------------------------------------------------------------
# q241 mergeable aggregation state (Chan/Welford shard merge == direct)
# ---------------------------------------------------------------------------


@query(
    "q241_state_merge",
    oracle=f"""
    WITH shard AS (
      SELECT o_orderpriority AS pri, o_orderkey % 2 AS sh,
             CAST(count(*) AS BIGINT) AS n,
             avg(o_totalprice) AS mean,
             var_pop(o_totalprice) * count(*) AS m2
      FROM orders GROUP BY 1, 2
    ),
    merged AS (
      SELECT a.pri,
             a.n + b.n AS n,
             (a.n * a.mean + b.n * b.mean) / (a.n + b.n) AS mean,
             a.m2 + b.m2
               + (b.mean - a.mean) * (b.mean - a.mean)
                 * a.n * b.n / (a.n + b.n) AS m2
      FROM shard a JOIN shard b ON b.pri = a.pri AND a.sh = 0 AND b.sh = 1
    ),
    direct AS (
      SELECT o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS n,
             avg(o_totalprice) AS mean,
             var_pop(o_totalprice) AS v
      FROM orders GROUP BY 1
    )
    SELECT m.pri, m.n,
           {o_rnd('m.mean', 4)} AS merged_mean,
           {o_rnd('m.m2 / m.n', 4)} AS merged_var,
           {o_rnd('d.v', 4)} AS direct_var,
           CAST({o_rnd('m.m2 / m.n', 4)} = {o_rnd('d.v', 4)} AND m.n = d.n AS INT) AS states_agree
    FROM merged m JOIN direct d USING (pri)
    """,
)
def q241_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable aggregation state, proven through the gate: compute
    (n, mean, M2) moments independently on two disjoint shards (odd /
    even order keys — stand-ins for yesterday's materialized state
    and today's increment), merge them with the Chan/Welford parallel
    formula (M2 = M2a + M2b + delta^2 * na*nb/n), and emit the merged
    variance NEXT TO the direct single-pass variance with an equality
    flag — the algebraic contract every incremental mart (L5
    trailing-window dbt model, streaming foreachBatch upserts) relies
    on: state merge must equal recompute.

    Two partial-agg groupBys over the same scan + a 5-row self join;
    at scale the shards are yesterday's STORED tiny state table and
    the new partition, so the merge touches no history at all."""
    o = table(spark, sf_dir, "orders")
    shard = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        (F.col("o_orderkey") % 2).alias("sh"),
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.avg("o_totalprice").alias("mean"),
        (F.var_pop("o_totalprice") * F.count("*")).alias("m2"),
    )
    a = shard.filter(F.col("sh") == 0).select(
        "pri",
        F.col("n").alias("na"),
        F.col("mean").alias("ma"),
        F.col("m2").alias("m2a"),
    )
    b = shard.filter(F.col("sh") == 1).select(
        "pri",
        F.col("n").alias("nb"),
        F.col("mean").alias("mb"),
        F.col("m2").alias("m2b"),
    )
    n = F.col("na") + F.col("nb")
    delta = F.col("mb") - F.col("ma")
    merged = a.join(b, "pri").select(
        "pri",
        n.alias("n"),
        ((F.col("na") * F.col("ma") + F.col("nb") * F.col("mb")) / n).alias(
            "mean"
        ),
        (
            F.col("m2a")
            + F.col("m2b")
            + delta * delta * F.col("na") * F.col("nb") / n
        ).alias("m2"),
    )
    direct = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count("*").cast("long").alias("dn"),
        F.var_pop("o_totalprice").alias("v"),
    )
    mv = prnd(F.col("m2") / F.col("n"), 4)
    dv = prnd("v", 4)
    return merged.join(direct, "pri").select(
        "pri",
        F.col("n").cast("long").alias("n"),
        prnd("mean", 4).alias("merged_mean"),
        mv.alias("merged_var"),
        dv.alias("direct_var"),
        ((mv == dv) & (F.col("n") == F.col("dn"))).cast("int").alias(
            "states_agree"
        ),
    )


# ---------------------------------------------------------------------------
# q243 skyline / Pareto frontier (cheapest-vs-largest parts)
# ---------------------------------------------------------------------------


@query(
    "q243_skyline",
    oracle=f"""
    WITH g AS (
      SELECT p_retailprice AS price, CAST(max(p_size) AS BIGINT) AS gmax
      FROM part GROUP BY p_retailprice
    ),
    fr AS (
      SELECT price, gmax,
             max(gmax) OVER (ORDER BY price
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_lt
      FROM g
    )
    SELECT p.p_partkey, p.p_name,
           {o_rnd('p.p_retailprice', 2)} AS price,
           CAST(p.p_size AS BIGINT) AS size
    FROM part p JOIN fr ON fr.price = p.p_retailprice
    WHERE (fr.m_lt IS NULL OR fr.m_lt < p.p_size)
      AND fr.gmax <= p.p_size
    """,
)
def q243_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) operator — parts not dominated on
    (minimize price, maximize size): a part is OUT if some part is
    cheaper-or-equal AND bigger-or-equal with one strict. The classic
    multi-criteria shortlist the relational algebra lacks as a
    primitive (Borzsony/Kossmann/Stocker, ICDE'01).

    The naive formulation is an O(n^2) dominance self-join; the 2-D
    identity collapses it to ONE sort: group to per-price max size,
    running max over strictly-cheaper prices (exclusive frame keeps
    the tie group out), and a row survives iff no cheaper group
    reaches its size and it tops its own price group. The exclusive
    running max routes through operators/globalrank's cum_maxs_excl
    (range exchange + local windows + O(partitions) offset maxima) so
    even the distinct-price group table never sits in a single-task
    window (r6 routing of the record-grain window class)."""
    from ..operators.globalrank import with_global_row_stats

    p = table(spark, sf_dir, "part")
    g = p.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").cast("long").alias("gmax")
    )
    fr = with_global_row_stats(
        g, ["price"], cum_maxs_excl={"m_lt": "gmax"}
    ).select("price", "gmax", "m_lt")
    j = p.join(F.broadcast(fr), p.p_retailprice == fr.price)
    return j.filter(
        (F.col("m_lt").isNull() | (F.col("m_lt") < F.col("p_size")))
        & (F.col("gmax") <= F.col("p_size"))
    ).select(
        "p_partkey",
        "p_name",
        prnd("p_retailprice", 2).alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )


# ---------------------------------------------------------------------------
# q244 anti-entropy table checksum (order-insensitive partition digests)
# ---------------------------------------------------------------------------


@query(
    "q244_table_checksum",
    oracle=f"""
    WITH rows_h AS (
      SELECT o_orderpriority AS pri, year(o_orderdate) AS yr,
             {o_hash64("CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' || CAST(CAST(floor(o_totalprice * 100.0 + 0.5001) AS BIGINT) AS VARCHAR) || '|' || strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')")} AS h
      FROM orders
    )
    SELECT pri, CAST(yr AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n_rows,
           bit_xor(h) AS checksum
    FROM rows_h GROUP BY pri, yr
    """,
)
def q244_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy partition digests: an order-insensitive checksum
    (bit_xor of a canonical per-row hash) + row count per partition —
    the replica-comparison primitive behind Cassandra-style repair
    and cross-environment ELT verification (the reference reloads
    windows delete-then-insert, S6/L3; digests are how you PROVE the
    reload landed byte-equal without sorting or moving either copy).

    XOR is commutative/associative, so the digest is independent of
    row order, partitioning, and plan — one scan, one partial-agg
    groupBy, 60 bits per partition over the wire. Floats enter the
    canonical row string through the integer-cents grid, so both
    engines (and any future replica) hash identical bytes. Divergence
    localizes to the (pri, yr) partition, which is exactly the unit
    the engine can re-reload."""
    o = table(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5001)
        .cast("long")
        .cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
    )
    return (
        o.select(
            F.col("o_orderpriority").alias("pri"),
            F.year("o_orderdate").cast("long").alias("yr"),
            hash64(canon).alias("h"),
        )
        .groupBy("pri", "yr")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.bit_xor("h").alias("checksum"),
        )
    )


# ---------------------------------------------------------------------------
# q255 columnar encoding advisor (dict / RLE size estimates per column)
# ---------------------------------------------------------------------------

_Q255_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey")
_Q255_PLAIN_BITS = 64.0


def _q255_oracle() -> str:
    branches = []
    for c in _Q255_COLS:
        branches.append(f"""
      SELECT '{c}' AS col_name,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
             CAST(1 + sum(CASE WHEN v <> pv THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
      FROM (
        SELECT CAST({c} AS VARCHAR) AS v,
               lag(CAST({c} AS VARCHAR)) OVER (ORDER BY o_orderkey) AS pv
        FROM orders
      )""")
    u = " UNION ALL ".join(branches)
    return f"""
    WITH s AS ({u})
    SELECT col_name, n, n_distinct, n_runs,
           CAST(ceil(ln(CAST(n_distinct AS DOUBLE)) / ln(2.0)) AS BIGINT) AS dict_bits,
           {o_rnd('ceil(ln(CAST(n_distinct AS DOUBLE)) / ln(2.0)) / ' + str(_Q255_PLAIN_BITS), 6)} AS dict_ratio,
           {o_rnd('(CAST(n_runs AS DOUBLE) * (ceil(ln(CAST(n_distinct AS DOUBLE)) / ln(2.0)) + 8.0)) / (CAST(n AS DOUBLE) * ' + str(_Q255_PLAIN_BITS) + ')', 6)} AS rle_ratio
    FROM s
    """


@query("q255_encoding_advisor", oracle=_q255_oracle())
def q255_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-encoding advisor: per column, the cardinality and
    run-length statistics that decide parquet/ORC encoding choices —
    dictionary bits (ceil log2 distinct), dictionary compression
    ratio vs 64-bit plain, and run-length ratio in the table's
    current sort order (runs x (dict_bits + 8-bit run header)). Low
    rle_ratio says 'sort by this column before writing' — the advisor
    behind q254's layout decision, at the column level.

    All three columns share ONE distributed global-lag pass
    (operators/globalrank.with_global_lag: range exchange on the sort
    key + per-partition lag + an O(partitions) boundary table carrying
    each partition's last values) — the orders table never sits in a
    single-task window (r6 routing of the record-grain window class),
    and the three per-column aggregates are branches off the one
    pinned frame."""
    from ..operators.globalrank import with_global_lag

    o = table(spark, sf_dir, "orders")
    src = o.select(
        "o_orderkey",
        *[F.col(c).cast("string").alias(f"v_{c}") for c in _Q255_COLS],
    )
    lagged = with_global_lag(
        src,
        ["o_orderkey"],
        {f"pv_{c}": f"v_{c}" for c in _Q255_COLS},
    )
    outs = []
    for c in _Q255_COLS:
        outs.append(
            lagged.agg(
                F.count("*").cast("long").alias("n"),
                F.countDistinct(f"v_{c}").cast("long").alias("n_distinct"),
                (
                    1
                    + F.sum(
                        F.when(
                            F.col(f"v_{c}") != F.col(f"pv_{c}"), 1
                        ).otherwise(0)
                    )
                )
                .cast("long")
                .alias("n_runs"),
            ).select(F.lit(c).alias("col_name"), "n", "n_distinct", "n_runs")
        )
    s = outs[0]
    for x in outs[1:]:
        s = s.unionByName(x)
    dict_bits = F.ceil(
        F.log(F.col("n_distinct").cast("double")) / F.log(F.lit(2.0))
    )
    return s.select(
        "col_name",
        "n",
        "n_distinct",
        "n_runs",
        dict_bits.cast("long").alias("dict_bits"),
        prnd(dict_bits / _Q255_PLAIN_BITS, 6).alias("dict_ratio"),
        prnd(
            (F.col("n_runs").cast("double") * (dict_bits + 8.0))
            / (F.col("n").cast("double") * _Q255_PLAIN_BITS),
            6,
        ).alias("rle_ratio"),
    )


# ---------------------------------------------------------------------------
# q268 / q269: item-item recommender — co-occurrence model + temporal eval
# ---------------------------------------------------------------------------

_REC_CUTOFF = "2000-01-01"  # train < cutoff <= test
_REC_K = 3  # neighbors per item / recommendations per customer

def _rec_inter(spark: SparkSession, sf_dir: str, pin: bool = True) -> DataFrame:
    """The recommender family's interaction frame: DISTINCT (custkey,
    partkey, orderkey, is_train) from orders><lineitem.

    r12 (guide S2.4): q269 consumed this 4x and q289 3x — the
    orders><lineitem join + distinct re-planned and re-executed per
    consumer.  Pinned by default (4 narrow columns at interaction
    grain, far smaller than the two base tables it replaces — the
    exact_dedup fingerprint-pin argument); q268 consumes it once and
    passes pin=False."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    inter = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
            F.col("o_orderkey").alias("orderkey"),
            (F.col("o_orderdate") < F.lit(_REC_CUTOFF).cast("date")).alias(
                "is_train"
            ),
        )
        .distinct()
    )
    return inter.transform(pin_frame) if pin else inter


def _rec_copairs(spark: SparkSession, tr: DataFrame) -> DataFrame:
    """(pa, pb, n_co) ordered co-purchase pairs, pa != pb, counted over
    train orders via the per-order self-equi-join — shared by
    q268/q269/q289 (one implementation, three consumers of the same
    model artifact).

    MEASURED trade (r12): the q365-style collect_set + in-array i<j
    enumeration was tried here and ran 15-25% SLOWER back-to-back at
    sf0.1 — baskets are <= 7 parts, so the enumeration generates ~1-21
    structs per order through the INTERPRETED higher-order-function
    path while the self-join streams the same pairs through
    whole-stage codegen; the q365 win needs the bigger fan-out (deg
    <= 48, one row per customer) plus the distinct/band machinery it
    also deleted.  Kept the join; when ``tr`` is pinned the two join
    sides read materialized blocks, not two recomputations."""
    a = tr.select("orderkey", F.col("partkey").alias("pa"))
    b = tr.select(F.col("orderkey").alias("okb"), F.col("partkey").alias("pb"))
    return (
        a.join(b, (F.col("okb") == F.col("orderkey")) & (F.col("pb") != F.col("pa")))
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("long").alias("n_co"))
    )


_REC_TRAIN_CTE = f"""
    inter AS (
      SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey,
             o.o_orderkey AS orderkey, o.o_orderdate < DATE '{_REC_CUTOFF}' AS is_train
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    copair AS (
      SELECT a.partkey AS pa, b.partkey AS pb, CAST(count(*) AS BIGINT) AS n_co
      FROM inter a JOIN inter b
        ON b.orderkey = a.orderkey AND b.partkey <> a.partkey
      WHERE a.is_train AND b.is_train
      GROUP BY a.partkey, b.partkey
    ),
    nbr AS (
      SELECT pa, pb, n_co,
             row_number() OVER (PARTITION BY pa
                                ORDER BY n_co DESC, pb) AS rk
      FROM copair
    )"""


@query(
    "q268_item_cooccurrence",
    oracle=f"""
    WITH {_REC_TRAIN_CTE}
    SELECT pa AS partkey, pb AS neighbor, n_co, CAST(rk AS INTEGER) AS rk
    FROM nbr WHERE rk <= {_REC_K}
    """,
)
def q268_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence model: for every part, the top-3
    parts most often bought in the SAME order (train period only) —
    the 'customers also bought' neighbor lists, the workhorse
    collaborative-filtering model that needs no training loop.

    The pair join is per-ORDER (each order joins only its own lines,
    quadratic in basket size like q204, never in catalog size); one
    groupBy + one per-item top-k window over the co-pair table. At
    100 TB the co-pair table is the thing to prune — min-support
    HAVING or basket-size caps slot in before the window unchanged."""
    inter = _rec_inter(spark, sf_dir, pin=False)  # single consumer
    copair = _rec_copairs(spark, inter.filter("is_train"))
    nbr = copair.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("pa").orderBy(F.col("n_co").desc(), "pb")
        ),
    )
    return nbr.filter(F.col("rk") <= _REC_K).select(
        F.col("pa").alias("partkey"),
        F.col("pb").alias("neighbor"),
        "n_co",
        F.col("rk").cast("int").alias("rk"),
    )


@query(
    "q269_recsys_hitrate",
    oracle=f"""
    WITH {_REC_TRAIN_CTE},
    topn AS (SELECT pa, pb, n_co FROM nbr WHERE rk <= {_REC_K}),
    hist AS (
      SELECT DISTINCT custkey, partkey FROM inter WHERE is_train
    ),
    test AS (
      SELECT DISTINCT custkey, partkey FROM inter WHERE NOT is_train
    ),
    scored AS (
      SELECT h.custkey, t.pb AS rec, sum(t.n_co) AS score
      FROM hist h JOIN topn t ON t.pa = h.partkey
      WHERE NOT EXISTS (SELECT 1 FROM hist h2
                        WHERE h2.custkey = h.custkey AND h2.partkey = t.pb)
      GROUP BY h.custkey, t.pb
    ),
    recs AS (
      SELECT custkey, rec,
             row_number() OVER (PARTITION BY custkey
                                ORDER BY score DESC, rec) AS rk
      FROM scored
    ),
    hits AS (
      SELECT r.custkey,
             max(CASE WHEN te.partkey IS NOT NULL THEN 1 ELSE 0 END) AS hit
      FROM recs r LEFT JOIN test te
        ON te.custkey = r.custkey AND te.partkey = r.rec
      WHERE r.rk <= {_REC_K}
        AND EXISTS (SELECT 1 FROM test t2 WHERE t2.custkey = r.custkey)
      GROUP BY r.custkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(hit) AS BIGINT) AS n_hit,
           {o_rnd('avg(CAST(hit AS DOUBLE))', 6)} AS hitrate_at_3
    FROM hits
    """,
)
def q269_recsys_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end recommender evaluation with a LEAK-FREE temporal
    split: train co-occurrence neighbors (q268) strictly before the
    cutoff, recommend each customer the 3 highest-scoring unseen
    parts (summed neighbor counts over their train history, anti-join
    removes already-bought), and score hit-rate@3 against what they
    ACTUALLY bought after the cutoff — the offline metric that
    gates a recommender deploy.

    Every stage is an equi join or groupBy on natural keys
    (customer, part, order); the candidate space is history x top-3
    neighbors, never customer x catalog (q238's propose law). The
    oracle replays the full train-score-rank-evaluate chain in one
    statement, so the gate hash-checks a complete ML workflow."""
    inter = _rec_inter(spark, sf_dir)  # pinned: copairs + hist + test
    tr = inter.filter("is_train")
    copair = _rec_copairs(spark, tr)
    topn = (
        copair.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("pa").orderBy(F.col("n_co").desc(), "pb")
            ),
        )
        .filter(F.col("rk") <= _REC_K)
        .select("pa", "pb", "n_co")
    )
    hist = tr.select("custkey", "partkey").distinct()
    test = inter.filter(~F.col("is_train")).select("custkey", "partkey").distinct()
    # no forced broadcast: topn is 3 rows per part — part-catalog grain,
    # the q164-class unbounded-hint shape; AQE broadcasts it at local
    # scale from runtime stats and falls back gracefully at 100x
    cand = hist.join(topn, hist.partkey == topn.pa).select(
        "custkey", F.col("pb").alias("rec"), "n_co"
    )
    unseen = cand.join(
        hist.select("custkey", F.col("partkey").alias("rec")),
        ["custkey", "rec"],
        "left_anti",
    )
    scored = unseen.groupBy("custkey", "rec").agg(
        F.sum("n_co").alias("score")
    )
    recs = scored.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("custkey").orderBy(F.col("score").desc(), "rec")
        ),
    ).filter(F.col("rk") <= _REC_K)
    evald = recs.join(
        test.select("custkey").distinct(), "custkey", "left_semi"
    )
    hits = (
        evald.join(
            test.select("custkey", F.col("partkey").alias("rec")).withColumn(
                "_hit", F.lit(1)
            ),
            ["custkey", "rec"],
            "left",
        )
        .groupBy("custkey")
        .agg(F.max(F.coalesce(F.col("_hit"), F.lit(0))).alias("hit"))
    )
    return hits.agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("hit").cast("long").alias("n_hit"),
        prnd(F.avg(F.col("hit").cast("double")), 6).alias("hitrate_at_3"),
    )


# ---------------------------------------------------------------------------
# q271-q273: TPC-H Q7 / Q8 / Q9 join shapes on the available schema
# ---------------------------------------------------------------------------


@query(
    "q271_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS l_year,
           {o_rnd('sum(l.l_extendedprice * (1 - l.l_discount))', 2)} AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_nationkey = 1 AND n2.n_nationkey = 2)
        OR (n1.n_nationkey = 2 AND n2.n_nationkey = 1))
    GROUP BY n1.n_name, n2.n_name, year(o.o_orderdate)
    """,
)
def q271_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — bilateral trade volume: revenue shipped
    between two specific nations, split by direction and year. The
    canonical 6-table snowflake join with a DISJUNCTIVE cross-dim
    predicate (either direction of the pair).

    The two nation dims and supplier/customer broadcast; lineitem
    joins orders on its own key; the disjunction is evaluated after
    the cheap dim joins, never as a union of two scans."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(
            ((F.col("nk1") == 1) & (F.col("nk2") == 2))
            | ((F.col("nk1") == 2) & (F.col("nk2") == 1))
        )
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("o_orderdate").cast("long").alias("l_year"),
    ).agg(
        prnd(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@query(
    "q272_market_share",
    oracle=f"""
    WITH allrev AS (
      SELECT year(o.o_orderdate) AS yr,
             n.n_nationkey AS supp_nation,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_regionkey = 0
      GROUP BY year(o.o_orderdate), n.n_nationkey
    )
    SELECT CAST(yr AS BIGINT) AS yr,
           {o_rnd('sum(CASE WHEN supp_nation = 1 THEN rev ELSE 0.0 END)', 2)} AS nation_rev,
           {o_rnd('sum(rev)', 2)} AS region_rev,
           {o_rnd('sum(CASE WHEN supp_nation = 1 THEN rev ELSE 0.0 END) / sum(rev)', 6)} AS mkt_share
    FROM allrev GROUP BY yr
    """,
)
def q272_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — market share: one nation's fraction of its
    region's supplier revenue per year. The conditional-share
    aggregation (share = conditional sum over total within group)
    computed in ONE pass, not a self-join of two aggregates.

    Region filter prunes at the nation dim (broadcast), so the fact
    scan only keeps matching suppliers' lines; the share division
    happens on the tiny (year, nation) aggregate."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    dims = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_regionkey") == 0)
        .select("s_suppkey", "n_nationkey")
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dims), li.l_suppkey == dims.s_suppkey)
    )
    allrev = j.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.col("n_nationkey").alias("supp_nation"),
    ).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev"
        )
    )
    nat = F.sum(
        F.when(F.col("supp_nation") == 1, F.col("rev")).otherwise(0.0)
    )
    tot = F.sum("rev")
    return allrev.groupBy(F.col("yr").cast("long").alias("yr")).agg(
        prnd(nat, 2).alias("nation_rev"),
        prnd(tot, 2).alias("region_rev"),
        prnd(nat / tot, 6).alias("mkt_share"),
    )


@query(
    "q273_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           {o_rnd('sum(l.l_extendedprice * (1 - l.l_discount) - 0.6 * p.p_retailprice * l.l_quantity)', 2)} AS profit
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_type = 'ECONOMY'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def q273_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-line profit by supplier nation and
    year: revenue minus modeled supply cost (60% of retail price x
    quantity stands in for ps_supplycost, which this schema lacks),
    filtered to one product type. The five-table star with an
    ARITHMETIC measure across fact and dim columns.

    Part/supplier/nation broadcast (with the p_type filter pushed
    into the part scan before broadcast); the single wide fact join
    feeds one partial-agg groupBy."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    profit = F.sum(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return j.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("long").alias("o_year"),
    ).agg(prnd(profit, 2).alias("profit"))


# ---------------------------------------------------------------------------
# q276 schema-evolution union (by-name alignment with null backfill)
# ---------------------------------------------------------------------------

_Q276_CUT = "1998-01-01"  # "v1 files" before, "v2 files" (new column) after


@query(
    "q276_schema_evolution_union",
    oracle=f"""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice, 'v1' AS file_version
      FROM orders WHERE o_orderdate < DATE '{_Q276_CUT}'
    ),
    v2 AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority, 'v2' AS file_version
      FROM orders WHERE o_orderdate >= DATE '{_Q276_CUT}'
    ),
    unioned AS (
      SELECT * FROM v1 UNION ALL BY NAME SELECT * FROM v2
    )
    SELECT file_version,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_priority,
           {o_rnd('sum(o_totalprice)', 2)} AS total_price
    FROM unioned GROUP BY file_version
    """,
)
def q276_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: old files lack a column that newer
    files carry (simulated by a date cut on orders), and the engine
    must union them BY NAME with null backfill — the everyday
    lakehouse situation after an ADD COLUMN, where positional UNION
    silently misaligns. The per-version null audit shows exactly
    what backfill a retro-fill job would touch.

    Spark's unionByName(allowMissingColumns=True) is the native
    alignment; both branches prune to their own column set at scan
    (v1 never reads the new column), and the audit is one groupBy."""
    o = table(spark, sf_dir, "orders")
    cut = F.lit(_Q276_CUT).cast("date")
    v1 = o.filter(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_totalprice", F.lit("v1").alias("file_version")
    )
    v2 = o.filter(F.col("o_orderdate") >= cut).select(
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
        F.lit("v2").alias("file_version"),
    )
    unioned = v1.unionByName(v2, allowMissingColumns=True)
    return unioned.groupBy("file_version").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.col("o_orderpriority").isNull().cast("int"))
        .cast("long")
        .alias("n_null_priority"),
        prnd(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# q289 recommender coverage / popularity-bias eval
# ---------------------------------------------------------------------------


@query(
    "q289_rec_coverage_bias",
    oracle=f"""
    WITH {_REC_TRAIN_CTE},
    topn AS (SELECT pa, pb FROM nbr WHERE rk <= {_REC_K}),
    pop AS (
      SELECT partkey, CAST(count(*) AS BIGINT) AS n_buys,
             row_number() OVER (ORDER BY count(*) DESC, partkey) AS pop_rank
      FROM inter WHERE is_train GROUP BY partkey
    ),
    cat AS (SELECT CAST(count(*) AS DOUBLE) AS n_cat FROM part),
    recd AS (SELECT DISTINCT pb AS partkey FROM topn),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_recommended,
             avg(CAST(p.pop_rank AS DOUBLE)) AS avg_pop_rank_rec
      FROM recd JOIN pop p USING (partkey)
    ),
    base AS (SELECT avg(CAST(pop_rank AS DOUBLE)) AS avg_pop_rank_all FROM pop)
    SELECT s.n_recommended,
           {o_rnd('s.n_recommended / any_value(c.n_cat)', 6)} AS catalog_coverage,
           {o_rnd('s.avg_pop_rank_rec', 2)} AS avg_pop_rank_rec,
           {o_rnd('any_value(b.avg_pop_rank_all)', 2)} AS avg_pop_rank_all,
           {o_rnd('s.avg_pop_rank_rec / any_value(b.avg_pop_rank_all)', 6)} AS popularity_bias
    FROM stats s CROSS JOIN cat c CROSS JOIN base b
    GROUP BY s.n_recommended, s.avg_pop_rank_rec
    """,
)
def q289_rec_coverage_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender health beyond accuracy: CATALOG COVERAGE (what
    share of parts can ever be recommended by q268's neighbor lists)
    and POPULARITY BIAS (mean popularity rank of recommended items
    over the catalog mean — below 1.0 means the model amplifies
    bestsellers, the feedback loop that slowly collapses a catalog).
    q269 asks 'is it accurate'; this asks 'is it diverse enough to
    keep being accurate next quarter'.

    All inputs are the already-small model artifacts (neighbor
    lists, per-item popularity); three scalar frames cross-joined at
    the end. The popularity rank routes through operators/globalrank
    (r6 — the purchased-part histogram is key-grain, never a
    single-task window)."""
    p = table(spark, sf_dir, "part")
    inter = _rec_inter(spark, sf_dir)  # pinned: copairs + popularity
    tr = inter.filter("is_train")
    topn = (
        _rec_copairs(spark, tr)
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("pa").orderBy(F.col("n_co").desc(), "pb")
            ),
        )
        .filter(F.col("rk") <= _REC_K)
    )
    from ..operators.globalrank import with_global_row_stats

    pop = with_global_row_stats(
        tr.groupBy("partkey").agg(F.count("*").alias("n_buys")),
        [F.col("n_buys").desc(), "partkey"],
        rank_col="pop_rank",
    ).select("partkey", "pop_rank")
    cat = p.agg(F.count("*").cast("double").alias("n_cat"))
    recd = topn.select(F.col("pb").alias("partkey")).distinct()
    stats = recd.join(pop, "partkey").agg(
        F.count("*").cast("long").alias("n_recommended"),
        F.avg(F.col("pop_rank").cast("double")).alias("avg_pop_rank_rec"),
    )
    base = pop.agg(
        F.avg(F.col("pop_rank").cast("double")).alias("avg_pop_rank_all")
    )
    return (
        stats.crossJoin(F.broadcast(cat))
        .crossJoin(F.broadcast(base))
        .select(
            "n_recommended",
            prnd(F.col("n_recommended") / F.col("n_cat"), 6).alias(
                "catalog_coverage"
            ),
            prnd("avg_pop_rank_rec", 2).alias("avg_pop_rank_rec"),
            prnd("avg_pop_rank_all", 2).alias("avg_pop_rank_all"),
            prnd(
                F.col("avg_pop_rank_rec") / F.col("avg_pop_rank_all"), 6
            ).alias("popularity_bias"),
        )
    )


# ---------------------------------------------------------------------------
# q291 l-diversity audit (sensitive-attribute diversity per anonymity class)
# ---------------------------------------------------------------------------

_Q291_L = 2


@query(
    "q291_l_diversity",
    oracle=f"""
    WITH q AS (
      SELECT c_nationkey AS nation,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
             c_mktsegment AS sensitive
      FROM customer
    ),
    cls AS (
      SELECT nation, bal_bucket,
             CAST(count(*) AS BIGINT) AS class_size,
             CAST(count(DISTINCT sensitive) AS BIGINT) AS l_distinct,
             CAST(max(cnt) AS BIGINT) AS max_sensitive
      FROM (
        SELECT nation, bal_bucket, sensitive,
               count(*) OVER (PARTITION BY nation, bal_bucket, sensitive) AS cnt
        FROM q
      )
      GROUP BY nation, bal_bucket
    )
    SELECT nation, bal_bucket, class_size, l_distinct,
           CAST(l_distinct < {_Q291_L} AS INT) AS violates_l,
           {o_rnd('CAST(max_sensitive AS DOUBLE) / class_size', 6)} AS top_sensitive_share
    FROM cls
    """,
)
def q291_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (l=2), the attack q228's k-anonymity misses:
    a class can hold 50 people and still leak if they ALL share the
    same sensitive value (here market segment) — homogeneity makes
    re-identification unnecessary. Emits per-class distinct-sensitive
    counts, the violation flag, and the top sensitive value's share
    (the probabilistic-disclosure risk even when l passes).

    One window + one groupBy over the generalized tuple — same cost
    law as q228; together they form the release gate."""
    c = table(spark, sf_dir, "customer")
    q = c.select(
        F.col("c_nationkey").alias("nation"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bucket"),
        F.col("c_mktsegment").alias("sensitive"),
    )
    wcl = W.partitionBy("nation", "bal_bucket", "sensitive")
    cls = (
        q.withColumn("cnt", F.count("*").over(wcl))
        .groupBy("nation", "bal_bucket")
        .agg(
            F.count("*").cast("long").alias("class_size"),
            F.countDistinct("sensitive").cast("long").alias("l_distinct"),
            F.max("cnt").cast("long").alias("max_sensitive"),
        )
    )
    return cls.select(
        "nation",
        "bal_bucket",
        "class_size",
        "l_distinct",
        (F.col("l_distinct") < _Q291_L).cast("int").alias("violates_l"),
        prnd(
            F.col("max_sensitive").cast("double") / F.col("class_size"), 6
        ).alias("top_sensitive_share"),
    )


# ---------------------------------------------------------------------------
# q311 map-typed higher-order functions
# ---------------------------------------------------------------------------

_Q311_PROBE = "join"


@query(
    "q311_map_functions",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ),
    cnts AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(count(*) AS INTEGER) AS n_keys,
           CAST(coalesce(max(CASE WHEN tok = '{_Q311_PROBE}' THEN c END), 0)
                AS BIGINT) AS probe_count,
           max(c) AS max_count,
           CAST(count(*) FILTER (WHERE c = 1) AS INTEGER) AS n_singletons,
           CAST(sum(c * length(tok)) AS BIGINT) AS weighted_len
    FROM cnts GROUP BY doc_id
    """,
)
def q311_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface (§2.8 completion next to q54's arrays):
    per-document token->count maps built with ``map_from_entries`` and
    interrogated entirely through map higher-order functions —
    ``size``/``try_element_at`` (ANSI-safe missing-key probe),
    ``map_values``+``array_max``, ``map_filter`` (hapax count), and
    ``transform_values`` folded via ``aggregate(map_entries(...))``
    into an exact integer total (order-independent by construction, so
    map iteration order can't leak into the hash gate). The oracle
    replays every map op relationally over the exploded (doc, token,
    count) set — same numbers, no map type needed. At scale the map
    column is a per-row container (map-side only, no shuffle after the
    count aggregation); the pattern is how feature stores carry sparse
    per-entity feature bags (reference's ANSI surface:
    query_scripts/trino/*.sql)."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("tok"),
    )
    cnts = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    m = cnts.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("tok", "c"))).alias("m")
    )
    weighted = F.aggregate(
        F.map_entries(F.transform_values("m", lambda k, v: v * F.length(k))),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e["value"],
    )
    return m.select(
        "doc_id",
        F.size("m").alias("n_keys"),
        F.coalesce(
            F.try_element_at("m", F.lit(_Q311_PROBE)), F.lit(0).cast("long")
        ).alias("probe_count"),
        F.array_max(F.map_values("m")).alias("max_count"),
        F.size(F.map_filter("m", lambda k, v: v == 1)).alias("n_singletons"),
        weighted.alias("weighted_len"),
    )


# ---------------------------------------------------------------------------
# q315 Poisson-bootstrap confidence intervals
# ---------------------------------------------------------------------------

_Q315_B = 100
# Poisson(1) CDF thresholds (exact doubles; repr round-trips identically
# in Python, Spark literals and DuckDB SQL text)
_Q315_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
)


_Q315_M = 2147483647  # Mersenne prime 2^31-1: LCG modulus
_Q315_STRIDE = 2654435761  # Knuth multiplicative-hash constant
_Q315_MULT = 1103515245  # glibc LCG multiplier


def _q315_oracle() -> str:
    k = "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
    # ONE portable md5 per ROW; per-replicate draws come from an exact
    # int64 LCG over (row hash, replicate) — md5 per (row, replicate)
    # was 100x the hash work (108 s at sf0.1) for the same statistical
    # purpose. All intermediates < 2^63, so both engines compute the
    # identical integer sequence.
    u = (
        f"CAST((((h1 + b * {_Q315_STRIDE}) % {_Q315_M}) * {_Q315_MULT})"
        f" % {_Q315_M} AS DOUBLE) / {_Q315_M}"
    )
    case = "CASE " + " ".join(
        f"WHEN u < {t!r} THEN {i}" for i, t in enumerate(_Q315_CDF)
    ) + " ELSE 6 END"
    return f"""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice AS x,
             ({o_hash64(k)}) % {_Q315_M} AS h1
      FROM lineitem
    ),
    e AS (
      SELECT l_returnflag, x,
             unnest(range(0, {_Q315_B})) AS b,
             h1
      FROM r
    ),
    eu AS (SELECT l_returnflag, x, b, {u} AS u FROM e),
    w AS (SELECT l_returnflag, b, x, {case} AS w FROM eu),
    m AS (
      SELECT l_returnflag, b,
             {o_rnd('sum(w * x) / sum(w)', 4)} AS mb
      FROM w GROUP BY l_returnflag, b
      HAVING sum(w) > 0
    ),
    pt AS (
      SELECT l_returnflag, {o_rnd('avg(l_extendedprice)', 4)} AS point_mean
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT pt.l_returnflag, pt.point_mean,
           {o_rnd('quantile_cont(m.mb, 0.025)', 4)} AS ci_lo,
           {o_rnd('quantile_cont(m.mb, 0.975)', 4)} AS ci_hi,
           CAST(count(*) AS BIGINT) AS n_resamples
    FROM pt JOIN m USING (l_returnflag)
    GROUP BY pt.l_returnflag, pt.point_mean
    """


@query("q315_poisson_bootstrap", oracle=_q315_oracle())
def q315_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for the mean price per
    returnflag: each of B=100 resamples weights every row by a
    Poisson(1) draw — the resampling scheme that WORKS distributed
    (classic bootstrap needs sampling with replacement from the full
    dataset, impossible map-side; Poissonization makes each row's
    weight independent, so resampling is a map + one aggregation at any
    scale). Draws are deterministic and cross-engine exact: the
    portable md5 hash of (row key, replicate) maps through the
    Poisson(1) inverse CDF as literal double thresholds, so both
    engines produce identical weight tables; resample means snap to
    the 1e-4 grid before the exact interpolated percentile (q29's
    proven convention) picks the CI bounds.

    Shape at 100 TB: the replicate explode is map-side (B rows out per
    row in, no shuffle until the (group, b) partial agg), resample
    state is B floats per group, and the CI quantile runs over B rows
    per group — constant memory in data size.  Hash budget: ONE md5
    per row; the B per-replicate uniforms are an exact int64 LCG over
    (row hash, replicate) — identical integers in both engines, and
    100x less hashing than an md5 per (row, replicate) (the r5 sweep
    caught the original at 108 s / sf0.1)."""
    li = table(spark, sf_dir, "lineitem")
    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit(":"),
        F.col("l_linenumber").cast("string"),
    )
    e = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("x"),
        (hash64(key) % _Q315_M).alias("h1"),
    ).withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(_Q315_B - 1))))
    u = (
        (
            ((F.col("h1") + F.col("b") * F.lit(_Q315_STRIDE)) % _Q315_M)
            * F.lit(_Q315_MULT)
        )
        % _Q315_M
    ).cast("double") / F.lit(float(_Q315_M))
    w = F.lit(6)
    for i in range(len(_Q315_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_Q315_CDF[i]), F.lit(i)).otherwise(w)
    m = (
        e.withColumn("w", w)
        .groupBy("l_returnflag", "b")
        .agg(
            F.sum(F.col("w") * F.col("x")).alias("_swx"),
            F.sum("w").alias("_sw"),
        )
        .filter(F.col("_sw") > 0)
        .select(
            "l_returnflag",
            prnd(F.col("_swx") / F.col("_sw"), 4).alias("mb"),
        )
    )
    pt = li.groupBy("l_returnflag").agg(
        prnd(F.avg("l_extendedprice"), 4).alias("point_mean")
    )
    ci = m.groupBy("l_returnflag").agg(
        prnd(F.expr("percentile(mb, 0.025)"), 4).alias("ci_lo"),
        prnd(F.expr("percentile(mb, 0.975)"), 4).alias("ci_hi"),
        F.count("*").alias("n_resamples"),
    )
    return pt.join(ci, "l_returnflag")


# ---------------------------------------------------------------------------
# q341 chi-square test of independence: order status x priority
# ---------------------------------------------------------------------------


def _q341_oracle() -> str:
    return f"""
    WITH cells AS (
      SELECT o_orderstatus AS s, o_orderpriority AS p,
             CAST(count(*) AS DOUBLE) AS obs
      FROM orders GROUP BY 1, 2
    ),
    tot AS (
      SELECT s, p, obs,
             sum(obs) OVER (PARTITION BY s) AS row_tot,
             sum(obs) OVER (PARTITION BY p) AS col_tot,
             sum(obs) OVER () AS n
      FROM cells
    ),
    chi AS (
      SELECT any_value(n) AS n,
             CAST(count(DISTINCT s) AS BIGINT) AS r,
             CAST(count(DISTINCT p) AS BIGINT) AS c,
             sum(pow(obs - row_tot * col_tot / n, 2)
                 / (row_tot * col_tot / n)) AS chi2
      FROM tot
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           {o_rnd('chi2', 6)} AS chi2,
           {o_rnd('''sqrt(chi2 / (n * CAST(least(r - 1, c - 1) AS DOUBLE)))''',
                  6)} AS cramers_v
    FROM chi
    """


@query("q341_chi_square", oracle=_q341_oracle())
def q341_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence on the status x priority
    contingency table, plus Cramér's V effect size — the categorical
    counterpart to q326's ANOVA (numeric-vs-categorical) and q256's
    mutual information (which measures the same dependence in nats;
    V normalizes to [0,1] with a sampling distribution). Expected
    counts come from the rank-1 margin product row_tot*col_tot/N.
    Shape: one hash groupBy to the r*c cell table (map-side partial),
    margins via windows over the TINY cell table (15 rows) — the raw
    table is touched exactly once regardless of scale; the chi2 sum
    spans r*c cells so cross-engine summation-order drift is ~1e-15
    relative, absorbed by the 1e-6 grid."""
    cells = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("s"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.count("*").cast("double").alias("obs"))
    )
    tot = cells.select(
        "s",
        "p",
        "obs",
        F.sum("obs").over(W.partitionBy("s")).alias("row_tot"),
        F.sum("obs").over(W.partitionBy("p")).alias("col_tot"),
        F.sum("obs").over(W.partitionBy()).alias("n"),
    )
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n")
    chi = tot.agg(
        F.any_value("n").alias("n"),
        F.count_distinct("s").alias("r"),
        F.count_distinct("p").alias("c"),
        F.sum(F.pow(F.col("obs") - exp, 2) / exp).alias("chi2"),
    )
    return chi.select(
        F.col("n").cast("long").alias("n_orders"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        prnd("chi2", 6).alias("chi2"),
        prnd(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1).cast("double"))
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# q365 Adamic-Adar link prediction over the co-purchase graph
# ---------------------------------------------------------------------------

_Q365_DEG_CAP = 48   # df-cap: drop promiscuous neighbors (bounds pairs/cust)
_Q365_MIN_COMMON = 2
_Q365_TOP = 20


def _q365_oracle() -> str:
    aa = "sum(1.0 / ln(a.d))"
    return f"""
    WITH cp AS (
      SELECT DISTINCT o_custkey AS cust, l_partkey AS part
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    deg AS (SELECT cust, count(*) AS d FROM cp GROUP BY cust),
    el AS (
      SELECT cp.cust, cp.part, deg.d
      FROM cp JOIN deg USING (cust)
      WHERE deg.d BETWEEN 2 AND {_Q365_DEG_CAP}
    ),
    pairs AS (
      SELECT a.part AS part_a, b.part AS part_b,
             count(*) AS n_common, {aa} AS aa
      FROM el a JOIN el b ON a.cust = b.cust AND a.part < b.part
      GROUP BY a.part, b.part
      HAVING count(*) >= {_Q365_MIN_COMMON}
    )
    SELECT CAST(part_a AS BIGINT) AS part_a,
           CAST(part_b AS BIGINT) AS part_b,
           CAST(n_common AS BIGINT) AS n_common,
           {o_rnd('aa', 6)} AS aa_score
    FROM pairs
    ORDER BY {o_rnd('aa', 6)} DESC, part_a, part_b
    LIMIT {_Q365_TOP}
    """


@query("q365_adamic_adar", oracle=_q365_oracle())
def q365_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the part/customer co-purchase
    graph: two parts are likely related if they share customers, and
    a shared customer counts 1/ln(degree) — common neighbors who buy
    everything carry almost no signal, selective ones carry a lot.
    The classic link-prediction score (Adamic & Adar 2003), one rung
    above q268's raw co-occurrence counts and the feature a recsys
    candidate generator would precompute.

    Scale shape: the pair generator is a per-CUSTOMER self-join, so
    cost is sum(deg^2), and the degree band [2, 48] is the df-cap
    law (q44/q89): a promiscuous neighbor contributes ~nothing to the
    score (1/ln d -> 0) but everything to the blowup, so dropping it
    is both the perf fix and nearly score-neutral.  Min-support
    prunes the pair table before the deterministic rounded-score
    top-k; at 100 TB the final ORDER BY+LIMIT becomes per-partition
    partial top-k + one small merge (q18 law).

    r12 restructure (guide S2.3/S2.4 — aggregate before you shuffle,
    remove shuffles outright): the co-purchase DISTINCT, the degree
    aggregation, the degree-band join-back, the pinned edge list and
    the per-customer SELF-JOIN all collapse into ONE
    groupBy(cust).collect_set(part): distinct is implied by the set,
    the degree is size(parts), the band is a filter on it, and the
    i<j pair enumeration is a JVM array expression (sorted set,
    nested transform + flatten + explode) — sum(deg^2) pair rows flow
    straight into the (part_a, part_b) partial aggregation exactly as
    the join produced them, with the same 1/ln(d) weight.  Shuffles:
    orders><lineitem join + one set-building groupBy + the pair
    aggregation, where the old shape paid the join, the distinct, the
    degree agg, the band join-back and TWO self-join sides.  The
    per-customer pair fan-out is bounded by the same degree cap
    (<= 48^2/2 pairs per customer), so no generated array outgrows a
    task at any scale.

    The set-grain frame is explicitly spread to defaultParallelism
    partitions before the pair explode: AQE coalesces the small
    post-aggregation shuffle by BYTES (at sf0.1: 2 partitions) and
    cannot anticipate the ~20x row fan-out behind the Generate, which
    would otherwise run the pair enumeration + partial aggregation on
    2 cores (measured 5.3s -> 2.0s at sf0.1).  The extra exchange
    moves the compacted set frame — ~deg-arrays per customer, far
    smaller than the pair stream it unlocks — and the count is
    cluster-derived, not a local constant (guide S2.5 input-skew /
    fan-out note)."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    parts_per_cust = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .groupBy("cust")
        .agg(F.sort_array(F.collect_set("part")).alias("ps"))
        .filter(
            (F.size("ps") >= 2) & (F.size("ps") <= _Q365_DEG_CAP)
        )
        .select(
            "ps",
            (F.lit(1.0) / F.log(F.size("ps").cast("double"))).alias("w"),
        )
    )
    parts_per_cust = parts_per_cust.repartition(
        spark.sparkContext.defaultParallelism
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + F.lit(2), F.size("ps")),
                lambda y: F.struct(
                    x.alias("part_a"), y.alias("part_b")
                ),
            ),
        )
    )
    pairs = (
        parts_per_cust.select("w", F.explode(pair_structs).alias("p"))
        .groupBy(
            F.col("p.part_a").alias("part_a"),
            F.col("p.part_b").alias("part_b"),
        )
        .agg(
            F.count("*").alias("n_common"),
            F.sum("w").alias("aa"),
        )
        .filter(F.col("n_common") >= _Q365_MIN_COMMON)
    )
    scored = pairs.select(
        F.col("part_a").cast("long"),
        F.col("part_b").cast("long"),
        F.col("n_common").cast("long"),
        prnd("aa", 6).alias("aa_score"),
    )
    return scored.orderBy(
        F.col("aa_score").desc(), "part_a", "part_b"
    ).limit(_Q365_TOP)


# ---------------------------------------------------------------------------
# q370 approximate functional-dependency audit (g3 measure)
# ---------------------------------------------------------------------------

# candidate FDs as (table, lhs, rhs); n_name -> n_regionkey holds
# (n_name is a key), the part-table candidates are expected violated
_Q370_FDS = (
    ("nation", "n_name", "n_regionkey"),
    ("part", "p_name", "p_brand"),
    ("part", "p_brand", "p_type"),
    ("part", "p_type", "p_size"),
)


def _q370_oracle() -> str:
    parts = []
    for tbl, lhs, rhs in _Q370_FDS:
        parts.append(f"""
        SELECT '{tbl}.{lhs}' AS lhs, '{rhs}' AS rhs,
               CAST(count(*) AS BIGINT) AS n_lhs_groups,
               CAST(sum(n) AS BIGINT) AS n_rows,
               CAST(sum(n) - sum(mx) AS BIGINT) AS n_violating,
               {o_rnd('1.0 - CAST(sum(mx) AS DOUBLE) / sum(n)', 6)} AS g3_rate,
               CAST(sum(n) = sum(mx) AS INT) AS holds
        FROM (
          SELECT {lhs}, sum(c) AS n, max(c) AS mx
          FROM (SELECT {lhs}, {rhs}, count(*) AS c FROM {tbl} GROUP BY {lhs}, {rhs})
          GROUP BY {lhs}
        )""")
    return " UNION ALL ".join(parts)


@query("q370_fd_violations", oracle=_q370_oracle())
def q370_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency audit with the g3 measure
    (Kivinen & Mannila): for each candidate FD lhs -> rhs, g3 = the
    minimum fraction of rows that must be removed for the FD to hold
    exactly = 1 - sum(per-lhs max rhs-group count) / N.  The
    profiling primitive behind schema inference, key discovery and
    data-contract monitoring (a sibling of q199's column profile and
    q198's referential-integrity audit; TPC-H's p_brand -> p_mfgr
    holds by construction, the control row).

    Scale shape per FD: one (lhs, rhs) hash groupBy (partial-agg,
    count only), then a second groupBy on lhs over the already-tiny
    group table — counts cross the shuffle, never rows; the four FDs
    union independent subplans (shared scan at 100 TB via exchange
    reuse / one multi-FD pass if needed)."""
    outs = []
    for tbl, lhs, rhs in _Q370_FDS:
        g = (
            table(spark, sf_dir, tbl).groupBy(lhs, rhs)
            .agg(F.count("*").alias("c"))
            .groupBy(lhs)
            .agg(F.sum("c").alias("n"), F.max("c").alias("mx"))
        )
        outs.append(
            g.agg(
                F.lit(f"{tbl}.{lhs}").alias("lhs"),
                F.lit(rhs).alias("rhs"),
                F.count("*").cast("long").alias("n_lhs_groups"),
                F.sum("n").cast("long").alias("n_rows"),
                (F.sum("n") - F.sum("mx")).cast("long").alias("n_violating"),
                prnd(
                    F.lit(1.0)
                    - F.sum("mx").cast("double") / F.sum("n"),
                    6,
                ).alias("g3_rate"),
                (F.sum("n") == F.sum("mx")).cast("int").alias("holds"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


# ---------------------------------------------------------------------------
# q371 Bloom-filter sizing advisor (per partition file)
# ---------------------------------------------------------------------------

# ln(1/p) at p = 0.01, ln(2)^2, ln(2) as shared literals: libm ln() is not
# guaranteed identical across engines, pinned constants are
_Q371_LN_INV_P = 4.605170185988091
_Q371_LN2_SQ = 0.4804530139182014
_Q371_LN2 = 0.6931471805599453


def _q371_oracle() -> str:
    m = f"ceil(CAST(ndv AS DOUBLE) * {_Q371_LN_INV_P} / {_Q371_LN2_SQ})"
    k = f"greatest(1, floor({m} / ndv * {_Q371_LN2} + 0.5))"
    return f"""
    WITH p AS (
      SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
             count(*) AS n_rows,
             count(DISTINCT l_partkey) AS ndv
      FROM lineitem GROUP BY strftime(l_shipdate, '%Y-%m')
    )
    SELECT ship_month,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(ndv AS BIGINT) AS ndv,
           CAST({m} AS BIGINT) AS bloom_bits,
           CAST({k} AS INTEGER) AS n_hashes,
           CAST(ceil({m} / 8192.0) AS BIGINT) AS kib
    FROM p
    """


@query("q371_bloom_sizing", oracle=_q371_oracle())
def q371_bloom_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter sizing advisor: per ship-month partition file,
    the exact part-key NDV and the optimal filter geometry for a 1%
    FPP — bits m = ceil(n ln(1/p) / ln(2)^2), hashes k =
    round(m/n ln 2), and the KiB the filter costs in the footer.
    The planner that sizes what q110 consumes (parquet bloom
    filters for selective point-lookup pruning); ln constants are
    pinned literals because libm is not bit-identical across
    engines.

    Scale shape: one hash groupBy with an exact count-distinct
    (expands to the two-level distinct aggregate; swap
    approx_count_distinct in at 100 TB, same plan shape) and pure
    scalar arithmetic after — per-partition work, no joins."""
    li = table(spark, sf_dir, "lineitem")
    p = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
    ).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_partkey").alias("ndv"),
    )
    m = F.ceil(
        F.col("ndv").cast("double") * _Q371_LN_INV_P / _Q371_LN2_SQ
    ).cast("double")
    k = F.greatest(
        F.lit(1).cast("long"),
        F.floor(m / F.col("ndv") * _Q371_LN2 + 0.5),
    )
    return p.select(
        "ship_month",
        F.col("n_rows").cast("long"),
        F.col("ndv").cast("long"),
        m.cast("long").alias("bloom_bits"),
        k.cast("int").alias("n_hashes"),
        F.ceil(m / 8192.0).cast("long").alias("kib"),
    )


# ---------------------------------------------------------------------------
# q388 Theil index decomposition (between / within regions)
# ---------------------------------------------------------------------------


def _q388_oracle() -> str:
    return f"""
    WITH cust AS (
      SELECT n.n_regionkey AS region, c.c_custkey AS custkey,
             sum(o.o_totalprice) AS rev
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    regagg AS (
      SELECT region, CAST(count(*) AS DOUBLE) AS n_r, sum(rev) AS y_r
      FROM cust GROUP BY region
    ),
    tot AS (SELECT sum(n_r) AS n, sum(y_r) AS y FROM regagg),
    tr AS (
      SELECT c.region,
             sum((c.rev / r.y_r) * ln((c.rev / r.y_r) * r.n_r)) AS t_r
      FROM cust c JOIN regagg r USING (region) GROUP BY c.region
    ),
    per AS (
      SELECT r.region, r.n_r, r.y_r, t.n, t.y, tr.t_r
      FROM regagg r JOIN tr USING (region) CROSS JOIN tot t
    ),
    sc AS (
      SELECT sum((y_r / y) * ln((y_r / y) * (n / n_r))) AS t_between,
             sum((y_r / y) * t_r) AS t_within
      FROM per
    )
    SELECT CAST(p.region AS INTEGER) AS region,
           CAST(p.n_r AS BIGINT) AS n_cust,
           {o_rnd('p.y_r / p.y', 6)} AS rev_share,
           {o_rnd('p.t_r', 6)} AS theil_within_region,
           {o_rnd('(p.y_r / p.y) * p.t_r', 6)} AS contribution,
           {o_rnd('s.t_between', 6)} AS t_between,
           {o_rnd('s.t_within', 6)} AS t_within,
           {o_rnd('s.t_between + s.t_within', 6)} AS t_total
    FROM per p CROSS JOIN sc s
    """


@query("q388_theil_decomposition", oracle=_q388_oracle())
def q388_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality decomposition of customer revenue by
    region: T_total = T_between + T_within EXACTLY (the property
    Gini lacks — q192 can rank inequality but cannot attribute it).
    T_r = sum s_i ln(s_i N_r) within each region; the between term
    compares region revenue shares to population shares — the
    'where does concentration live' question for account planning
    and fairness audits.

    Scale shape: per-customer revenue is one groupBy; region masses
    another; within-region entropy needs only an equi join of
    customer rows to region masses (no window); the decomposition
    identity itself is the built-in correctness check (asserted in
    the invariants test).  Everything crossing shuffles is keyed or
    scalar-broadcast."""
    cust = (
        table(spark, sf_dir, "customer")
        .join(
            table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            table(spark, sf_dir, "orders"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("n_regionkey").alias("region"),
            F.col("c_custkey").alias("custkey"),
        )
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    regagg = cust.groupBy("region").agg(
        F.count("*").cast("double").alias("n_r"),
        F.sum("rev").alias("y_r"),
    )
    tot = regagg.agg(
        F.sum("n_r").alias("n"), F.sum("y_r").alias("y")
    )
    s_i = F.col("rev") / F.col("y_r")
    tr = (
        cust.join(regagg, "region")
        .groupBy("region")
        .agg(F.sum(s_i * F.log(s_i * F.col("n_r"))).alias("t_r"))
    )
    per = regagg.join(tr, "region").crossJoin(F.broadcast(tot))
    sc = per.agg(
        F.sum(
            (F.col("y_r") / F.col("y"))
            * F.log((F.col("y_r") / F.col("y")) * (F.col("n") / F.col("n_r")))
        ).alias("t_between"),
        F.sum((F.col("y_r") / F.col("y")) * F.col("t_r")).alias("t_within"),
    )
    return per.crossJoin(F.broadcast(sc)).select(
        F.col("region").cast("int").alias("region"),
        F.col("n_r").cast("long").alias("n_cust"),
        prnd(F.col("y_r") / F.col("y"), 6).alias("rev_share"),
        prnd("t_r", 6).alias("theil_within_region"),
        prnd((F.col("y_r") / F.col("y")) * F.col("t_r"), 6).alias(
            "contribution"
        ),
        prnd("t_between", 6).alias("t_between"),
        prnd("t_within", 6).alias("t_within"),
        prnd(F.col("t_between") + F.col("t_within"), 6).alias("t_total"),
    )


# ---------------------------------------------------------------------------
# q402 virtual-node ring balance sweep
# ---------------------------------------------------------------------------

_Q402_NODES = 8
_Q402_VNODES = (1, 16, 64)


def _q402_oracle() -> str:
    from ..functions.portable import o_hash64

    blocks = []
    for v in _Q402_VNODES:
        # key -> vnode by hash, vnode -> node by second hash; with v
        # vnodes per node the ring has NODES*v slots
        slots = _Q402_NODES * v
        slot = f"(({o_hash64('l_orderkey')}) % {slots})"
        node = f"(({o_hash64(f'CAST({slot} AS VARCHAR)')}) % {_Q402_NODES})"
        blocks.append(f"""
      SELECT {v} AS vnodes, {node} AS node, count(*) AS load
      FROM lineitem GROUP BY 2""")
    return f"""
    WITH loads AS ({" UNION ALL ".join(blocks)}),
    s AS (
      SELECT vnodes,
             CAST(count(*) AS BIGINT) AS nodes_hit,
             CAST(max(load) AS BIGINT) AS max_load,
             avg(CAST(load AS DOUBLE)) AS mean_load,
             stddev_pop(CAST(load AS DOUBLE)) AS sd_load
      FROM loads GROUP BY vnodes
    )
    SELECT CAST(vnodes AS INTEGER) AS vnodes,
           nodes_hit, max_load,
           {o_rnd('mean_load', 2)} AS mean_load,
           {o_rnd('max_load / mean_load', 4)} AS peak_to_mean,
           {o_rnd('sd_load / mean_load', 4)} AS load_cv
    FROM s
    """


@query("q402_vnode_balance", oracle=_q402_oracle())
def q402_vnode_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Virtual-node ring balance sweep: assign every order key to an
    8-node ring through 1 / 16 / 64 vnodes per node (key -> slot ->
    node, both hops hashed) and measure peak-to-mean load and load
    CV — the standard demonstration that vnodes smooth consistent-
    hashing imbalance (1 vnode: the unlucky node owns a long arc;
    64: loads concentrate around the mean).  Completes the
    placement-planning family: q361 measured RESHARD MOVEMENT,
    this measures steady-state BALANCE, and together they are the
    two axes a partitioning choice trades off.

    Scale shape: three hash-groupBys over the key column (counts
    only), then a vnodes-keyed rollup of the 8-row load frames —
    one md5 per row per sweep point (q315 hash budget), no joins,
    no windows."""
    from ..functions.portable import hash64

    li = table(spark, sf_dir, "lineitem")
    frames = []
    for v in _Q402_VNODES:
        slots = _Q402_NODES * v
        slot = hash64("l_orderkey") % slots
        node = hash64(slot.cast("string")) % _Q402_NODES
        frames.append(
            li.groupBy(node.alias("node"))
            .agg(F.count("*").alias("load"))
            .select(F.lit(v).alias("vnodes"), "node", "load")
        )
    loads = frames[0]
    for f in frames[1:]:
        loads = loads.unionByName(f)
    s = loads.groupBy("vnodes").agg(
        F.count("*").cast("long").alias("nodes_hit"),
        F.max("load").cast("long").alias("max_load"),
        F.avg(F.col("load").cast("double")).alias("mean_load"),
        F.stddev_pop(F.col("load").cast("double")).alias("sd_load"),
    )
    return s.select(
        F.col("vnodes").cast("int").alias("vnodes"),
        "nodes_hit", "max_load",
        prnd("mean_load", 2).alias("mean_load"),
        prnd(F.col("max_load") / F.col("mean_load"), 4).alias(
            "peak_to_mean"
        ),
        prnd(F.col("sd_load") / F.col("mean_load"), 4).alias("load_cv"),
    )


# ---------------------------------------------------------------------------
# q404 erasure-cost planner (right-to-be-forgotten rewrite estimate)
# ---------------------------------------------------------------------------

_Q404_SAMPLE_MOD = 200   # deterministic "deletion request" cohort


def _q404_oracle() -> str:
    return f"""
    WITH req AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE o_custkey % {_Q404_SAMPLE_MOD} = 0
    ),
    parts AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS part_month,
             count(*) AS part_rows,
             count(*) FILTER (WHERE r.custkey IS NOT NULL) AS hit_rows
      FROM orders o LEFT JOIN req r ON r.custkey = o.o_custkey
      GROUP BY 1
    )
    SELECT part_month,
           CAST(part_rows AS BIGINT) AS part_rows,
           CAST(hit_rows AS BIGINT) AS hit_rows,
           CAST(hit_rows > 0 AS INT) AS must_rewrite,
           {o_rnd('CAST(hit_rows AS DOUBLE) / part_rows', 6)} AS hit_share,
           CAST(CASE WHEN hit_rows > 0 THEN part_rows ELSE 0 END AS BIGINT)
             AS rows_rewritten
    FROM parts
    """


@query("q404_erasure_cost", oracle=_q404_oracle())
def q404_erasure_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cost planner: for a deletion-request
    cohort (every 200th customer — in production, the DSR queue),
    which month-partitions of the orders table contain their rows,
    what share of each partition is affected, and the rewrite
    amplification — copy-on-write erasure rewrites the WHOLE
    partition file for even one hit, so total rows_rewritten /
    total hit_rows is the cost multiplier that motivates
    deletion-vector formats.  The q228/q291 privacy family extended
    from anonymity AUDITING to erasure EXECUTION planning; pairs
    with the partition-targeted DELETE writer (S6).

    Scale shape: the request cohort broadcasts (it is small by
    nature); one left-join + month groupBy with filtered counts —
    counts cross the shuffle, never rows."""
    o = table(spark, sf_dir, "orders")
    req = (
        o.filter(F.col("o_custkey") % _Q404_SAMPLE_MOD == 0)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    parts = (
        o.join(
            F.broadcast(req), o.o_custkey == req.custkey, "left"
        )
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("part_month")
        )
        .agg(
            F.count("*").alias("part_rows"),
            F.count(F.when(F.col("hit").isNotNull(), 1)).alias("hit_rows"),
        )
    )
    return parts.select(
        "part_month",
        F.col("part_rows").cast("long").alias("part_rows"),
        F.col("hit_rows").cast("long").alias("hit_rows"),
        (F.col("hit_rows") > 0).cast("int").alias("must_rewrite"),
        prnd(
            F.col("hit_rows").cast("double") / F.col("part_rows"), 6
        ).alias("hit_share"),
        F.when(F.col("hit_rows") > 0, F.col("part_rows"))
        .otherwise(0)
        .cast("long")
        .alias("rows_rewritten"),
    )


# ---------------------------------------------------------------------------
# q405 cross-table ledger reconciliation (orders vs lineitem recompute)
# ---------------------------------------------------------------------------

_Q405_TOL = 0.01   # relative tolerance band


def _q405_oracle() -> str:
    return f"""
    WITH recomputed AS (
      SELECT l_orderkey AS okey,
             sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS recomp,
             count(*) AS n_lines
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey,
             CASE WHEN r.okey IS NULL THEN 'no_lines' ELSE 'matched' END AS st,
             o.o_totalprice AS booked, r.recomp, r.n_lines,
             CASE WHEN r.okey IS NOT NULL
                  THEN abs(r.recomp - o.o_totalprice) / o.o_totalprice END AS rel_gap
      FROM orders o LEFT JOIN recomputed r ON r.okey = o.o_orderkey
    )
    SELECT st AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (WHERE rel_gap <= {_Q405_TOL}) AS BIGINT)
             AS n_within_tol,
           {o_rnd('avg(rel_gap)', 6)} AS avg_rel_gap,
           {o_rnd('max(rel_gap)', 6)} AS max_rel_gap,
           {o_rnd('sum(booked)', 2)} AS booked_total
    FROM j GROUP BY st
    """


@query("q405_ledger_reconciliation", oracle=_q405_oracle())
def q405_ledger_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table ledger reconciliation: recompute every order's
    total from its lines (extendedprice x (1-discount) x (1+tax)),
    compare to the booked o_totalprice, and report the mismatch
    distribution plus orders with no lines at all — the double-entry
    audit every finance/billing pipeline runs nightly, and the
    cross-TABLE integrity check q198's key-level audit doesn't do
    (keys can all resolve while the MONEY disagrees).

    Scale shape: one partial-agg rollup of lineitem keyed on the
    order key, one equi join to orders on the same key (co-partition
    at 100 TB via bucketing both tables on orderkey — the S4/S5
    writer family), one status groupBy of scalars."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    recomputed = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.sum(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("recomp"),
        F.count("*").alias("n_lines"),
    )
    j = o.join(
        recomputed, o.o_orderkey == recomputed.okey, "left"
    ).select(
        F.when(F.col("okey").isNull(), "no_lines")
        .otherwise("matched")
        .alias("status"),
        F.col("o_totalprice").alias("booked"),
        F.when(
            F.col("okey").isNotNull(),
            F.abs(F.col("recomp") - F.col("o_totalprice"))
            / F.col("o_totalprice"),
        ).alias("rel_gap"),
    )
    return j.groupBy("status").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.count(F.when(F.col("rel_gap") <= _Q405_TOL, 1))
        .cast("long")
        .alias("n_within_tol"),
        prnd(F.avg("rel_gap"), 6).alias("avg_rel_gap"),
        prnd(F.max("rel_gap"), 6).alias("max_rel_gap"),
        prnd(F.sum("booked"), 2).alias("booked_total"),
    )


# ---------------------------------------------------------------------------
# q410 shard-key advisor (cardinality / balance / co-location per candidate)
# ---------------------------------------------------------------------------

_Q410_SHARDS = 32
_Q410_KEYS = ("l_orderkey", "l_partkey", "l_suppkey")


def _q410_oracle() -> str:
    from ..functions.portable import o_hash64

    blocks = []
    for k in _Q410_KEYS:
        shard = f"(({o_hash64(k)}) % {_Q410_SHARDS})"
        blocks.append(f"""
      SELECT '{k}' AS cand_key,
             (SELECT count(DISTINCT {k}) FROM lineitem) AS ndv,
             (SELECT {o_rnd('stddev_pop(c) / avg(c)', 4)} FROM
                (SELECT count(*) AS c FROM lineitem GROUP BY {shard})) AS shard_cv,
             (SELECT {o_rnd('avg(CAST(mx AS DOUBLE) / n)', 6)} FROM
                (SELECT l_orderkey, sum(sc) AS n, max(sc) AS mx FROM
                   (SELECT l_orderkey, count(*) AS sc
                    FROM lineitem GROUP BY l_orderkey, {shard})
                 GROUP BY l_orderkey)) AS order_colocation""")
    return " UNION ALL ".join(blocks)


@query("q410_shard_key_advisor", oracle=_q410_oracle())
def q410_shard_key_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-key advisor: for each candidate distribution key of
    lineitem, the three numbers that decide the layout — key
    cardinality (enough distinct values to spread?), load CV across
    32 hash shards (does it balance?), and ORDER co-location (what
    fraction of an average order's lines land on one shard — 1.0
    for l_orderkey by construction, ~1/shards for unrelated keys),
    which is exactly the 'will the orders join shuffle' question.
    Completes the layout-planning family: q279 profiles ONE key's
    skew, q402 the ring mechanics, this one CHOOSES the key.

    Scale shape: per candidate, two hash groupBys (shard loads;
    per-(order, shard) counts) and scalar folds — counts only, one
    md5 per row per candidate (q315 budget); candidates union
    independent subplans over the shared scan."""
    from ..functions.portable import hash64

    li = table(spark, sf_dir, "lineitem")
    outs = []
    for k in _Q410_KEYS:
        shard = (hash64(k) % _Q410_SHARDS).alias("shard")
        ndv = li.agg(F.countDistinct(k).alias("ndv"))
        loads = li.groupBy(shard).agg(F.count("*").alias("c"))
        cv = loads.agg(
            prnd(F.stddev_pop("c") / F.avg("c"), 4).alias("shard_cv")
        )
        per_os = li.groupBy("l_orderkey", shard).agg(
            F.count("*").alias("sc")
        )
        coloc = (
            per_os.groupBy("l_orderkey")
            .agg(F.sum("sc").alias("n"), F.max("sc").alias("mx"))
            .agg(
                prnd(
                    F.avg(F.col("mx").cast("double") / F.col("n")), 6
                ).alias("order_colocation")
            )
        )
        outs.append(
            ndv.crossJoin(F.broadcast(cv))
            .crossJoin(F.broadcast(coloc))
            .select(
                F.lit(k).alias("cand_key"),
                F.col("ndv").cast("long").alias("ndv"),
                "shard_cv",
                "order_colocation",
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


# ---------------------------------------------------------------------------
# q415 empirical Bloom-filter false-positive audit
# ---------------------------------------------------------------------------

_Q415_K = 3
_Q415_BITS_PER_KEY = 8   # m = 8n -> theoretical fpp ~ 3%


def _q415_oracle() -> str:
    from ..functions.portable import o_hash64

    def pos(key: str, i: int, m: str) -> str:
        expr = f"CAST({key} AS VARCHAR) || ':' || {i}"
        return f"(({o_hash64(expr)}) % {m})"

    m = "(SELECT CAST(count(*) * {bpk} AS BIGINT) FROM members)".format(
        bpk=_Q415_BITS_PER_KEY
    )
    ins = " UNION ALL ".join(
        f"SELECT {pos('part', i, 'msize.m')} AS p FROM members CROSS JOIN msize"
        for i in range(_Q415_K)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT part, {pos('part', i, 'msize.m')} AS p "
        f"FROM probes CROSS JOIN msize"
        for i in range(_Q415_K)
    )
    return f"""
    WITH members AS (
      SELECT DISTINCT l_partkey AS part FROM lineitem
    ),
    msize AS (SELECT CAST(count(*) * {_Q415_BITS_PER_KEY} AS BIGINT) AS m
              FROM members),
    probes AS (
      SELECT p_partkey + 1000000 AS part FROM part
    ),
    bits AS (SELECT DISTINCT p FROM ({ins})),
    hits AS (
      SELECT pp.part, count(b.p) AS nhit
      FROM ({probe_pos}) pp LEFT JOIN bits b ON b.p = pp.p
      GROUP BY pp.part
    ),
    agg AS (
      SELECT (SELECT count(*) FROM members) AS n_members,
             (SELECT m FROM msize) AS m_bits,
             (SELECT count(*) FROM bits) AS bits_set,
             count(*) AS n_probes,
             count(*) FILTER (WHERE nhit = {_Q415_K}) AS false_pos
      FROM hits
    )
    SELECT CAST(n_members AS BIGINT) AS n_members,
           CAST(m_bits AS BIGINT) AS m_bits,
           CAST(bits_set AS BIGINT) AS bits_set,
           CAST(n_probes AS BIGINT) AS n_probes,
           CAST(false_pos AS BIGINT) AS false_positives,
           {o_rnd('CAST(false_pos AS DOUBLE) / n_probes', 6)} AS measured_fpp,
           {o_rnd(f'pow(CAST(bits_set AS DOUBLE) / m_bits, {_Q415_K})', 6)} AS predicted_fpp
    FROM agg
    """


@query("q415_bloom_empirical", oracle=_q415_oracle())
def q415_bloom_empirical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical Bloom-filter audit: actually BUILD the filter in
    SQL (k=3 portable hashes into m = 8n bit positions for the
    distinct part-key set), probe it with a synthetic non-member key
    universe (part keys shifted by 1e6 — guaranteed disjoint), and compare the measured false-positive rate to the
    occupancy prediction (bits_set/m)^k — closing the loop on
    q371's sizing formulas and q110's engine-native membership with
    an engine-independent, hash-exact reference implementation both
    engines reproduce bit for bit.

    Scale shape: the bit set is a distinct over k*n hashed
    positions; probing is one equi join per probe position (k rows
    per probe) + a per-probe count — everything keyed on the bit
    position (uniform by construction); k md5s per key is the
    deliberate budget (q315 law notes the LCG trick if k grows)."""
    from ..functions.portable import hash64

    li = table(spark, sf_dir, "lineitem")
    members = li.select(F.col("l_partkey").alias("part")).distinct()
    msize = members.agg(
        (F.count("*") * _Q415_BITS_PER_KEY).cast("long").alias("m")
    )
    probes = table(spark, sf_dir, "part").select(
        (F.col("p_partkey") + 1000000).alias("part")
    )

    def pos(i: int):
        return hash64(
            F.concat(
                F.col("part").cast("string"), F.lit(":"), F.lit(str(i))
            )
        ) % F.col("m")

    mem_m = members.crossJoin(F.broadcast(msize))
    bits = None
    for i in range(_Q415_K):
        b = mem_m.select(pos(i).alias("p"))
        bits = b if bits is None else bits.unionByName(b)
    bits = bits.distinct()
    pr_m = probes.crossJoin(F.broadcast(msize))
    ppos = None
    for i in range(_Q415_K):
        b = pr_m.select("part", pos(i).alias("p"))
        ppos = b if ppos is None else ppos.unionByName(b)
    hits = (
        ppos.join(bits.withColumn("hit", F.lit(1)), "p", "left")
        .groupBy("part")
        .agg(F.count(F.col("hit")).alias("nhit"))
    )
    nm = members.agg(F.count("*").cast("long").alias("n_members"))
    nb = bits.agg(F.count("*").cast("long").alias("bits_set"))
    agg = hits.agg(
        F.count("*").cast("long").alias("n_probes"),
        F.count(F.when(F.col("nhit") == _Q415_K, 1))
        .cast("long")
        .alias("false_positives"),
    )
    return (
        agg.crossJoin(F.broadcast(nm))
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(msize))
        .select(
            "n_members",
            F.col("m").cast("long").alias("m_bits"),
            "bits_set",
            "n_probes",
            "false_positives",
            prnd(
                F.col("false_positives").cast("double") / F.col("n_probes"),
                6,
            ).alias("measured_fpp"),
            prnd(
                F.pow(
                    F.col("bits_set").cast("double") / F.col("m"),
                    float(_Q415_K),
                ),
                6,
            ).alias("predicted_fpp"),
        )
    )
