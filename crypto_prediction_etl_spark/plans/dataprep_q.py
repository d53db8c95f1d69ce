"""Training-data preparation queries: deterministic dataset splitting
and token-budget sequence packing over the documents table.

Both are pure-arithmetic formulations chosen so the SAME decision is
reproducible on any engine (and any rerun at any scale): splits come
from a portable content hash, packing from integer window arithmetic —
no RNG state, no row-order dependence beyond an explicit sort key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.portable import hash64, o_hash64, o_rnd, prnd
from ..operators.text import tokens
from ..sources.readers import table
from .registry import query

# train/val/test percentile fences over hash64(doc_id) % 100
_SPLIT_TRAIN, _SPLIT_VAL = 80, 90


@query(
    "q73_dataset_split",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang,
             ({o_hash64('doc_id')}) % 100 AS bucket
      FROM documents
    ),
    s AS (
      SELECT lang,
             CASE WHEN bucket < {_SPLIT_TRAIN} THEN 'train'
                  WHEN bucket < {_SPLIT_VAL} THEN 'val'
                  ELSE 'test' END AS split,
             doc_id
      FROM h
    ),
    c AS (SELECT lang, split, count(*) AS n_docs, min(doc_id) AS first_doc
          FROM s GROUP BY lang, split),
    t AS (SELECT lang, sum(n_docs) AS lang_total FROM c GROUP BY lang)
    SELECT c.lang, c.split, CAST(c.n_docs AS BIGINT) AS n_docs,
           CAST(c.first_doc AS BIGINT) AS first_doc,
           {o_rnd('CAST(c.n_docs AS DOUBLE) / t.lang_total', 6)} AS share
    FROM c JOIN t USING (lang)
    """,
)
def q73_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test assignment: split =
    percentile fence over a portable content hash (hash64(doc_id) %
    100 -> 80/10/10). Hash-based splitting is the 100 TB-correct
    design — assignment is a per-row expression (no shuffle, no RNG
    sync, no sampleBy state), stable under reruns, repartitions and
    incremental appends; the per-(lang, split) counts here audit the
    stratification. One groupBy is the only shuffle."""
    docs = table(spark, sf_dir, "documents")
    bucket = hash64(F.col("doc_id")) % 100
    split = (
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    c = (
        docs.select("doc_id", "lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
    )
    t = c.groupBy("lang").agg(F.sum("n_docs").alias("lang_total"))
    return c.join(t, "lang").select(
        "lang",
        "split",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("first_doc").cast("long").alias("first_doc"),
        prnd(F.col("n_docs").cast("double") / F.col("lang_total"), 6).alias(
            "share"
        ),
    )


_CAP_PER_CLASS = 60  # max docs kept per language stratum


@query(
    "q76_stratified_cap",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY ({o_hash64('doc_id')}), doc_id) AS INTEGER) AS sample_rank
      FROM documents
    )
    SELECT doc_id, lang, sample_rank,
           CAST(sample_rank <= {_CAP_PER_CLASS} AS INT) AS kept
    FROM r
    """,
)
def q76_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-class downsampling: keep at most N documents per
    language, chosen by portable-hash order (hash64(doc_id) with doc_id
    tie-break) — the class-rebalancing step of a training-data pipeline.

    Hash order instead of RNG makes the sample a pure function of the
    data: stable under reruns, repartitions and appends (a new doc can
    displace at most one ranked doc). One hash-partition + sort per
    stratum is the only shuffle; at 100 TB strata far above the cap are
    first pre-pruned with an approximate per-partition cap (keep local
    top-N before the global window) so the sort input stays bounded."""
    docs = table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(hash64(F.col("doc_id")), "doc_id")
    r = docs.select(
        "doc_id", "lang", F.row_number().over(w).alias("sample_rank")
    )
    return r.withColumn(
        "kept", (F.col("sample_rank") <= _CAP_PER_CLASS).cast("int")
    )


_PACK_BUDGET = 2048  # tokens per packed context window


@query(
    "q74_sequence_packing",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             -- CAST: DuckDB sums BIGINT into HUGEINT, which pandas
             -- surfaces as float64 - the driver value-hash then formats
             -- 0.0 vs 0 and mismatches despite identical values
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) - n_tokens AS start_offset
      FROM d
    )
    SELECT doc_id, lang, n_tokens,
           start_offset // {_PACK_BUDGET} AS pack_id,
           start_offset % {_PACK_BUDGET} AS pack_offset
    FROM c
    """,
)
def q74_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for pretraining: concatenate documents
    per language stratum in doc_id order and assign each to the
    2048-token context window its START offset lands in (integer
    window arithmetic — bit-exact on any engine).

    Shuffle pattern: one hash partition + sort per stratum (the window
    spec); token counting itself is map-side. At 100 TB the stratum is
    subdivided by shard (pack_id offset by a shard key) so no single
    sort grows unbounded — the window shape is unchanged."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = d.withColumn(
        "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return c.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(F.col("start_offset") / _PACK_BUDGET).cast("long").alias("pack_id"),
        (F.col("start_offset") % _PACK_BUDGET).cast("long").alias("pack_offset"),
    )


# mixture rebalancing: uniform target share per source, downsample-only
# rates (the scarcest source keeps rate 1.0), realized by the same
# portable hash fence q73 uses for splits.
_Q88_FENCE = 1_000_000


def _q88_oracle() -> str:
    h = o_hash64("doc_id")
    return f"""
    WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source),
    t AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS n_groups FROM c),
    w AS (
      SELECT source, n_docs,
             n_docs / t.total AS actual_share,
             1.0 / t.n_groups AS target_share,
             (1.0 / t.n_groups) / (n_docs / t.total) AS raw_w
      FROM c CROSS JOIN t
    ),
    m AS (SELECT max(raw_w) AS mx FROM w),
    r AS (SELECT w.*, w.raw_w / m.mx AS rate FROM w CROSS JOIN m),
    s AS (
      SELECT d.source, CAST(count(*) AS BIGINT) AS sampled_rows
      FROM documents d JOIN r ON d.source = r.source
      WHERE ({h}) % {_Q88_FENCE} < r.rate * {_Q88_FENCE}
      GROUP BY d.source
    )
    SELECT r.source, r.n_docs,
           {o_rnd('r.actual_share', 6)} AS actual_share,
           {o_rnd('r.target_share', 6)} AS target_share,
           {o_rnd('r.rate', 6)} AS sampling_rate,
           CAST(floor(r.n_docs * r.rate) AS BIGINT) AS expected_rows,
           CAST(coalesce(s.sampled_rows, 0) AS BIGINT) AS sampled_rows
    FROM r LEFT JOIN s ON r.source = s.source
    """


@query("q88_mixture_weights", oracle=_q88_oracle())
def q88_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing for training-data assembly: compute
    per-source sampling rates that move the corpus to a uniform target
    mixture by downsampling only (the scarcest source keeps rate 1.0),
    then REALIZE the sample with q73's deterministic hash fence and
    report achieved counts next to expected ones.

    Scale shape: group counts are one partial-aggregated groupBy on a
    low-cardinality key; the rate table is a handful of rows that
    broadcasts back onto the corpus scan, and the realized sample is a
    map-side filter — the corpus shuffles only its per-source counts
    (bytes, not rows). Rates are pure IEEE arithmetic on both engines,
    so the fence decisions are bit-identical."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    c = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    t = c.agg(
        F.sum("n_docs").cast("double").alias("total"),
        F.count("*").cast("double").alias("n_groups"),
    )
    w = (
        c.crossJoin(F.broadcast(t))
        .withColumn("actual_share", F.col("n_docs") / F.col("total"))
        .withColumn("target_share", F.lit(1.0) / F.col("n_groups"))
        .withColumn("raw_w", F.col("target_share") / F.col("actual_share"))
    )
    m = w.agg(F.max("raw_w").alias("mx"))
    r = w.crossJoin(F.broadcast(m)).withColumn("rate", F.col("raw_w") / F.col("mx"))
    sampled = (
        docs.join(F.broadcast(r.select("source", "rate")), "source")
        .filter(hash64(F.col("doc_id")) % _Q88_FENCE < F.col("rate") * _Q88_FENCE)
        .groupBy("source")
        .agg(F.count("*").alias("sampled_rows"))
    )
    return (
        r.join(F.broadcast(sampled), "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            prnd(F.col("actual_share"), 6).alias("actual_share"),
            prnd(F.col("target_share"), 6).alias("target_share"),
            prnd(F.col("rate"), 6).alias("sampling_rate"),
            F.floor(F.col("n_docs") * F.col("rate")).cast("long").alias("expected_rows"),
            F.coalesce(F.col("sampled_rows"), F.lit(0)).cast("long").alias("sampled_rows"),
        )
    )


_Q93_BATCH = 8  # sequences per batch within a length bucket


@query(
    "q93_length_buckets",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT doc_id, lang, n_tokens,
             CAST(length(bin(n_tokens)) AS INTEGER) AS bucket
      FROM d
    ),
    r AS (
      SELECT doc_id, lang, n_tokens, bucket,
             row_number() OVER (PARTITION BY lang, bucket ORDER BY doc_id) AS rn
      FROM b
    )
    SELECT doc_id, lang, n_tokens, bucket,
           CAST((rn - 1) // {_Q93_BATCH} AS BIGINT) AS batch_id,
           CAST((rn - 1) % {_Q93_BATCH} AS BIGINT) AS batch_seq
    FROM r
    """,
)
def q93_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly: group documents into power-of-two
    token-length buckets (bucket = bit-length of n_tokens, no float
    log2) and pack each (lang, bucket) stratum into fixed-size batches
    of 8 in doc_id order — the padding-minimizing batching step of a
    training pipeline (sequences in a batch are within 2x of each
    other's length, so pad waste is bounded at 50% instead of the
    unbucketed worst case).

    Shuffle shape: token counting is map-side; the only shuffle is one
    hash partition + sort per (lang, bucket) stratum for the
    row_number. At 100 TB the stratum is subdivided by a shard key
    exactly like q74's packing, keeping every sort bounded."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    b = d.withColumn("bucket", F.length(F.bin("n_tokens")).cast("int"))
    w = W.partitionBy("lang", "bucket").orderBy("doc_id")
    r = b.withColumn("rn", F.row_number().over(w))
    return r.select(
        "doc_id",
        "lang",
        "n_tokens",
        "bucket",
        F.floor((F.col("rn") - 1) / _Q93_BATCH).cast("long").alias("batch_id"),
        ((F.col("rn") - 1) % _Q93_BATCH).cast("long").alias("batch_seq"),
    )


def _q94_oracle() -> str:
    return f"""
    WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY source),
    t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM c),
    p AS (
      SELECT source, n_docs,
             CAST(n_docs AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
             sqrt(CAST(n_docs AS DOUBLE) / CAST(t.total AS DOUBLE)) AS pa
      FROM c CROSS JOIN t
    ),
    z AS (SELECT sum(pa) AS z FROM p)
    SELECT source, n_docs,
           {o_rnd('share', 6)} AS actual_share,
           {o_rnd('pa / z.z', 6)} AS temp_share,
           {o_rnd('(pa / z.z) / share', 6)} AS boost
    FROM p CROSS JOIN z
    """


@query("q94_temperature_mixture", oracle=_q94_oracle())
def q94_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting (T=2): sampling share
    proportional to p^(1/T) = sqrt(p) — the standard multilingual /
    multi-source rebalancing that upweights rare sources without the
    hard uniform target of q88. Outputs per-source actual vs
    temperature share and the boost factor rare sources receive.

    sqrt is correctly rounded under IEEE 754, so per-source weights are
    bit-identical cross-engine; the normalizer is one sum over the
    (tiny) per-source weight table. Scale shape: one partial-aggregated
    count groupBy; everything after runs on a handful of rows."""
    docs = table(spark, sf_dir, "documents").select("source")
    c = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    t = c.agg(F.sum("n_docs").alias("total"))
    p = (
        c.crossJoin(F.broadcast(t))
        .withColumn(
            "share", F.col("n_docs").cast("double") / F.col("total").cast("double")
        )
        .withColumn("pa", F.sqrt("share"))
    )
    z = p.agg(F.sum("pa").alias("z"))
    return (
        p.crossJoin(F.broadcast(z))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            prnd("share", 6).alias("actual_share"),
            prnd(F.col("pa") / F.col("z"), 6).alias("temp_share"),
            prnd((F.col("pa") / F.col("z")) / F.col("share"), 6).alias("boost"),
        )
    )


# ---------------------------------------------------------------------------
# q237 weighted reservoir sample (Efraimidis-Spirakis A-Res)
# ---------------------------------------------------------------------------

_Q237_K = 50
_HASH_SPACE_F = float(1 << 60)


def _q237_oracle() -> str:
    u = f"(CAST({o_hash64('doc_id')} AS DOUBLE) + 1.0) / ({_HASH_SPACE_F} + 1.0)"
    key = f"-ln({u}) / CAST(n_chars AS DOUBLE)"
    return f"""
    WITH keyed AS (
      SELECT doc_id, n_chars, {o_rnd(key, 9)} AS res_key
      FROM documents
    )
    SELECT doc_id, n_chars, res_key,
           CAST(row_number() OVER (ORDER BY res_key, doc_id) AS INTEGER) AS rank
    FROM keyed
    QUALIFY rank <= {_Q237_K}
    """


@query("q237_weighted_reservoir", oracle=_q237_oracle())
def q237_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006, A-Res): each row draws key = -ln(u)/w from a deterministic
    uniform u (portable 60-bit hash of its id) and the k smallest
    keys are the sample — inclusion probability proportional to
    weight (here document length), exactly the property a
    train-mixture sampler needs and q154's systematic sampler (fixed
    stride over cumulative weight) does not give per-item.

    The keys are one map-side expression; ranking runs through
    operators/globalrank (r5): range-partition by (key, doc_id),
    per-partition row_numbers, broadcast offset join — so the top-k
    filter executes distributed, never a single-task window over the
    corpus. Keys are rounded to the portable grid before ranking so
    both engines cut the same boundary; re-running is reproducible by
    construction (seedless hash), which makes the SAMPLE itself
    auditable."""
    d = table(spark, sf_dir, "documents")
    from ..operators.globalrank import with_global_row_stats

    u = (hash64(F.col("doc_id")).cast("double") + 1.0) / (
        _HASH_SPACE_F + 1.0
    )
    keyed = d.select(
        "doc_id",
        "n_chars",
        prnd(-F.log(u) / F.col("n_chars").cast("double"), 9).alias("res_key"),
    )
    ranked = with_global_row_stats(
        keyed, ["res_key", "doc_id"], rank_col="_rank"
    )
    return (
        ranked.withColumn("rank", F.col("_rank").cast("int"))
        .filter(F.col("rank") <= _Q237_K)
        .drop("_rank")
    )


# ---------------------------------------------------------------------------
# q238 hash-propose negative sampling (recommender training pairs)
# ---------------------------------------------------------------------------

_Q238_PROPOSALS = 8
_Q238_KEEP = 3


@query(
    "q238_negative_sampling",
    oracle=f"""
    WITH inter AS (
      SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    np AS (SELECT CAST(count(*) AS BIGINT) AS n_parts FROM part),
    prop AS (
      SELECT c.custkey, j.j,
             {o_hash64("CAST(c.custkey AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)")} % any_value(np.n_parts) AS cand
      FROM (SELECT DISTINCT custkey FROM inter) c
      CROSS JOIN (SELECT unnest(range(1, {_Q238_PROPOSALS + 1})) AS j) j
      CROSS JOIN np
      GROUP BY c.custkey, j.j
    ),
    neg AS (
      SELECT p.custkey, p.j, p.cand
      FROM prop p LEFT JOIN inter i
        ON i.custkey = p.custkey AND i.partkey = p.cand
      WHERE i.partkey IS NULL
    )
    SELECT custkey, CAST(cand AS BIGINT) AS neg_partkey,
           CAST(row_number() OVER (PARTITION BY custkey ORDER BY j) AS INTEGER) AS neg_no
    FROM neg
    QUALIFY neg_no <= {_Q238_KEEP}
    """,
)
def q238_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative sampling for recommender/contrastive training: for
    every customer, 3 parts they did NOT buy — generated by the
    propose-then-reject shape that works at catalog scale: 8
    deterministic hash proposals per customer (hash(cust:j) mod
    |parts|), an anti join against the interaction table to reject
    accidental positives, keep the first 3 surviving proposals.

    The naive 'all parts minus bought parts' is |users| x |catalog|
    and dead at scale; proposals are O(users x 8), and the anti join
    is an equi join on the interaction table's own key. Determinism:
    the proposal hash is seedless, so the training set is
    reproducible run-over-run; part keys are contiguous 0..n-1 so
    mod-n proposals are valid keys by construction (asserted by the
    gate: every emitted neg_partkey exists)."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    inter = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("custkey"), F.col("l_partkey").alias("partkey"))
        .distinct()
    )
    n_parts = p.agg(F.count("*").alias("n_parts"))
    custs = inter.select("custkey").distinct()
    prop = (
        custs.crossJoin(F.broadcast(n_parts))
        .select(
            "custkey",
            F.explode(
                F.sequence(F.lit(1), F.lit(_Q238_PROPOSALS))
            ).alias("j"),
            "n_parts",
        )
        .select(
            "custkey",
            "j",
            (
                hash64(
                    F.concat(
                        F.col("custkey").cast("string"),
                        F.lit(":"),
                        F.col("j").cast("string"),
                    )
                )
                % F.col("n_parts")
            ).alias("cand"),
        )
    )
    neg = prop.join(
        inter,
        (prop.custkey == inter.custkey) & (prop.cand == inter.partkey),
        "left_anti",
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("custkey").orderBy("j")
    return (
        neg.withColumn("neg_no", F.row_number().over(w).cast("int"))
        .filter(F.col("neg_no") <= _Q238_KEEP)
        .select("custkey", F.col("cand").cast("long").alias("neg_partkey"), "neg_no")
    )


# ---------------------------------------------------------------------------
# q361 reshard movement audit: mod-N vs rendezvous (HRW) hashing
# ---------------------------------------------------------------------------

_Q361_N = 16  # shard count before; reshard adds one -> N+1


def _q361_oracle() -> str:
    n = _Q361_N
    score = o_hash64("CAST(doc_id AS VARCHAR) || ':' || CAST(g.shard AS VARCHAR)")
    return f"""
    WITH keys AS (SELECT doc_id FROM documents),
    g AS (SELECT unnest(range(0, {n + 1})) AS shard),
    sc AS (
      SELECT k.doc_id, g.shard, {score} AS score
      FROM keys k CROSS JOIN g
    ),
    mx16 AS (
      SELECT doc_id, max(score) AS ms FROM sc WHERE shard < {n}
      GROUP BY doc_id
    ),
    hrw16 AS (
      SELECT sc.doc_id, min(sc.shard) AS shard
      FROM sc JOIN mx16 ON mx16.doc_id = sc.doc_id AND sc.score = mx16.ms
      WHERE sc.shard < {n}
      GROUP BY sc.doc_id
    ),
    mx17 AS (SELECT doc_id, max(score) AS ms FROM sc GROUP BY doc_id),
    hrw17 AS (
      SELECT sc.doc_id, min(sc.shard) AS shard
      FROM sc JOIN mx17 ON mx17.doc_id = sc.doc_id AND sc.score = mx17.ms
      GROUP BY sc.doc_id
    ),
    modk AS (
      SELECT doc_id,
             ({o_hash64('doc_id')}) % {n} AS m16,
             ({o_hash64('doc_id')}) % {n + 1} AS m17
      FROM keys
    ),
    assign AS (
      SELECT 'mod' AS strategy, m.doc_id, m.m16 AS before, m.m17 AS after
      FROM modk m
      UNION ALL
      SELECT 'rendezvous', a.doc_id, a.shard, b.shard
      FROM hrw16 a JOIN hrw17 b USING (doc_id)
    ),
    load AS (
      SELECT strategy, before AS shard, count(*) AS l
      FROM assign GROUP BY strategy, before
    ),
    bal AS (
      SELECT strategy,
             CAST(max(l) AS DOUBLE) / (sum(l) / {n}.0) AS max_over_avg
      FROM load GROUP BY strategy
    )
    SELECT a.strategy,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(count(*) FILTER (WHERE before <> after) AS BIGINT) AS n_moved,
           {o_rnd("CAST(count(*) FILTER (WHERE before <> after) AS DOUBLE) / count(*)", 6)} AS moved_frac,
           {o_rnd('any_value(b.max_over_avg)', 4)} AS load_max_over_avg
    FROM assign a JOIN bal b USING (strategy)
    GROUP BY a.strategy
    """


@query("q361_reshard_audit", oracle=_q361_oracle())
def q361_reshard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshard movement audit: when a 16-shard layout grows to 17,
    what fraction of keys MOVE under (a) mod-N hashing (~N/(N+1), the
    full-reshuffle catastrophe) vs (b) rendezvous/HRW hashing
    (argmax over hash(key:shard); only keys the NEW shard wins move,
    ~1/(N+1)) — plus each strategy's load balance (max/avg shard
    load).  This is the table that justifies consistent placement for
    stateful services, shuffle files, and feature-store partitions
    before a 100 TB re-layout is scheduled.

    Everything is map-side portable-hash arithmetic: the HRW argmax
    is an array expression per key (max score, first-index tie-break
    = smallest shard, mirrored by the oracle's two-step max/min), the
    mod assignment a single remainder; the only aggregation is the
    per-strategy movement/load rollup.  No shuffle touches the keys
    beyond one groupBy, at any scale."""
    n = _Q361_N
    keys = table(spark, sf_dir, "documents").select("doc_id")
    scores17 = F.array(
        *[
            hash64(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.lit(str(i)),
                )
            )
            for i in range(n + 1)
        ]
    )
    sc = keys.select("doc_id", scores17.alias("s17"))
    sc = sc.withColumn("s16", F.slice("s17", 1, n))
    hrw = sc.select(
        "doc_id",
        (F.array_position(F.col("s16"), F.array_max("s16")) - 1).alias(
            "before"
        ),
        (F.array_position(F.col("s17"), F.array_max("s17")) - 1).alias(
            "after"
        ),
    ).select("doc_id", F.lit("rendezvous").alias("strategy"), "before", "after")
    modk = keys.select(
        "doc_id",
        F.lit("mod").alias("strategy"),
        (hash64("doc_id") % n).alias("before"),
        (hash64("doc_id") % (n + 1)).alias("after"),
    )
    assign = modk.unionByName(hrw.select("doc_id", "strategy", "before", "after"))
    load = assign.groupBy("strategy", "before").agg(F.count("*").alias("l"))
    bal = load.groupBy("strategy").agg(
        (F.max("l").cast("double") / (F.sum("l") / float(n))).alias(
            "max_over_avg"
        )
    )
    moved = F.count(F.when(F.col("before") != F.col("after"), 1))
    return (
        assign.groupBy("strategy")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            moved.cast("long").alias("n_moved"),
            prnd(moved.cast("double") / F.count("*"), 6).alias("moved_frac"),
        )
        .join(F.broadcast(bal), "strategy")
        .select(
            "strategy",
            "n_keys",
            "n_moved",
            "moved_frac",
            prnd("max_over_avg", 4).alias("load_max_over_avg"),
        )
    )
