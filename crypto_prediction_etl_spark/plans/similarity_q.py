"""Similarity-search queries over the embeddings table, DuckDB-checked.

The oracle computes cosine with ``list_dot_product`` over
double-cast lists — the same sequential accumulation as the Spark
``aggregate(zip_with(...))`` formulation; similarities are rounded on
the portable grid before ranking so ranks hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.portable import o_rnd, prnd
from ..operators.dedup import _memo as _dedup_memo
from ..operators.similarity import (
    as_double_vec,
    bucketed_ann_topk,
    cosine,
    cosine_topk,
    near_dup_pairs_lsh,
)
from ..sources.readers import table
from .registry import query
from ..pinning import pin_frame, pin_frame_lazy

_VECS_CTE = """
    e AS (SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings)
"""

_COS = (
    "list_dot_product(q.v, c.v) / "
    "(sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))"
)

# Row gate for _gated_broadcast: 2M rows of (long id [+ one numeric])
# builds a hash relation well under the session's 64 MiB
# autoBroadcastJoinThreshold and orders of magnitude under the 8 GiB
# broadcast ceiling.  The gate is size-derived, not
# local-core-count-derived, so the same gate is correct at any scale
# factor.
_BROADCAST_GATE_ROWS = 2_000_000


def _gated_broadcast(df: DataFrame, n_rows: int) -> DataFrame:
    """Size-GATED broadcast hint — the sanctioned form of VERDICT r11
    item 1: the iterative graph consumers (PageRank deg, k-core
    survivor set, BFS frontier) join O(|V|)-grain frames every round,
    and a FORCED hint on those is an 8 GiB construction-time failure
    at 100x scale.  But un-hinted, each round pays the map-side
    shuffle write of the k*N edge frame even when AQE later converts
    the join (the conversion reuses the already-written shuffle
    output; guide S3.1).  So the caller measures the frame's actual
    row count (a cheap count over an already-checkpointed bounded
    frame) and the hint is applied ONLY under the measured gate —
    broadcast while it provably fits, AQE-decided shuffle join the
    moment it does not.  Audited site in
    tests/test_plans.py::_BROADCAST_ALLOWED."""
    if n_rows <= _BROADCAST_GATE_ROWS:
        return F.broadcast(df)
    return df


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_vec("embedding").alias("v")
    )


@query(
    "q50_cosine_topk",
    oracle=f"""
    WITH {_VECS_CTE},
    q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {o_rnd(_COS, 6)} AS cos_sim
      FROM q JOIN e c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 10
    """,
)
def q50_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for a deterministic query sample
    (vec_id % 50 = 0) — the exact ANN baseline. The query side is
    broadcast; the corpus is scanned once, never shuffled; ranking is
    one window over (query_id)."""
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") % 50 == 0)
    return cosine_topk(vecs, queries, k=10)


_Q51_BANDS, _Q51_BAND_BITS = 16, 4
_Q51_SIGN_CONCAT = "concat(" + ", ".join(
    f"CASE WHEN v[{i}] >= 0 THEN '1' ELSE '0' END"
    for i in range(1, _Q51_BANDS * _Q51_BAND_BITS + 1)
) + ")"
_COS_AB = (
    "list_dot_product(qa.v, qb.v) / "
    "(sqrt(list_dot_product(qa.v, qa.v)) * sqrt(list_dot_product(qb.v, qb.v)))"
)


@query(
    "q51_embedding_near_dup",
    oracle=f"""
    WITH {_VECS_CTE},
    sigs AS (SELECT vec_id, {_Q51_SIGN_CONCAT} AS sig FROM e),
    bands AS (
      SELECT vec_id, band, substring(sig, band * {_Q51_BAND_BITS} + 1, {_Q51_BAND_BITS}) AS bkt
      FROM sigs CROSS JOIN (SELECT unnest(range(0, {_Q51_BANDS})) AS band) bs
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bkt = b.bkt
                               AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b, {o_rnd(_COS_AB, 6)} AS cos_sim
    FROM cand c
    JOIN e qa ON qa.vec_id = c.id_a
    JOIN e qb ON qb.vec_id = c.id_b
    WHERE {o_rnd(_COS_AB, 6)} >= 0.4
    """,
)
def q51_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (>= 0.4) via banded
    sign-LSH prefilter + exact verify — the embedding-space analog of
    q45's band-bucket-join dedup. No theta join anywhere: candidates
    come from an equi self-join on (band, bucket); the oracle replays
    the identical banding (16 bands x 4 bits, 96.6% measured recall of
    the exact pair set on this corpus).

    The verified pair frame is session-memoized (the dedup family's
    corpus-memo idiom, operators/dedup.py:_memo): the banded
    signatures, candidate join and double vector fetch-back run once
    per (session, sf_dir); later in-session consumers read the
    materialized pair blocks.  r9 BENCH_NOTES measured the un-memoized
    warm cost at 4.3 s/call at sf0.1 — the per-call pin inside
    near_dup_pairs_lsh re-materialized every invocation.  At cluster
    scale the memo's durable analog is the persisted pair table
    (streaming.sinks.neardup_screen_writer)."""
    def build() -> DataFrame:
        return near_dup_pairs_lsh(
            _vecs(spark, sf_dir), 0.4, bands=_Q51_BANDS, band_bits=_Q51_BAND_BITS
        ).transform(pin_frame)

    out = _dedup_memo(
        spark,
        sf_dir,
        f"q51_near_dup_pairs:{_Q51_BANDS}:{_Q51_BAND_BITS}:0.4",
        build,
    )
    return out.select(F.col("id_a"), F.col("id_b"), F.col("cos_sim"))


_Q52_BITS, _Q52_MULTIPROBE = 6, 3
_Q52_BKT_INT = "(" + " + ".join(
    f"CASE WHEN v[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END" for i in range(_Q52_BITS)
) + ")"


@query(
    "q52_bucketed_ann",
    oracle=f"""
    WITH {_VECS_CTE},
    b AS (SELECT vec_id, v, {_Q52_BKT_INT} AS bkt FROM e),
    q AS (SELECT * FROM b WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {o_rnd(_COS, 6)} AS cos_sim
      FROM q JOIN b c
        ON bit_count(xor(CAST(q.bkt AS BIGINT), CAST(c.bkt AS BIGINT))) <= {_Q52_MULTIPROBE}
       AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
)
def q52_bucketed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe sign-LSH approximate top-5: the query probes its own
    bucket plus every bucket within Hamming distance 3 (6 sign bits, 64
    buckets, 42-bucket probe ball) — candidates come from a bucket hash
    join, never a cross product. The oracle replays the identical probe
    ball as a Hamming predicate (correctness needs no scalable plan);
    recall@5 vs the exact q50 baseline is ~90% on this corpus
    (tests/test_plans.py::test_bucketed_ann_recall)."""
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") % 50 == 0)
    return bucketed_ann_topk(
        vecs, queries, k=5, bits=_Q52_BITS, multiprobe=_Q52_MULTIPROBE
    )


@query(
    "q53_knn_label_vote",
    oracle=f"""
    WITH {_VECS_CTE},
    q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS label_actual,
             c.vec_id AS vec_id, c.label AS label,
             {o_rnd(_COS, 6)} AS cos_sim
      FROM q JOIN e c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, label_actual,
           count(*) FILTER (WHERE label = label_actual) AS votes_for_actual,
           count(*) AS k
    FROM ranked WHERE rank <= 10
    GROUP BY query_id, label_actual
    """,
)
def q53_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label voting on top of exact top-k — a downstream-consumer
    shape (classification-by-neighbors) built purely from q50's plan."""
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("label_actual")
    )
    topk = cosine_topk(_vecs(spark, sf_dir), _vecs(spark, sf_dir).filter(F.col("vec_id") % 50 == 0), k=10)
    corpus_labels = _vecs(spark, sf_dir).select("vec_id", "label")
    return (
        topk.join(corpus_labels, "vec_id")
        .join(F.broadcast(queries), topk.query_id == queries.qid)
        .groupBy("query_id", "label_actual")
        .agg(
            F.count(F.when(F.col("label") == F.col("label_actual"), 1)).alias(
                "votes_for_actual"
            ),
            F.count("*").alias("k"),
        )
    )


@query(
    "q54_array_functions",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           floor((list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum')) * 10000.0 + 0.5001) / 10000.0 AS vec_sum,
           floor((list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'max')) * 10000.0 + 0.5001) / 10000.0 AS vec_max,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_positive,
           floor((list_aggregate(list_transform(list_slice(embedding, 1, 8), x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) * 10000.0 + 0.5001) / 10000.0 AS head_sq_sum
    FROM embeddings WHERE vec_id % 5 = 0
    """,
)
def q54_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions certified directly (transform /
    filter / aggregate / slice / size) — the JVM-side vector toolkit the
    similarity operators are built from (SURVEY §2.8 notes the reference
    needs only element_at/posexplode; a vector engine needs these)."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    dvec = F.transform("embedding", lambda x: x.cast("double"))
    head_sq = F.aggregate(
        F.transform(F.slice("embedding", 1, 8), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        prnd(F.aggregate(dvec, F.lit(0.0), lambda a, x: a + x), 4).alias("vec_sum"),
        prnd(F.array_max(dvec), 4).alias("vec_max"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
        prnd(head_sq, 4).alias("head_sq_sum"),
    )


_Q55_K, _Q55_ITERS, _Q55_DIM = 4, 5, 64


def _q55_oracle() -> str:
    """Unrolled Lloyd iterations as a chained-CTE DuckDB replay (the
    q100/q176 recursion technique applied to k-means). Exact parity
    holds because (a) the seed centroids are the k smallest-id vectors
    on both sides, (b) per-(cluster, dim) sums snap to the 1e-6
    portable grid before the divide (operators/clustering.py), making
    the centroid doubles bit-identical despite shuffle-order float
    addition, and (c) both engines fold the squared-distance terms
    sequentially over identical doubles."""

    def sq(a: str, c: str) -> str:
        return (
            f"list_aggregate(list_transform(range(1, {_Q55_DIM + 1}), "
            f"i -> ({a}.v[i] - {c}.v[i]) * ({a}.v[i] - {c}.v[i])), 'sum')"
        )

    parts = [
        _VECS_CTE.strip(),
        f"""c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
      FROM e ORDER BY vec_id LIMIT {_Q55_K})""",
    ]
    prev = "c0"
    for it in range(1, _Q55_ITERS + 1):
        parts.append(f"""a{it} AS (
      SELECT vec_id, v, cluster FROM (
        SELECT x.vec_id, x.v, c.j AS cluster,
               row_number() OVER (PARTITION BY x.vec_id
                                  ORDER BY {sq("x", "c")}, c.j) AS rn
        FROM e x CROSS JOIN {prev} c) t WHERE rn = 1)""")
        parts.append(f"""s{it} AS (
      SELECT cluster, pos,
             floor(sum(val) * 1000000.0 + 0.5001) / 1000000.0 AS s,
             count(*) AS n
      FROM (SELECT cluster, unnest(v) AS val,
                   unnest(range(1, len(v) + 1)) AS pos FROM a{it})
      GROUP BY cluster, pos)""")
        parts.append(f"""c{it} AS (
      SELECT p.j, coalesce(u.nv, p.v) AS v
      FROM {prev} p LEFT JOIN (
        SELECT cluster AS j, list(s / n ORDER BY pos) AS nv
        FROM s{it} GROUP BY cluster) u ON u.j = p.j)""")
        prev = f"c{it}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT vec_id, CAST(cluster AS INT) AS cluster,
           {o_rnd("sqd", 4)} AS sq_dist
    FROM (
      SELECT x.vec_id, c.j AS cluster, {sq("x", "c")} AS sqd,
             row_number() OVER (PARTITION BY x.vec_id
                                ORDER BY {sq("x", "c")}, c.j) AS rn
      FROM e x CROSS JOIN {prev} c) t WHERE rn = 1
    """
    )


@query("q55_kmeans_clusters", oracle=_q55_oracle())
def q55_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means(4, 5 iterations) over the embeddings — the iterative-
    algorithm pattern (declarative per-iteration passes; only the k x d
    centroid matrix crosses the driver between iterations, with the
    per-dim sums snapped to the 1e-6 portable grid so the centroids are
    bit-reproducible across runs AND engines). The oracle unrolls the
    same 5 Lloyd iterations as chained CTEs, so the full iterative
    algorithm — not just its row count — sits under the exact hash
    gate; determinism and inertia monotonicity are additionally
    asserted in tests/test_plans.py."""
    from ..functions.portable import prnd as _prnd
    from ..operators.clustering import kmeans

    assigned, _ = kmeans(_vecs(spark, sf_dir), k=_Q55_K, iters=_Q55_ITERS)
    return assigned.select(
        "vec_id", "cluster", _prnd(F.col("sq_dist"), 4).alias("sq_dist")
    )


_Q56_K_SEEDS, _Q56_NPROBE, _Q56_TOPK = 8, 2, 5
_COS_CS = (
    "list_dot_product(c.v, s.v) / "
    "(sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s.v, s.v)))"
)
_COS_QS = (
    "list_dot_product(q.v, s.v) / "
    "(sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(s.v, s.v)))"
)
_COS_PA = (
    "list_dot_product(p.qv, a.v) / "
    "(sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v)))"
)


@query(
    "q56_ivf_ann",
    oracle=f"""
    WITH {_VECS_CTE},
    seeds AS (
      SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS j
      FROM e ORDER BY vec_id LIMIT {_Q56_K_SEEDS}
    ),
    asg AS (
      SELECT vec_id, v, cell FROM (
        SELECT c.vec_id, c.v, s.j AS cell,
               row_number() OVER (PARTITION BY c.vec_id
                                  ORDER BY {o_rnd(_COS_CS, 6)} DESC, s.j) AS rn
        FROM e c CROSS JOIN seeds s) t WHERE rn = 1
    ),
    q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
    probe AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, s.j AS cell,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {o_rnd(_COS_QS, 6)} DESC, s.j) AS rn
        FROM q CROSS JOIN seeds s) t WHERE rn <= {_Q56_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id, {o_rnd(_COS_PA, 6)} AS cos_sim
      FROM probe p JOIN asg a USING (cell)
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= {_Q56_TOPK}
    """,
)
def q56_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN: 8 coarse cells, probe the 2 nearest per query,
    exact cosine top-5 inside the probed cells (~nprobe/k of the corpus
    scanned instead of all of it).

    Coarse centroids here are the 8 smallest-id vectors so the DuckDB
    oracle can replay the quantizer bit-exactly; production swaps in
    q55's k-means centroids — the plan (literal-seed assignment map +
    broadcast probe join on cell + per-query top-k window) is unchanged.
    The k x d seed collect is driver-bounded by construction (the
    coarse codebook is small; it IS the index definition)."""
    from ..operators.similarity import ivf_ann_topk

    vecs = _vecs(spark, sf_dir)
    seed_rows = (
        vecs.orderBy("vec_id").limit(_Q56_K_SEEDS).select("v").collect()
    )
    seeds = [list(r[0]) for r in seed_rows]
    queries = vecs.filter(F.col("vec_id") % 50 == 0)
    return ivf_ann_topk(
        vecs, queries, seeds, k=_Q56_TOPK, nprobe=_Q56_NPROBE
    )


@query(
    "q84_label_centroids",
    oracle=f"""
    SELECT label,
           CAST(pos AS INTEGER) AS pos,
           {o_rnd('avg(CAST(v AS DOUBLE))', 5)} AS centroid_v,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM (SELECT label,
                 unnest(embedding) AS v,
                 unnest(range(0, len(embedding))) AS pos
          FROM embeddings)
    GROUP BY label, pos
    """,
)
def q84_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids: element-wise mean of the vector
    column per label — the array-aggregate pattern (class prototypes,
    nearest-centroid classifiers, IVF codebook refreshes). posexplode
    to (label, pos, v) and ONE groupBy(label, pos): the aggregate
    partial-combines map-side, so the shuffle carries labels x dim
    partial sums per map partition, not the corpus — at 100 TB the
    wire traffic is O(labels x 64 x partitions) regardless of row
    count. DuckDB's zipped parallel unnest replays the position
    pairing exactly."""
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    return e.groupBy("label", "pos").agg(
        prnd(F.avg(F.col("v").cast("double")), 5).alias("centroid_v"),
        F.count("*").cast("long").alias("n_vecs"),
    )


# int8 scalar quantization: per-dimension corpus min/max -> 0..255
# codes; the compressed form an ANN index stores at 100 TB (4 bytes ->
# 1 byte per dim before any product quantization).
_Q90_DIM = 64


def _q90_oracle() -> str:
    idx = f"range(1, {_Q90_DIM + 1})"
    code = (
        "CASE WHEN s.mx[i] = s.mn[i] THEN 0 ELSE "
        "CAST(greatest(0.0, least(255.0, floor((v[i] - s.mn[i]) / (s.mx[i] - s.mn[i])"
        " * 255.0 + 0.5001))) AS BIGINT) END"
    )
    deq = "s.mn[i] + (CAST(" + code + " AS DOUBLE) / 255.0) * (s.mx[i] - s.mn[i])"
    return f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    dims AS (SELECT unnest({idx}) AS dim),
    st AS (
      SELECT dim, min(v[dim]) AS mn, max(v[dim]) AS mx
      FROM e CROSS JOIN dims GROUP BY dim
    ),
    s AS (SELECT list(mn ORDER BY dim) AS mn, list(mx ORDER BY dim) AS mx FROM st),
    coded AS (
      SELECT vec_id, label,
             list_transform({idx}, i -> {code}) AS codes,
             list_transform({idx}, i -> ({deq}) - v[i]) AS err
      FROM e CROSS JOIN s
    )
    SELECT vec_id, label,
           md5(array_to_string(codes, ',')) AS code_md5,
           {o_rnd("list_aggregate(list_transform(err, x -> x * x), 'sum') / " + str(_Q90_DIM), 8)} AS mse,
           {o_rnd("list_aggregate(list_transform(err, x -> abs(x)), 'max')", 8)} AS max_abs_err
    FROM coded
    """


@query("q90_int8_quantization", oracle=_q90_oracle())
def q90_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8) embedding quantization: one min/max pass per
    dimension over the corpus, then every vector quantizes to 0..255
    codes against the broadcast per-dim ranges; emitted as the code
    array's md5 (so the gate checks every code without shipping them)
    plus reconstruction MSE / max-abs error per vector.

    Scale shape: the stats pass posexplodes map-side and partially
    aggregates to 64 (dim, min, max) rows — bytes cross the exchange,
    never vectors; the 64-entry range arrays ride a broadcast one-row
    cross join back onto the scan, and quantization itself is pure
    array-domain arithmetic (zero shuffle). This is the compression
    step an IVF/PQ index at 100 TB applies before storing codes; q52/
    q56 consume such codes unchanged."""
    vecs = _vecs(spark, sf_dir)
    st = (
        vecs.select(F.posexplode("v").alias("dim0", "x"))
        .groupBy("dim0")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    s = st.agg(
        F.array_sort(F.collect_list(F.struct("dim0", "mn"))).alias("_mn"),
        F.array_sort(F.collect_list(F.struct("dim0", "mx"))).alias("_mx"),
    ).select(
        F.transform("_mn", lambda e: e["mn"]).alias("mn"),
        F.transform("_mx", lambda e: e["mx"]).alias("mx"),
    )
    idx = F.sequence(F.lit(1), F.lit(_Q90_DIM))

    def _code(i):
        x = F.element_at("v", i)
        mn, mx = F.element_at("mn", i), F.element_at("mx", i)
        q = F.floor((x - mn) / (mx - mn) * 255.0 + F.lit(0.5001))
        return F.when(mx == mn, F.lit(0).cast("long")).otherwise(
            F.greatest(F.lit(0.0), F.least(F.lit(255.0), q)).cast("long")
        )

    def _err(i):
        x = F.element_at("v", i)
        mn, mx = F.element_at("mn", i), F.element_at("mx", i)
        deq = mn + (_code(i).cast("double") / 255.0) * (mx - mn)
        return deq - x

    coded = vecs.crossJoin(F.broadcast(s)).select(
        "vec_id",
        "label",
        F.transform(idx, _code).alias("codes"),
        F.transform(idx, _err).alias("err"),
    )
    sq_sum = F.aggregate(
        F.col("err"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    max_abs = F.array_max(F.transform("err", lambda x: F.abs(x)))
    return coded.select(
        "vec_id",
        "label",
        F.md5(F.concat_ws(",", F.transform("codes", lambda c: c.cast("string")))).alias(
            "code_md5"
        ),
        prnd(sq_sum / _Q90_DIM, 8).alias("mse"),
        prnd(max_abs, 8).alias("max_abs_err"),
    )


_Q97_M, _Q97_SUBDIM, _Q97_K = 8, 8, 16  # 8 subspaces x 8 dims, 16 codes


def _q97_oracle() -> str:
    blocks, joins, codes, dsum = [], [], [], []
    for s in range(_Q97_M):
        lo = s * _Q97_SUBDIM + 1
        hi = lo + _Q97_SUBDIM - 1
        cs = f"list_slice(c.v, {lo}, {hi})"
        ss = f"list_slice(s.v, {lo}, {hi})"
        d2 = (
            f"list_dot_product({cs}, {cs})"
            f" - 2 * list_dot_product({cs}, {ss})"
            f" + list_dot_product({ss}, {ss})"
        )
        blocks.append(
            f"""a{s} AS (
      SELECT vec_id, code, d FROM (
        SELECT c.vec_id, s.j AS code, {o_rnd(d2, 6)} AS d,
               row_number() OVER (PARTITION BY c.vec_id
                                  ORDER BY {o_rnd(d2, 6)}, s.j) AS rn
        FROM e c CROSS JOIN seeds s) t WHERE rn = 1
    )"""
        )
        joins.append(f"JOIN a{s} USING (vec_id)" if s else "FROM a0")
        codes.append(f"CAST(a{s}.code AS INTEGER) AS code{s}")
        dsum.append(f"a{s}.d")
    return f"""
    WITH {_VECS_CTE},
    seeds AS (
      SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS j
      FROM e ORDER BY vec_id LIMIT {_Q97_K}
    ),
    {",".join(blocks)}
    SELECT a0.vec_id, {", ".join(codes)},
           {o_rnd(" + ".join(dsum), 5)} AS recon_d2
    {" ".join(joins)}
    """


@query("q97_product_quantization", oracle=_q97_oracle())
def q97_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (PQ) of the embedding column: split each
    64-dim vector into 8 subspaces of 8 dims, assign each subvector to
    its nearest of 16 per-subspace codebook entries (squared L2, ties
    to the smallest code), and report the total reconstruction error —
    64 dims compress to 8 bytes/vector (32x vs float32), the memory
    layout IVF-PQ indexes serve ANN from at 100 TB.

    Codebooks here are the subvectors of the 16 smallest-id vectors so
    the oracle replays the quantizer bit-exactly (q56's convention);
    production swaps in per-subspace k-means (operators/clustering)
    without changing the plan. Execution is a pure map — the corpus
    never shuffles: the (m, k, subdim) codebook broadcasts as a numpy
    tensor and one mapInPandas kernel scores each Arrow batch with a
    BLAS matmul per subspace (the q50 pattern), distances snapped to
    the 1e-6 portable grid BEFORE the argmin so code assignment is the
    exact rounded-distance ordering the oracle replays (np.argmin ties
    resolve to the first = smallest code, matching the oracle's
    ORDER BY d, j). A literal-codebook codegen formulation was ~3x
    slower at small SF — the 8x16 rounded-distance expression tree put
    seconds of driver-side analysis+codegen ahead of milliseconds of
    data; the kernel keeps the identical map-only 100 TB shape with
    none of that fixed cost. Distance identity d2 = <a,a> - 2<a,b> +
    <b,b> keeps both engines on composition-of-dot-products
    arithmetic; the 1e-6 grid absorbs the matmul-vs-sequential-fold
    accumulation difference (q50's proven convention)."""
    import numpy as np
    import pandas as pd

    vecs = _vecs(spark, sf_dir)
    seed_rows = vecs.orderBy("vec_id").limit(_Q97_K).select("v").collect()
    cb = np.stack(
        [np.asarray(r[0], dtype="float64") for r in seed_rows]
    ).reshape(_Q97_K, _Q97_M, _Q97_SUBDIM).transpose(1, 0, 2)  # (m, k, sub)
    bc = spark.sparkContext.broadcast(cb)
    m, subdim = _Q97_M, _Q97_SUBDIM

    def kernel(batches):
        codebook = bc.value  # (m, k, subdim)
        cb_norms = (codebook * codebook).sum(axis=2)  # (m, k)
        for pdf in batches:
            vm = np.stack(
                [np.asarray(v, dtype="float64") for v in pdf["v"]]
            ).reshape(len(pdf), m, subdim)
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            recon = np.zeros(len(pdf))
            for s in range(m):
                sub = vm[:, s, :]  # (n, subdim)
                d2 = (
                    (sub * sub).sum(axis=1, keepdims=True)
                    - 2.0 * (sub @ codebook[s].T)
                    + cb_norms[s][None, :]
                )
                d2 = np.floor(d2 * 1e6 + 0.5001) / 1e6  # portable grid
                code = np.argmin(d2, axis=1)  # first min = smallest j
                out[f"code{s}"] = code.astype("int32")
                recon += d2[np.arange(len(pdf)), code]
            out["recon_d2"] = np.floor(recon * 1e5 + 0.5001) / 1e5
            yield pd.DataFrame(out)

    from ..sources.readers import spread_small_scan

    schema = (
        "vec_id long, "
        + ", ".join(f"code{s} int" for s in range(m))
        + ", recon_d2 double"
    )
    return spread_small_scan(vecs.select("vec_id", "v")).mapInPandas(
        kernel, schema=schema
    )


_Q101_K_CELLS, _Q101_T = 8, 0.4


def _q101_oracle() -> str:
    cos_cs = (
        "list_dot_product(c.v, s.v) / "
        "(sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s.v, s.v)))"
    )
    cos_ab = (
        "list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
    )
    return f"""
    WITH {_VECS_CTE},
    seeds AS (
      SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS j
      FROM e ORDER BY vec_id LIMIT {_Q101_K_CELLS}
    ),
    asg AS (
      SELECT vec_id, v, cell FROM (
        SELECT c.vec_id, c.v, s.j AS cell,
               row_number() OVER (PARTITION BY c.vec_id
                                  ORDER BY {o_rnd(cos_cs, 6)} DESC, s.j) AS rn
        FROM e c CROSS JOIN seeds s) t WHERE rn = 1
    ),
    dup AS (
      SELECT a.vec_id, min(b.vec_id) AS dup_of
      FROM asg a JOIN asg b
        ON a.cell = b.cell AND b.vec_id < a.vec_id
      WHERE {o_rnd(cos_ab, 6)} >= {_Q101_T}
      GROUP BY a.vec_id
    )
    SELECT asg.vec_id, CAST(asg.cell AS INTEGER) AS cell,
           d.dup_of,
           CAST(d.dup_of IS NULL AS INT) AS is_kept
    FROM asg LEFT JOIN dup d USING (vec_id)
    """


@query("q101_semdedup", oracle=_q101_oracle())
def q101_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: coarse-cluster the
    embedding space (the q56 literal-seed quantizer; production uses
    k-means centroids), then WITHIN each cluster drop every vector
    that has a lower-id neighbour above the cosine threshold — the
    keep-one-per-semantic-duplicate-set rule, deterministic via the
    min-id canonical.

    The cluster assignment is the whole scale story (the SemDeDup
    observation): candidate pairs exist only inside a cell, so the
    quadratic term is sum over cells of |cell|^2 with the cell count
    as the dial (10k+ cells at production scale), and the per-cell
    scoring is a grouped BLAS kernel on cell — no all-pairs cross
    product anywhere in the plan. Output: every vector with its cell,
    its canonical duplicate (or NULL), and the keep flag.

    r12 kernel rewrite (guide S4.2, the r11 bucketed-kNN precedent):
    the within-cell pair scoring previously ran as an equi-join on
    cell with a per-pair interpreted array-HOF dot — the documented
    ~35x constant factor — materializing sum(|cell|^2) 64-dim pair
    rows through the expression interpreter.  Now each cell's vectors
    cross ONE normalized float64 matmul inside a grouped
    applyInPandas kernel (q50's exact arithmetic: normalize rows,
    BLAS matmul, portable-grid floor-round in-kernel), probe rows
    chunked at 1024 so the score matrix stays bounded on a hot cell.
    dup_of = the first (= min, ids sorted ascending) lower-id
    neighbour at or above the rounded threshold — semantics
    unchanged."""
    import numpy as np
    import pandas as pd

    from ..operators.similarity import ivf_assign

    vecs = _vecs(spark, sf_dir)
    seed_rows = vecs.orderBy("vec_id").limit(_Q101_K_CELLS).select("v").collect()
    seeds = [list(r[0]) for r in seed_rows]
    asg = ivf_assign(vecs, seeds)

    thr = float(_Q101_T)
    scale = float(10**6)

    def cell_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        vid = pdf["vec_id"].to_numpy()
        order = np.argsort(vid)
        vid = vid[order]
        vm = np.stack([np.asarray(v, dtype="float64") for v in pdf["v"]])[order]
        vm = vm / np.linalg.norm(vm, axis=1, keepdims=True)
        ids_out: list[np.ndarray] = []
        dups_out: list[np.ndarray] = []
        for lo in range(0, len(vid), 1024):
            hi = min(lo + 1024, len(vid))
            sims = vm[lo:hi] @ vm.T
            sims = np.floor(sims * scale + 0.5001) / scale
            # candidates: strictly lower id (ids ascend, so strictly
            # earlier position) at or above the rounded threshold
            mask = sims >= thr
            col = np.arange(len(vid))[None, :]
            row = np.arange(lo, hi)[:, None]
            mask &= col < row
            has = mask.any(axis=1)
            if not has.any():
                continue
            first = mask.argmax(axis=1)  # first True = min id (sorted)
            ids_out.append(vid[lo:hi][has])
            dups_out.append(vid[first[has]])
        if not ids_out:
            return pd.DataFrame({"vec_id": pd.Series(dtype="int64"),
                                 "dup_of": pd.Series(dtype="int64")})
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(ids_out),
                "dup_of": np.concatenate(dups_out),
            }
        )

    dup = (
        asg.select("vec_id", "cell", "v")
        .groupBy("cell")
        .applyInPandas(cell_dups, schema="vec_id long, dup_of long")
    )
    return (
        asg.join(dup, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            "dup_of",
            F.col("dup_of").isNull().cast("int").alias("is_kept"),
        )
    )


# ---------------------------------------------------------------------------
# q143 mutual-kNN graph
# ---------------------------------------------------------------------------

_Q143_K = 10


@query(
    "q143_mutual_knn",
    oracle=f"""
    WITH {_VECS_CTE},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {o_rnd(_COS, 6)} AS cos_sim
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    ),
    knn AS (SELECT * FROM ranked WHERE rank <= {_Q143_K})
    SELECT ab.query_id AS id_a, ab.vec_id AS id_b,
           ab.cos_sim AS cos_sim,
           CAST(ab.rank AS INTEGER) AS rank_ab,
           CAST(ba.rank AS INTEGER) AS rank_ba
    FROM knn ab JOIN knn ba
      ON ba.query_id = ab.vec_id AND ba.vec_id = ab.query_id
    WHERE ab.query_id < ab.vec_id
    """,
)
def q143_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph: the edge set where each endpoint ranks the
    other in its own top-10 — the standard robust-neighborhood graph
    for clustering (mutual edges reject hub/asymmetric matches).

    Composes q50's exact top-k (corpus scanned once, per-batch BLAS,
    partial top-k) with mutualization by ONE canonical-pair
    aggregation (r12, guide S2.2/S2.3): each directed edge maps to
    (least, greatest) carrying its direction's attributes in
    direction-gated columns, and a pair is mutual iff the group holds
    both directions (count == 2 — kNN rows are unique per direction,
    self-edges kernel-excluded).  max() over (value, NULL) recovers
    each direction's payload: cos_sim/rank_ab from the a<b direction
    (exactly the oracle's ab.cos_sim — cosine is symmetric but the
    value is taken from the same side), rank_ba from the reverse.
    The previous reversed self equi-join shuffled the k*N edge list
    twice and paid a join stage; this shuffles it once with map-side
    partial aggregation.  Here every vector is a query, which is the
    documented collect-side bound of cosine_topk (fine to ~10^5
    queries x 64 dims); past that the same mutualization runs
    unchanged over a block-matrix scorer.
    """
    vecs = _vecs(spark, sf_dir)
    knn = cosine_topk(vecs, _vecs(spark, sf_dir), k=_Q143_K)
    fwd = F.col("query_id") < F.col("vec_id")
    canon = knn.select(
        F.least("query_id", "vec_id").alias("id_a"),
        F.greatest("query_id", "vec_id").alias("id_b"),
        F.when(fwd, F.col("cos_sim")).alias("_cs_ab"),
        F.when(fwd, F.col("rank")).alias("_r_ab"),
        F.when(~fwd, F.col("rank")).alias("_r_ba"),
    )
    return (
        canon.groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("_n"),
            F.max("_cs_ab").alias("cos_sim"),
            F.max("_r_ab").alias("rank_ab"),
            F.max("_r_ba").alias("rank_ba"),
        )
        .filter(F.col("_n") == 2)
        .select("id_a", "id_b", "cos_sim", "rank_ab", "rank_ba")
    )


# ---------------------------------------------------------------------------
# q144 Johnson-Lindenstrauss sign projection
# ---------------------------------------------------------------------------

_Q144_D_IN, _Q144_D_OUT = 64, 8


def _q144_signs() -> list[list[float]]:
    """Deterministic Rademacher (+-1) projection matrix from md5 parity
    — reproducible on any engine/runtime, no RNG state."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{k}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for i in range(_Q144_D_IN)
        ]
        for k in range(_Q144_D_OUT)
    ]


def _q144_oracle() -> str:
    import math

    scale = math.sqrt(_Q144_D_OUT)
    cols = ",\n".join(
        o_rnd(
            f"list_dot_product(v, {signs}) / {scale}", 4
        )
        + f" AS p{k}"
        for k, signs in enumerate(_q144_signs())
    )
    return f"""
    WITH {_VECS_CTE}
    SELECT vec_id,
    {cols}
    FROM e
    """


@query("q144_jl_projection", oracle=_q144_oracle())
def q144_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction 64 -> 8 with a
    deterministic Rademacher (+-1/sqrt(8)) matrix (Achlioptas 2003:
    sign matrices preserve pairwise distances like Gaussians) — the
    cheap pre-reduction in front of clustering / coarse ANN.

    Map-ONLY: the projection matrix is 8 literal sign arrays folded
    into the plan, each output dim one JVM-side zip_with/aggregate dot
    product — no shuffle, no Python, no driver state; at 100 TB this
    is a pure scan-transform at parquet read throughput. The oracle
    replays the identical literal matrix via list_dot_product (same
    sequential accumulation as the fold).
    """
    import math

    vecs = _vecs(spark, sf_dir)
    scale = F.lit(math.sqrt(float(_Q144_D_OUT)))
    outs = []
    for k, signs in enumerate(_q144_signs()):
        lit = F.array(*[F.lit(s) for s in signs])
        dot = F.aggregate(
            F.zip_with(F.col("v"), lit, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        outs.append(prnd(dot / scale, 4).alias(f"p{k}"))
    return vecs.select("vec_id", *outs)


# ---------------------------------------------------------------------------
# Shared mutual-kNN edge list (q143's graph) for the graph-analytics ops
# ---------------------------------------------------------------------------

_EDGES_CTE = f"""
    {_VECS_CTE},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {o_rnd(_COS, 6)} AS cos_sim
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    ),
    knn AS (SELECT query_id, vec_id FROM ranked WHERE rank <= {_Q143_K}),
    edges AS (
      SELECT ab.query_id AS a, ab.vec_id AS b
      FROM knn ab JOIN knn ba
        ON ba.query_id = ab.vec_id AND ba.vec_id = ab.query_id
      WHERE ab.query_id < ab.vec_id
    )
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN edge list (id_a < id_b), exactly q143's graph.

    r12 (guide S2.2/S2.3): mutualization is ONE canonical-pair
    aggregation instead of the ab><ba self equi-join — each directed
    edge maps to (least, greatest) and a pair is mutual iff its group
    holds both directions (count == 2; kNN rows are unique per
    direction and self-edges are excluded by the kernel, so 2 is
    exact).  The join shape shuffled the k*N edge list TWICE (both
    join sides) and paid a join stage; this shuffles it once with
    map-side partial aggregation.  The result is pinned: the edge
    list is k*N-bounded and every consumer (q164's symmetric union,
    q165's three self-join sides, q372's label join) reads it more
    than once or feeds it to an iterative body."""
    vecs = _vecs(spark, sf_dir)
    knn = cosine_topk(vecs, _vecs(spark, sf_dir), k=_Q143_K).select(
        "query_id", "vec_id"
    )
    return pin_frame(
        knn.select(
            F.least("query_id", "vec_id").alias("id_a"),
            F.greatest("query_id", "vec_id").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") == 2)
        .select("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# q164 PageRank (5 unrolled power iterations)
# ---------------------------------------------------------------------------

_Q164_ITERS = 5
_Q164_D = 0.85


def _q164_oracle() -> str:
    parts = [
        f"""sym AS (
      SELECT a AS src, b AS dst FROM edges
      UNION ALL
      SELECT b AS src, a AS dst FROM edges
    ),
    deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY src),
    nn AS (SELECT count(*) AS n FROM e),
    nodes AS (SELECT vec_id AS node FROM e),
    pr0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn)"""
    ]
    for i in range(1, _Q164_ITERS + 1):
        parts.append(
            f"""c{i} AS (
      SELECT s.dst AS node, sum(p.pr / d.deg) AS c
      FROM sym s
      JOIN pr{i - 1} p ON p.node = s.src
      JOIN deg d ON d.node = s.src
      GROUP BY s.dst
    ),
    pr{i} AS (
      SELECT n.node,
             {1.0 - _Q164_D} / nn.n + {_Q164_D} * coalesce(c.c, 0.0) AS pr
      FROM nodes n LEFT JOIN c{i} c USING (node) CROSS JOIN nn
    )"""
        )
    body = ",\n    ".join(parts)
    return f"""
    WITH {_EDGES_CTE},
    {body}
    SELECT node, {o_rnd('pr', 8)} AS pagerank
    FROM pr{_Q164_ITERS}
    """


@query("q164_pagerank", oracle=_q164_oracle())
def q164_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the mutual-kNN graph, 5 power iterations UNROLLED
    into one declarative plan (pr_{{k+1}} = 0.15/N + 0.85 * sum of
    neighbor pr/deg) — the iterative-graph-algorithm shape (like q55's
    k-means) expressed so Catalyst sees the whole dataflow: each
    iteration is a (join edge list -> partial-agg groupBy -> left join
    nodes) stage, all on the node key, so one co-partitioning carries
    every iteration at scale; the O(|V|) rank-ratio/contrib frames
    join under a MEASURED size gate (_gated_broadcast: broadcast while
    the counted rows provably fit, AQE-decided shuffle join beyond the
    gate — never a forced unbounded hint), and the 1/N teleport scalar
    is a literal derived from the gate's own count. Fixed iteration
    count keeps it SQL-expressible — the oracle replays the identical
    five stages as chained CTEs."""
    edges = _edges(spark, sf_dir)
    return pagerank_from_edges(_vecs(spark, sf_dir), edges)


def pagerank_from_edges(vecs: DataFrame, edges: DataFrame) -> DataFrame:
    """PageRank body on an (id_a < id_b) undirected edge frame.

    Extracted from q164 (plan-identical for the exact feeder) so the
    exact mutual-kNN graph (_edges, via cosine_topk) and a
    bucketed-ANN candidate graph (operators/similarity.
    knn_candidate_edges_bucketed -> mutualized) share one consumer —
    the lof_from_knn_edges / kcore_from_knn_edges seam idiom
    (VERDICT r10 item 3).  ``vecs`` needs vec_id (node universe).
    """
    # Eager-pin the symmetric edge list: it is consumed by the degree
    # aggregation plus every one of the 5 unrolled iterations, and
    # un-pinned the whole mutual-kNN kernel subtree replicates per
    # iteration at PLAN level (r12 measurement: 233 KB initial plan,
    # 266 Exchanges — AQE reuses the exchanges at runtime, but
    # planning itself becomes a cost; guide S3.3).  The edge list is
    # k*N bounded, so materializing it is cheap at any scale (same
    # argument as kcore_from_knn_edges).
    sym = pin_frame(
        edges.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        ).unionByName(
            edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
    )
    deg = pin_frame(
        sym.groupBy(F.col("src").alias("node")).agg(
            F.count("*").alias("deg")
        )
    )
    # Measured row counts over the two pinned frames gate the
    # per-iteration broadcasts (see _gated_broadcast): deg and each
    # iteration's pr/contrib are all O(|V|)-grain, and |V| <= n_deg
    # rows with degree + the isolated remainder of the node universe.
    n_deg = deg.count()
    degb = _gated_broadcast(deg, n_deg)
    # pin the node universe too (N longs — the r12 plan_dup_audit
    # flagged the un-pinned projection re-planned in all 5 iteration
    # bodies, each pulling its own scan of the vector source); the
    # N scalar and the gate count both derive from the pin, so the
    # source is scanned exactly once for the node side
    nodes = pin_frame(vecs.select(F.col("vec_id").alias("node")))
    n_nodes = nodes.count()
    # n_nodes is already materialized for the broadcast gate, so the
    # 1/N and teleport scalars are plain literals (identical IEEE
    # doubles to the former per-iteration crossJoin(broadcast(agg)) —
    # same dividend, same long divisor, same double division), which
    # removes 5 SinglePartition aggregate exchanges + 5 broadcast
    # builds from the unrolled plan (guide S2.2).
    pr = nodes.select("node", F.lit(1.0 / n_nodes).alias("pr"))
    teleport = (1.0 - _Q164_D) / n_nodes
    for _ in range(_Q164_ITERS):
        # fold deg into the rank frame at NODE grain (inner join —
        # sym.src only holds nodes with degree, so dropping isolated
        # nodes here changes nothing): each edge row then probes ONE
        # broadcast hash table carrying the precomputed pr/deg ratio
        # instead of two (pr AND deg).  The per-edge value is the
        # identical double — the division just happens once per node
        # instead of once per edge row (guide S3.3, S2.3).
        rd = pr.join(degb, "node").select(
            "node", (F.col("pr") / F.col("deg")).alias("r")
        )
        contrib = (
            sym.join(_gated_broadcast(rd, n_deg), sym.src == rd.node)
            .groupBy(F.col("dst").alias("cnode"))
            .agg(F.sum("r").alias("c"))
        )
        contrib = _gated_broadcast(contrib, n_deg)
        pr = nodes.join(contrib, nodes.node == contrib.cnode, "left").select(
            "node",
            (
                F.lit(teleport) + _Q164_D * F.coalesce("c", F.lit(0.0))
            ).alias("pr"),
        )
    return pr.select("node", prnd("pr", 8).alias("pagerank"))


# ---------------------------------------------------------------------------
# q165 triangle counting
# ---------------------------------------------------------------------------


@query(
    "q165_triangle_count",
    oracle=f"""
    WITH {_EDGES_CTE},
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT node, count(*) AS n_triangles
    FROM corners GROUP BY node
    """,
)
def q165_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the mutual-kNN graph — the local
    clustering signal (communities vs hub noise) and the classic
    multiway self-join: with edges canonically ordered (a < b), each
    triangle a<b<c is found EXACTLY once via two equi-joins (wedge
    a-b-c, closure a-c). Join input is the edge list (k-bounded, so
    O(kN)); the heavy-hitter risk is a high-degree node's wedge set —
    at scale the standard mitigation keeps the canonical ordering by
    DEGREE (low-degree first), which this operator's ordering hook
    accepts; corner counting is a partial-agg groupBy."""
    e = _edges(spark, sf_dir)
    e1 = e.select(F.col("id_a").alias("x"), F.col("id_b").alias("y"))
    e2 = e.select(F.col("id_a").alias("y"), F.col("id_b").alias("z"))
    e3 = e.select(F.col("id_a").alias("x"), F.col("id_b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionByName(tri.select(F.col("y").alias("node")))
        .unionByName(tri.select(F.col("z").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").alias("n_triangles"))


# ---------------------------------------------------------------------------
# q167 kNN classification metrics (precision / recall / F1)
# ---------------------------------------------------------------------------


@query(
    "q167_knn_eval",
    oracle=f"""
    WITH {_VECS_CTE},
    q AS (SELECT * FROM e WHERE vec_id % 10 = 0),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS actual,
             c.label AS nbr_label,
             {o_rnd(_COS, 6)} AS cos_sim, c.vec_id AS vec_id
      FROM q JOIN e c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    ),
    votes AS (
      SELECT query_id, actual, nbr_label, count(*) AS v
      FROM ranked WHERE rank <= {_Q143_K}
      GROUP BY query_id, actual, nbr_label
    ),
    pred AS (
      SELECT query_id, actual,
             first(nbr_label ORDER BY v DESC, nbr_label ASC) AS predicted
      FROM votes GROUP BY query_id, actual
    ),
    cls AS (SELECT DISTINCT label FROM e),
    m AS (
      SELECT cls.label,
             count(*) FILTER (WHERE p.actual = cls.label) AS n_actual,
             count(*) FILTER (WHERE p.predicted = cls.label) AS n_predicted,
             count(*) FILTER (WHERE p.actual = cls.label
                              AND p.predicted = cls.label) AS tp
      FROM cls CROSS JOIN pred p
      GROUP BY cls.label
    )
    SELECT label, n_actual, n_predicted, tp,
           {o_rnd('CASE WHEN n_predicted > 0 THEN CAST(tp AS DOUBLE) / n_predicted ELSE 0.0 END', 6)} AS precision,
           {o_rnd('CASE WHEN n_actual > 0 THEN CAST(tp AS DOUBLE) / n_actual ELSE 0.0 END', 6)} AS recall
    FROM m
    """,
)
def q167_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation on top of kNN majority vote (argmax of
    neighbor-label counts, smallest label on ties): per-class
    precision and recall over a 10% deterministic query sample — the
    eval table every embedding-quality iteration reads.

    Composes q50's scorer; everything after the top-k is count
    arithmetic on (query, label) rows. The class list is a distinct of
    the label column (tiny, broadcast); metrics are exact integer
    ratios rounded on the portable grid."""
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") % 10 == 0)
    topk = cosine_topk(vecs, queries, k=_Q143_K)
    q_lbl = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("actual")
    )
    c_lbl = vecs.select("vec_id", F.col("label").alias("nbr_label"))
    votes = (
        topk.join(c_lbl, "vec_id")
        .join(F.broadcast(q_lbl), "query_id")
        .groupBy("query_id", "actual", "nbr_label")
        .agg(F.count("*").alias("v"))
    )
    pred = votes.groupBy("query_id", "actual").agg(
        F.min_by(
            "nbr_label", F.struct((F.col("v") * -1).alias("nv"), F.col("nbr_label"))
        ).alias("predicted")
    )
    cls = vecs.select("label").distinct()
    m = (
        F.broadcast(cls)
        .crossJoin(pred)
        .groupBy("label")
        .agg(
            F.count(F.when(F.col("actual") == F.col("label"), 1)).alias(
                "n_actual"
            ),
            F.count(F.when(F.col("predicted") == F.col("label"), 1)).alias(
                "n_predicted"
            ),
            F.count(
                F.when(
                    (F.col("actual") == F.col("label"))
                    & (F.col("predicted") == F.col("label")),
                    1,
                )
            ).alias("tp"),
        )
    )
    prec = F.when(
        F.col("n_predicted") > 0,
        F.col("tp").cast("double") / F.col("n_predicted"),
    ).otherwise(F.lit(0.0))
    rec = F.when(
        F.col("n_actual") > 0, F.col("tp").cast("double") / F.col("n_actual")
    ).otherwise(F.lit(0.0))
    return m.select(
        "label",
        "n_actual",
        "n_predicted",
        "tp",
        prnd(prec, 6).alias("precision"),
        prnd(rec, 6).alias("recall"),
    )


# ---------------------------------------------------------------------------
# q170 per-dimension embedding statistics (drift monitor)
# ---------------------------------------------------------------------------

_Q170_DIMS = 8  # monitored head dimensions


@query(
    "q170_embedding_dim_stats",
    oracle=f"""
    WITH {_VECS_CTE},
    x AS (
      SELECT label, i AS dim, v[i] AS val
      FROM (
        SELECT label, v, unnest(generate_series(1, {_Q170_DIMS})) AS i
        FROM e
      )
    )
    SELECT label, dim,
           count(*) AS n,
           {o_rnd('sum(val) / count(*)', 6)} AS mean,
           {o_rnd('sqrt(sum(val * val) / count(*) - (sum(val) / count(*)) * (sum(val) / count(*)))', 6)} AS std
    FROM x GROUP BY label, dim
    """,
)
def q170_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class, per-dimension embedding statistics (mean/std over
    the first 8 dims) — the drift monitor that catches encoder
    regressions and class collapse between embedding versions.

    Dimensions explode map-side from the array (bounded: 8 rows per
    vector); one partial-agg groupBy on (label, dim) carries algebraic
    sums only. Variance via sum/sumsq in the SAME expression order in
    both engines, so the gate hash-checks a moment computation."""
    vecs = _vecs(spark, sf_dir)
    x = vecs.select(
        "label",
        F.posexplode(F.slice("v", 1, _Q170_DIMS)).alias("dim0", "val"),
    ).select("label", (F.col("dim0") + 1).alias("dim"), "val")
    n = F.count("*")
    s1 = F.sum("val")
    s2 = F.sum(F.col("val") * F.col("val"))
    return x.groupBy("label", "dim").agg(
        n.alias("n"),
        prnd(s1 / n, 6).alias("mean"),
        prnd(F.sqrt(s2 / n - (s1 / n) * (s1 / n)), 6).alias("std"),
    )


# ---------------------------------------------------------------------------
# q188 centroid-distance outlier screen
# ---------------------------------------------------------------------------

_Q188_Z = 2.0


@query(
    "q188_centroid_outliers",
    oracle=f"""
    WITH {_VECS_CTE},
    x AS (
      SELECT label, vec_id, i AS dim, v[i] AS val
      FROM (SELECT label, vec_id, v,
                   unnest(generate_series(1, 64)) AS i FROM e)
    ),
    cent AS (SELECT label, dim, avg(val) AS c FROM x GROUP BY label, dim),
    dist AS (
      SELECT x.vec_id, x.label,
             sqrt(sum((x.val - cent.c) * (x.val - cent.c))) AS d
      FROM x JOIN cent USING (label, dim)
      GROUP BY x.vec_id, x.label
    ),
    st AS (
      SELECT label, avg(d) AS mu, stddev_pop(d) AS sd FROM dist GROUP BY label
    )
    SELECT dist.vec_id, dist.label,
           {o_rnd('d', 4)} AS dist,
           {o_rnd('(d - mu) / sd', 4)} AS z,
           CAST((d - mu) / sd > {_Q188_Z} AS INT) AS is_outlier
    FROM dist JOIN st USING (label)
    """,
)
def q188_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance outlier screen: each embedding's Euclidean
    distance to its OWN label centroid, z-scored within the label,
    |z| beyond 2 flagged — the mislabeled-example / junk-cluster
    pruner (the prune half of SemDeDup-style curation: q101 removes
    redundancy, this removes off-manifold points).

    Centroids via per-(label, dim) partial-agg means (q84's shape);
    distances re-aggregate the SAME exploded frame joined to the
    broadcast centroid table — two groupBys and a tiny stats join, no
    pairwise anything."""
    vecs = _vecs(spark, sf_dir)
    x = vecs.select(
        "label",
        "vec_id",
        F.posexplode("v").alias("dim0", "val"),
    ).select("label", "vec_id", (F.col("dim0") + 1).alias("dim"), "val")
    cent = x.groupBy("label", "dim").agg(F.avg("val").alias("c"))
    dist = (
        x.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(
                F.sum((F.col("val") - F.col("c")) * (F.col("val") - F.col("c")))
            ).alias("d")
        )
    )
    st = dist.groupBy("label").agg(
        F.avg("d").alias("mu"), F.stddev_pop("d").alias("sd")
    )
    z = (F.col("d") - F.col("mu")) / F.col("sd")
    return dist.join(F.broadcast(st), "label").select(
        "vec_id",
        "label",
        prnd("d", 4).alias("dist"),
        prnd(z, 4).alias("z"),
        (z > _Q188_Z).cast("int").alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# q209 vector normalization audit
# ---------------------------------------------------------------------------


@query(
    "q209_vector_normalize",
    oracle=f"""
    WITH {_VECS_CTE},
    n AS (
      SELECT vec_id, sqrt(list_dot_product(v, v)) AS norm, v FROM e
    )
    SELECT vec_id,
           {o_rnd('norm', 6)} AS norm,
           CAST(norm = 0.0 AS INT) AS is_degenerate,
           {o_rnd('CASE WHEN norm > 0.0 THEN v[1] / norm END', 6)} AS u0,
           {o_rnd('CASE WHEN norm > 0.0 THEN v[2] / norm END', 6)} AS u1,
           {o_rnd('CASE WHEN norm > 0.0 THEN sqrt(list_dot_product(list_transform(v, x -> x / norm), list_transform(v, x -> x / norm))) END', 6)} AS unit_norm
    FROM n
    """,
)
def q209_vector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization with audit: each embedding's norm, a
    degenerate (zero-vector) flag, the first two unit components as
    hash-checked witnesses, and the re-computed norm of the normalized
    vector (must be 1 within rounding) — the preprocessing step ALL
    cosine machinery assumes, surfaced as its own audited operator.

    Map-only (zip_with/aggregate dot products, no shuffle); the same
    sequential accumulation as the oracle's list_dot_product."""
    vecs = _vecs(spark, sf_dir)

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    n = vecs.select(
        "vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("norm")
    )
    unit = F.transform("v", lambda x: x / F.col("norm"))
    return n.select(
        "vec_id",
        prnd("norm", 6).alias("norm"),
        (F.col("norm") == 0.0).cast("int").alias("is_degenerate"),
        prnd(
            F.when(F.col("norm") > 0.0, F.element_at("v", 1) / F.col("norm")),
            6,
        ).alias("u0"),
        prnd(
            F.when(F.col("norm") > 0.0, F.element_at("v", 2) / F.col("norm")),
            6,
        ).alias("u1"),
        prnd(
            F.when(F.col("norm") > 0.0, F.sqrt(dot(unit, unit))), 6
        ).alias("unit_norm"),
    )


# ---------------------------------------------------------------------------
# q210 top principal component (unrolled power iteration)
# ---------------------------------------------------------------------------

_Q210_ITERS = 5
_Q210_D = 64


def _q210_oracle() -> str:
    parts = [
        f"""x AS (
      SELECT vec_id, i AS dim, v[i] AS val
      FROM (SELECT vec_id, v, unnest(generate_series(1, {_Q210_D})) AS i FROM e)
    ),
    mu AS (SELECT dim, avg(val) AS m FROM x GROUP BY dim),
    xc AS (
      SELECT x.vec_id, x.dim, x.val - mu.m AS val
      FROM x JOIN mu USING (dim)
    ),
    nn AS (SELECT count(*) AS n FROM e),
    cov AS (
      SELECT a.dim AS di, b.dim AS dj,
             sum(a.val * b.val) / (max(nn.n) - 1) AS cij
      FROM xc a JOIN xc b ON a.vec_id = b.vec_id
      CROSS JOIN nn
      GROUP BY a.dim, b.dim
    ),
    w0 AS (SELECT unnest(generate_series(1, {_Q210_D})) AS dim,
                  1.0 / {float(_Q210_D) ** 0.5} AS w)"""
    ]
    for i in range(1, _Q210_ITERS + 1):
        parts.append(
            f"""y{i} AS (
      SELECT cov.di AS dim, sum(cov.cij * w.w) AS y
      FROM cov JOIN w{i - 1} w ON w.dim = cov.dj
      GROUP BY cov.di
    ),
    nrm{i} AS (SELECT sqrt(sum(y * y)) AS s FROM y{i}),
    w{i} AS (SELECT dim, y / nrm{i}.s AS w FROM y{i} CROSS JOIN nrm{i})"""
        )
    body = ",\n    ".join(parts)
    return f"""
    WITH {_VECS_CTE},
    {body}
    SELECT w.dim AS dim,
           {o_rnd('sign(w2.w) * w.w', 5)} AS pc1,
           {o_rnd('nrm{it}.s'.format(it=_Q210_ITERS), 4)} AS eigenvalue
    FROM w{_Q210_ITERS} w
    CROSS JOIN nrm{_Q210_ITERS}
    CROSS JOIN (SELECT w AS w FROM w{_Q210_ITERS} WHERE dim = 1) w2
    """


@query("q210_pca_power_iteration", oracle=_q210_oracle())
def q210_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud via 5 UNROLLED
    power iterations on the sample covariance (q164's iterative-
    dataflow pattern applied to linear algebra): center per dim,
    form the d x d covariance as a per-vector outer-product aggregate
    (map-side partial sums — the data is touched once; only d^2 cells
    shuffle), then five matrix-vector multiply + renormalize stages
    over the TINY d x d table. Sign fixed by the first component so
    both engines land the same eigenvector orientation; the final
    vector norm before normalization estimates the top eigenvalue."""
    vecs = _vecs(spark, sf_dir)
    x = vecs.select(
        "vec_id", F.posexplode("v").alias("dim0", "val")
    ).select("vec_id", (F.col("dim0") + 1).alias("dim"), "val")
    mu = x.groupBy("dim").agg(F.avg("val").alias("m"))
    # r5: the d x d covariance partials come from a BLAS kernel — the
    # exploded (vec_id, dim, val) self-join shuffles |V| * d^2 rows
    # (20M at sf0.1, 23 s); the kernel emits one centered X^T X block
    # per Arrow batch instead (map-side, d^2 cells per batch), the
    # same per-group-partial-sums law as q351's MMD kernel.
    import numpy as np
    import pandas as pd

    from ..sources.readers import spread_small_scan

    mu_rows = mu.orderBy("dim").collect()
    mu_vec = np.array([r["m"] for r in mu_rows], dtype="float64")
    bc_mu = spark.sparkContext.broadcast(mu_vec)

    def cov_partials(batches):
        m = bc_mu.value
        d = len(m)
        di, dj = np.meshgrid(
            np.arange(1, d + 1), np.arange(1, d + 1), indexing="ij"
        )
        for pdf in batches:
            xm = np.stack(
                [np.asarray(v, dtype="float64") for v in pdf["v"]]
            ) - m[None, :]
            block = xm.T @ xm
            yield pd.DataFrame(
                {
                    "di": di.reshape(-1),
                    "dj": dj.reshape(-1),
                    "s": block.reshape(-1),
                }
            )

    nn = vecs.agg(F.count("*").alias("n"))
    partials = spread_small_scan(vecs.select("v")).mapInPandas(
        cov_partials, schema="di long, dj long, s double"
    )
    cov = (
        partials.crossJoin(F.broadcast(nn))
        .groupBy("di", "dj")
        .agg((F.sum("s") / (F.max("n") - 1)).alias("cij"))
        # d^2 rows, consumed by all five unrolled iterations + the
        # final select: pin one materialization or every iteration
        # re-runs the covariance pass over the corpus
        .transform(pin_frame_lazy)
    )
    # The five matvec+renormalize stages run on the DRIVER over the
    # collected d x d table (4096 doubles — the scalar/codebook-
    # bounded-collect allowance): as unrolled DataFrame stages each
    # iteration scheduled 4 tiny jobs and the chain cost ~8 s of pure
    # overhead at any sf.  The distributed work (the covariance pass
    # over the corpus) is untouched.
    cov_rows = cov.collect()
    C = np.zeros((_Q210_D, _Q210_D), dtype="float64")
    for r in cov_rows:
        C[r["di"] - 1, r["dj"] - 1] = r["cij"]
    wv = np.full(_Q210_D, 1.0 / float(_Q210_D) ** 0.5, dtype="float64")
    s = 0.0
    for _ in range(_Q210_ITERS):
        y = C @ wv
        s = float(np.sqrt(np.sum(y * y)))
        wv = y / s
    sign = 1.0 if wv[0] >= 0 else -1.0

    def _prnd(x: float, d: int) -> float:
        return float(np.floor(x * 10**d + 0.5001) / 10**d)

    out = [
        (i + 1, _prnd(sign * wv[i], 5), _prnd(s, 4))
        for i in range(_Q210_D)
    ]
    return spark.createDataFrame(
        out, "dim long, pc1 double, eigenvalue double"
    )


# ---------------------------------------------------------------------------
# q212 diagonal-Mahalanobis outlier screen
# ---------------------------------------------------------------------------


@query(
    "q212_mahalanobis_diag",
    oracle=f"""
    WITH {_VECS_CTE},
    x AS (
      SELECT label, vec_id, i AS dim, v[i] AS val
      FROM (SELECT label, vec_id, v,
                   unnest(generate_series(1, 64)) AS i FROM e)
    ),
    st AS (
      SELECT label, dim, avg(val) AS m, stddev_pop(val) AS sd
      FROM x GROUP BY label, dim
    ),
    d AS (
      SELECT x.vec_id, x.label,
             sqrt(sum(CASE WHEN st.sd > 0.0
                           THEN ((x.val - st.m) / st.sd) * ((x.val - st.m) / st.sd)
                           ELSE 0.0 END)) AS md
      FROM x JOIN st USING (label, dim)
      GROUP BY x.vec_id, x.label
    )
    SELECT vec_id, label,
           {o_rnd('md', 4)} AS mahalanobis,
           CAST(md > sqrt(64.0) + 2.0 AS INT) AS is_outlier
    FROM d
    """,
)
def q212_mahalanobis_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-Mahalanobis outlier screen: per-dimension z-scores
    aggregated into a whitened distance — unlike q188's raw Euclidean,
    a HIGH-VARIANCE dimension can't dominate (each dim contributes in
    its own units). Chi distribution heuristics put typical points
    near sqrt(d); the flag fires past sqrt(64)+2.

    Same two-groupBy shape as q188 with (mean, std) stats instead of
    centroids; zero-variance dims contribute nothing (guarded
    identically in both engines)."""
    vecs = _vecs(spark, sf_dir)
    x = vecs.select(
        "label", "vec_id", F.posexplode("v").alias("dim0", "val")
    ).select("label", "vec_id", (F.col("dim0") + 1).alias("dim"), "val")
    st = x.groupBy("label", "dim").agg(
        F.avg("val").alias("m"), F.stddev_pop("val").alias("sd")
    )
    z2 = F.when(
        F.col("sd") > 0.0,
        ((F.col("val") - F.col("m")) / F.col("sd"))
        * ((F.col("val") - F.col("m")) / F.col("sd")),
    ).otherwise(F.lit(0.0))
    d = (
        x.join(F.broadcast(st), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(F.sqrt(F.sum(z2)).alias("md"))
    )
    import math

    thr = math.sqrt(64.0) + 2.0
    return d.select(
        "vec_id",
        "label",
        prnd("md", 4).alias("mahalanobis"),
        (F.col("md") > thr).cast("int").alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# q231 hybrid retrieval: BM25 + cosine fused by reciprocal rank (RRF)
# ---------------------------------------------------------------------------

_RRF_K = 60  # Cormack et al. (SIGIR'09) smoothing constant
_RRF_DEPTH = 50  # per-channel candidate depth
_RRF_TOPN = 10


def _q231_oracle() -> str:
    from .text_q import _bm25_oracle

    return f"""
    WITH lex AS (
      SELECT doc_id, rank AS lex_rank
      FROM ({_bm25_oracle()}) WHERE rank <= {_RRF_DEPTH}
    ),
    {_VECS_CTE.lstrip()},
    q AS (SELECT * FROM e WHERE vec_id = 0),
    sem0 AS (
      SELECT c.vec_id AS doc_id,
             CAST(row_number() OVER (
               ORDER BY {o_rnd(_COS, 6)} DESC, c.vec_id) AS INTEGER) AS sem_rank
      FROM q JOIN e c ON c.vec_id <> q.vec_id
    ),
    sem AS (SELECT * FROM sem0 WHERE sem_rank <= {_RRF_DEPTH}),
    fused AS (
      SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
             lex.lex_rank, sem.sem_rank,
             {o_rnd(f'coalesce(1.0 / ({_RRF_K} + lex.lex_rank), 0.0) + coalesce(1.0 / ({_RRF_K} + sem.sem_rank), 0.0)', 6)} AS rrf_score
      FROM lex FULL OUTER JOIN sem ON sem.doc_id = lex.doc_id
    )
    SELECT doc_id, lex_rank, sem_rank, rrf_score,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS fused_rank
    FROM fused
    QUALIFY fused_rank <= {_RRF_TOPN}
    """


@query("q231_rrf_fusion", oracle=_q231_oracle())
def q231_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, the RAG-serving shape: fuse the lexical BM25
    channel (q75's scorer, fixed term query) with the semantic cosine
    channel (q50's kernel, query = vector 0) by reciprocal-rank fusion
    (Cormack et al., SIGIR'09: score = sum 1/(60+rank), depth 50 per
    channel) and emit the top 10 — documents and embeddings share ids,
    so this is the engine's end-to-end answer to "retrieve with both
    indexes and merge".

    Each channel keeps its own scale-safe plan (term-filtered posting
    explode; broadcast query matmul); the fusion is a full outer join
    of two DEPTH-row lists — driver-scale regardless of corpus size.
    Rank arithmetic is integer-derived float division, bit-identical
    across engines; the oracle replays both channels and the fusion in
    one SQL statement."""
    from ..operators.retrieval import bm25_scores
    from .text_q import _BM25_B, _BM25_K1, _BM25_TERMS

    docs = table(spark, sf_dir, "documents")
    scored = bm25_scores(docs, list(_BM25_TERMS), _BM25_K1, _BM25_B)
    from pyspark.sql import Window as W

    lex = (
        scored.withColumn("bm25", prnd(F.col("bm25"), 6))
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("bm25").desc(), "doc_id"))
            .alias("lex_rank"),
        )
        .filter(F.col("lex_rank") <= _RRF_DEPTH)
    )
    vecs = _vecs(spark, sf_dir)
    sem = (
        cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=_RRF_DEPTH)
        .select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("sem_rank"))
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        prnd(
            F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("sem_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number()
            .over(W.orderBy(F.col("rrf_score").desc(), "doc_id"))
            .cast("int"),
        )
        .filter(F.col("fused_rank") <= _RRF_TOPN)
    )


# ---------------------------------------------------------------------------
# q232 MMR diversified rerank (greedy, unrolled)
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_POOL = 20  # relevance candidate pool
_MMR_K = 5  # selections


def _q232_oracle() -> str:
    head = f"""
    WITH {_VECS_CTE.lstrip()},
    q AS (SELECT * FROM e WHERE vec_id = 0),
    cand AS (
      SELECT c.vec_id, {o_rnd(_COS, 6)} AS rel
      FROM q JOIN e c ON c.vec_id <> q.vec_id
      ORDER BY rel DESC, c.vec_id LIMIT {_MMR_POOL}
    ),
    sims AS (
      SELECT qa.vec_id AS ia, qb.vec_id AS ib, {o_rnd(_COS_AB, 6)} AS sim
      FROM cand a JOIN e qa ON qa.vec_id = a.vec_id
      JOIN cand b ON b.vec_id <> a.vec_id
      JOIN e qb ON qb.vec_id = b.vec_id
    ),
    s1 AS (SELECT vec_id, 1 AS step FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
    sel1 AS (SELECT * FROM s1)"""
    parts = [head]
    for t in range(2, _MMR_K + 1):
        parts.append(f""",
    p{t} AS (
      SELECT c.vec_id,
             {o_rnd(f'{_MMR_LAMBDA} * c.rel - {round(1 - _MMR_LAMBDA, 4)} * max(s.sim)', 6)} AS score
      FROM cand c
      JOIN sims s ON s.ia = c.vec_id
      JOIN sel{t - 1} pv ON pv.vec_id = s.ib
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
      GROUP BY c.vec_id, c.rel
    ),
    s{t} AS (SELECT vec_id, {t} AS step FROM p{t} ORDER BY score DESC, vec_id LIMIT 1),
    sel{t} AS (SELECT * FROM sel{t - 1} UNION ALL SELECT * FROM s{t})""")
    parts.append(f"""
    SELECT CAST(step AS INTEGER) AS step, s.vec_id, c.rel
    FROM sel{_MMR_K} s JOIN cand c ON c.vec_id = s.vec_id
    """)
    return "".join(parts)


@query("q232_mmr_diversify", oracle=_q232_oracle())
def q232_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein,
    SIGIR'98): from the top-20 cosine candidates for query vector 0,
    greedily select 5 — each step takes the item maximizing
    0.7*relevance - 0.3*max-similarity-to-already-selected — the
    diversification pass a RAG serving stack runs so the context
    window isn't five paraphrases of one document.

    Greedy selection is inherently sequential, but each step only
    touches the CANDIDATE pool (20 rows), so the plan unrolls the 5
    steps as declarative stages over driver-free tiny frames: the
    corpus-scale work (relevance top-20 via q50's broadcast-matmul
    kernel) happens once; the 20x20 pairwise sim table and every
    argmax are bounded by the pool size, not the corpus. The oracle
    replays the identical unrolled greedy with rounded scores, so the
    gate hash-checks an iterative-algorithm trace."""
    from pyspark.sql import Window as W

    from ..operators.similarity import cosine

    vecs = _vecs(spark, sf_dir)
    qv = vecs.filter(F.col("vec_id") == 0)
    cand = (
        cosine_topk(vecs, qv, k=_MMR_POOL)
        .select("vec_id", F.col("cos_sim").alias("rel"))
    )
    ca = cand.select(F.col("vec_id").alias("ia"))
    cb = cand.select(F.col("vec_id").alias("ib"))
    # semi-reduce the corpus to the MMR_POOL candidate vectors FIRST
    # (broadcast side = the tiny pool id list), so the frames that DO
    # get broadcast into the pool^2 pair join are pool-bounded — never
    # the full (vec_id, vector) corpus, which at 100 TB would blow the
    # 8 GiB broadcast ceiling (VERDICT r11 plan finding)
    va = (
        vecs.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
        .join(F.broadcast(ca), "ia")
    )
    vb = (
        vecs.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
        .join(F.broadcast(cb), "ib")
    )
    sims = (
        ca.join(cb, F.col("ia") != F.col("ib"))
        .join(F.broadcast(va), "ia")
        .join(F.broadcast(vb), "ib")
        .select("ia", "ib", prnd(cosine(F.col("va"), F.col("vb")), 6).alias("sim"))
    )
    sims = sims.transform(pin_frame)  # pool^2 rows; reused 4x
    cand = cand.transform(pin_frame)
    top1 = W.orderBy(F.col("rel").desc(), "vec_id")
    sel = (
        cand.withColumn("_rn", F.row_number().over(top1))
        .filter(F.col("_rn") == 1)
        .select("vec_id", F.lit(1).alias("step"))
    )
    for t in range(2, _MMR_K + 1):
        pen = (
            cand.join(sel.select("vec_id"), "vec_id", "left_anti")
            .join(sims, F.col("vec_id") == F.col("ia"))
            .join(
                sel.select(F.col("vec_id").alias("ib")).hint("broadcast"),
                "ib",
            )
            .groupBy("vec_id", "rel")
            .agg(F.max("sim").alias("maxsim"))
            .select(
                "vec_id",
                prnd(
                    F.lit(_MMR_LAMBDA) * F.col("rel")
                    - F.lit(round(1 - _MMR_LAMBDA, 4)) * F.col("maxsim"),
                    6,
                ).alias("score"),
            )
        )
        byscore = W.orderBy(F.col("score").desc(), "vec_id")
        pick = (
            pen.withColumn("_rn", F.row_number().over(byscore))
            .filter(F.col("_rn") == 1)
            .select("vec_id", F.lit(t).alias("step"))
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel.join(cand, "vec_id").select(
        F.col("step").cast("int").alias("step"), "vec_id", "rel"
    )


# ---------------------------------------------------------------------------
# q239 retrieval quality: NDCG@10 of the exact cosine ranking
# ---------------------------------------------------------------------------

_NDCG_K = 10


def _q239_oracle() -> str:
    return f"""
    WITH {_VECS_CTE.lstrip()},
    q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS qlabel, c.vec_id, c.label,
             {o_rnd(_COS, 6)} AS cos_sim
      FROM q JOIN e c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, qlabel, label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    ),
    dcg AS (
      SELECT query_id, any_value(qlabel) AS qlabel,
             sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS n_rel_top,
             sum(CASE WHEN label = qlabel
                      THEN 1.0 / log2(CAST(rank + 1 AS DOUBLE)) ELSE 0.0 END) AS dcg
      FROM ranked WHERE rank <= {_NDCG_K}
      GROUP BY query_id
    ),
    rel AS (
      SELECT q.vec_id AS query_id, count(*) AS n_rel
      FROM q JOIN e c ON c.label = q.label AND c.vec_id <> q.vec_id
      GROUP BY q.vec_id
    ),
    ideal AS (
      SELECT r.query_id,
             sum(1.0 / log2(CAST(i + 1 AS DOUBLE))) AS idcg
      FROM rel r CROSS JOIN LATERAL (
        SELECT unnest(range(1, least(r.n_rel, {_NDCG_K}) + 1)) AS i
      ) g
      GROUP BY r.query_id
    )
    SELECT d.query_id,
           CAST(r.n_rel AS BIGINT) AS n_rel_corpus,
           CAST(d.n_rel_top AS BIGINT) AS n_rel_top10,
           {o_rnd('d.dcg', 6)} AS dcg,
           {o_rnd('i.idcg', 6)} AS idcg,
           {o_rnd('d.dcg / i.idcg', 6)} AS ndcg
    FROM dcg d JOIN rel r USING (query_id) JOIN ideal i USING (query_id)
    """


@query("q239_ndcg_eval", oracle=_q239_oracle())
def q239_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the exact cosine retrieval (q50's ranking) against
    label relevance — the GRADED ranking metric that closes the
    retrieval-eval family (q167 scores the classifier's hit rate;
    this scores WHERE in the list the hits land, log2-discounted, so
    rank 1 is worth ~3x rank 9). Ideal DCG normalizes by the best
    achievable list given how many relevant items exist.

    The ranking is q50's broadcast-matmul kernel; both DCG terms are
    conditional sums over the k-row-per-query top lists, and the
    ideal list needs no sort — it's a sequence explode of
    min(n_rel, 10) — so the evaluation costs one groupBy over tiny
    frames on top of the retrieval itself."""
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") % 50 == 0)
    top = cosine_topk(vecs, queries, k=_NDCG_K)
    labels = vecs.select("vec_id", "label")
    qlab = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    ranked = (
        top.join(F.broadcast(labels), "vec_id")
        .join(F.broadcast(qlab), "query_id")
    )
    is_rel = (F.col("label") == F.col("qlabel")).cast("int")
    dcg = ranked.groupBy("query_id").agg(
        F.sum(is_rel).alias("n_rel_top"),
        F.sum(
            F.when(
                F.col("label") == F.col("qlabel"),
                1.0 / F.log2((F.col("rank") + 1).cast("double")),
            ).otherwise(0.0)
        ).alias("dcg"),
    )
    rel = (
        qlab.join(
            labels.select(F.col("vec_id").alias("cid"), "label"),
            F.col("label") == F.col("qlabel"),
        )
        .filter(F.col("cid") != F.col("query_id"))
        .groupBy("query_id")
        .agg(F.count("*").alias("n_rel"))
    )
    ideal = rel.select(
        "query_id",
        "n_rel",
        F.explode(
            F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(_NDCG_K)))
        ).alias("i"),
    ).groupBy("query_id", "n_rel").agg(
        F.sum(1.0 / F.log2((F.col("i") + 1).cast("double"))).alias("idcg")
    )
    return (
        dcg.join(ideal, "query_id")
        .select(
            "query_id",
            F.col("n_rel").cast("long").alias("n_rel_corpus"),
            F.col("n_rel_top").cast("long").alias("n_rel_top10"),
            prnd("dcg", 6).alias("dcg"),
            prnd("idcg", 6).alias("idcg"),
            prnd(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
        )
    )


# ---------------------------------------------------------------------------
# q253 BFS reachability (3 hops over the mutual-kNN graph)
# ---------------------------------------------------------------------------

_Q253_SEED = 0
_Q253_HOPS = 3


def _q253_oracle() -> str:
    head = f"""
    WITH {_VECS_CTE.lstrip()},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {o_rnd(_COS, 6)} AS cos_sim
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    ),
    knn AS (SELECT query_id, vec_id FROM ranked WHERE rank <= 10),
    mutual AS (
      SELECT ab.query_id AS id_a, ab.vec_id AS id_b
      FROM knn ab JOIN knn ba
        ON ba.query_id = ab.vec_id AND ba.vec_id = ab.query_id
      WHERE ab.query_id < ab.vec_id
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM mutual
      UNION ALL SELECT id_b, id_a FROM mutual
    ),
    f0 AS (SELECT CAST({_Q253_SEED} AS BIGINT) AS vec_id, 0 AS hop),
    v0 AS (SELECT vec_id FROM f0)"""
    parts = [head]
    for h in range(1, _Q253_HOPS + 1):
        parts.append(f""",
    f{h} AS (
      SELECT DISTINCT e.v AS vec_id, {h} AS hop
      FROM edges e JOIN f{h - 1} f ON f.vec_id = e.u
      WHERE e.v NOT IN (SELECT vec_id FROM v{h - 1})
    ),
    v{h} AS (SELECT vec_id FROM v{h - 1} UNION ALL SELECT vec_id FROM f{h})""")
    unions = " UNION ALL ".join(
        f"SELECT * FROM f{h}" for h in range(_Q253_HOPS + 1)
    )
    parts.append(f"""
    SELECT vec_id, CAST(hop AS INTEGER) AS hop FROM ({unions})
    """)
    return "".join(parts)


@query("q253_bfs_reachability", oracle=_q253_oracle())
def q253_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability, 3 hops from a seed vector over the
    mutual-kNN graph (q143's edges) — frontier expansion with visited
    pruning, the traversal primitive behind "find everything
    transitively similar" (contamination spreading through near-dup
    chains, q48's clusters seen incrementally from one node).

    Each hop is one equi join frontier x edges + one anti join
    against the visited set — per-hop cost scales with the FRONTIER,
    not the graph, and the visited set is a checkpointed id list.
    The frontier can approach the reachable set (O(|V|)) by hop 3,
    so its per-hop join is broadcast only under a MEASURED row-count
    gate (_gated_broadcast over the previous hop's checkpointed
    count): early tiny frontiers broadcast even at 100 TB, and the
    moment a frontier outgrows the gate it falls back to an
    AQE-decided shuffle join instead of a forced hint that would hit
    the 8 GiB ceiling at scale.
    The oracle unrolls identical frontier CTEs; minimum-hop
    uniqueness holds by construction (a node enters exactly one
    frontier), so the trace hash-checks the traversal order itself."""
    vecs = _vecs(spark, sf_dir)
    knn = cosine_topk(vecs, _vecs(spark, sf_dir), k=10).select(
        F.col("query_id").alias("id_a"), F.col("vec_id").alias("id_b")
    )
    rev = knn.select(
        F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
    )
    mutual = knn.join(rev, ["id_a", "id_b"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    edges = (
        mutual.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionByName(
            mutual.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
        )
        .transform(pin_frame)
    )
    frontier = (
        vecs.sparkSession.range(1)
        .select(
            F.lit(_Q253_SEED).cast("long").alias("vec_id"),
            F.lit(0).alias("hop"),
        )
    )
    visited = frontier.select("vec_id")
    out = [frontier]
    # per-hop measured gates: each hop's frontier is eagerly
    # checkpointed, so its exact row count is a cheap local-block
    # count — broadcast the frontier/visited sets into the edge join
    # while they provably fit (early hops, even at 100 TB), shuffle
    # join once they approach the reachable set (_gated_broadcast)
    n_front, n_vis = 1, 1
    for h in range(1, _Q253_HOPS + 1):
        nxt = (
            edges.join(
                _gated_broadcast(
                    frontier.select(F.col("vec_id").alias("u")), n_front
                ),
                "u",
            )
            .select(F.col("v").alias("vec_id"))
            .distinct()
            .join(_gated_broadcast(visited, n_vis), "vec_id", "left_anti")
            .select("vec_id", F.lit(h).alias("hop"))
            .localCheckpoint(eager=True)
        )
        n_front = nxt.count()
        n_vis += n_front
        out.append(nxt)
        visited = visited.unionByName(nxt.select("vec_id")).localCheckpoint(
            eager=True
        )
        frontier = nxt
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res.select("vec_id", F.col("hop").cast("int").alias("hop"))


# ---------------------------------------------------------------------------
# q303 per-label covariance matrices (whitening inputs, d x d per class)
# ---------------------------------------------------------------------------

_Q303_DIMS = 8  # leading subspace materialized (full d x d = same plan)


@query(
    "q303_covariance_matrix",
    oracle=f"""
    WITH {_VECS_CTE},
    cells AS (
      SELECT label, gi.i AS i, gj.j AS j,
             v[gi.i] AS xi, v[gj.j] AS xj
      FROM e
      CROSS JOIN (SELECT unnest(range(1, {_Q303_DIMS + 1})) AS i) gi
      CROSS JOIN (SELECT unnest(range(1, {_Q303_DIMS + 1})) AS j) gj
      WHERE gj.j >= gi.i
    )
    SELECT label, CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
           CAST(count(*) AS BIGINT) AS n,
           {o_rnd('avg(xi * xj) - avg(xi) * avg(xj)', 6)} AS cov
    FROM cells GROUP BY label, i, j
    """,
)
def q303_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class covariance matrix materialization (upper triangle of
    the leading 8x8 subspace; the full d x d runs the identical
    plan): the input every whitening / Mahalanobis / LDA step needs —
    q212 used the DIAGONAL only; the off-diagonal cells are what
    catch correlated drift between embedding dimensions.

    The matrix is an outer-product aggregation (q210's covariance
    law, done per label): each vector explodes its dim-pair grid
    map-side, and one partial-agg groupBy reduces (label, i, j)
    cells — data crosses the shuffle as d^2 running sums per label,
    never as vectors. Symmetry halves the explode."""
    vecs = _vecs(spark, sf_dir)
    pairs = vecs.select(
        "label",
        F.explode(
            F.sequence(F.lit(1), F.lit(_Q303_DIMS))
        ).alias("i"),
        "v",
    ).select(
        "label",
        "i",
        F.explode(F.sequence(F.col("i"), F.lit(_Q303_DIMS))).alias("j"),
        F.element_at("v", F.col("i")).alias("xi"),
        F.element_at("v", F.col("j")).alias("xj"),
    )
    return pairs.groupBy(
        "label",
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
    ).agg(
        F.count("*").cast("long").alias("n"),
        prnd(
            F.avg(F.col("xi") * F.col("xj"))
            - F.avg("xi") * F.avg("xj"),
            6,
        ).alias("cov"),
    )


# ---------------------------------------------------------------------------
# q314 k-core decomposition (bounded peeling) on the mutual-kNN graph
# ---------------------------------------------------------------------------

_Q314_KNN, _Q314_CORE_K, _Q314_ROUNDS = 10, 8, 4


def _q314_oracle() -> str:
    parts = [
        _VECS_CTE.strip(),
        f"""scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {o_rnd(_COS, 6)} AS cos_sim
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
    )""",
        f"""ranked AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    )""",
        f"knn AS (SELECT * FROM ranked WHERE rank <= {_Q314_KNN})",
        """mut AS (
      SELECT ab.query_id AS a, ab.vec_id AS b
      FROM knn ab JOIN knn ba
        ON ba.query_id = ab.vec_id AND ba.vec_id = ab.query_id
      WHERE ab.query_id < ab.vec_id
    )""",
        "dir0 AS (SELECT a AS src, b AS dst FROM mut UNION ALL SELECT b, a FROM mut)",
        "d0 AS (SELECT src, count(*) AS c FROM dir0 GROUP BY src)",
    ]
    prev_dir = "dir0"
    for r in range(1, _Q314_ROUNDS + 1):
        deg = "d0" if r == 1 else f"dg{r - 1}"
        parts.append(
            f"a{r} AS (SELECT src FROM {deg} WHERE c >= {_Q314_CORE_K})"
        )
        parts.append(
            f"""dir{r} AS (
      SELECT p.src, p.dst FROM {prev_dir} p
      JOIN a{r} s ON p.src = s.src JOIN a{r} t ON p.dst = t.src
    )"""
        )
        if r < _Q314_ROUNDS:
            parts.append(
                f"dg{r} AS (SELECT src, count(*) AS c FROM dir{r} GROUP BY src)"
            )
        prev_dir = f"dir{r}"
    parts.append(
        f"dcore AS (SELECT src, count(*) AS c FROM {prev_dir} GROUP BY src)"
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT e.vec_id,
           CAST(coalesce(d0.c, 0) AS INTEGER) AS deg0,
           CAST(a{_Q314_ROUNDS}.src IS NOT NULL AS INT) AS in_core,
           CAST(dcore.c AS INTEGER) AS deg_core
    FROM e
    LEFT JOIN d0 ON d0.src = e.vec_id
    LEFT JOIN a{_Q314_ROUNDS} ON a{_Q314_ROUNDS}.src = e.vec_id
    LEFT JOIN dcore ON dcore.src = e.vec_id
    """
    )


@query("q314_kcore_decomposition", oracle=_q314_oracle())
def q314_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=8, 4 bounded rounds) on the mutual-kNN graph:
    each round drops every node whose degree in the surviving subgraph
    is below k, the standard density filter that isolates the
    tightly-connected "core" a near-dup or community analysis keeps
    (mutual-kNN rejects hub edges first, q143; k-core then rejects
    weakly-embedded nodes). Bounded rounds make the iteration
    deterministic and SQL-replayable (the q48 label-prop convention —
    full convergence is the same loop run to fixpoint with a
    checkpoint per round at scale).

    Execution: edges come from q50's exact top-k kernel + one reversed
    equi self-join (k*N rows, never N^2); each peel round is a groupBy
    degree count + two left-semi joins on the survivor set — O(|V|)
    in early rounds, so the semi joins are broadcast only under a
    MEASURED row-count gate (_gated_broadcast; beyond it they fall
    back to AQE-decided shuffle joins — never a forced unbounded
    hint). Output: every vector with its mutual degree, core
    membership after 4 rounds, and its degree inside the core."""
    from ..operators.similarity import cosine_topk

    vecs = _vecs(spark, sf_dir)
    topk = cosine_topk(vecs, vecs, k=_Q314_KNN)
    knn = topk.select("query_id", "vec_id", "rank")
    return kcore_from_knn_edges(vecs, knn, _Q314_CORE_K, _Q314_ROUNDS)


def kcore_from_knn_edges(
    nodes: DataFrame, knn: DataFrame, core_k: int, rounds: int
) -> DataFrame:
    """k-core peeling on the mutual graph of a directed kNN edge frame.

    ``knn`` needs columns (query_id, vec_id) — each row one directed
    top-k edge; ``nodes`` needs vec_id (the full id universe for the
    final left joins).  Extracted from q314 (plan-identical for the
    exact feeder) so the exact kernel (cosine_topk) and the
    bucketed-ANN scale path (operators/similarity.
    knn_candidate_edges_bucketed, renamed pid/nid -> query_id/vec_id)
    share one consumer — the same seam lof_from_knn_edges provides for
    LOF (VERDICT r10 item 3).  Peeling sensitivity to candidate recall
    is measured in tests/test_plans.py::test_bucketed_kcore_stability.
    """
    # mutualization by ONE canonical-pair aggregation (r12, guide
    # S2.2/S2.3): a pair is mutual iff its (least, greatest) group
    # holds both directions — count == 2 is exact because kNN rows
    # are unique per direction and self-edges are kernel-excluded.
    # The previous reversed self equi-join (+ redundant distinct)
    # shuffled the k*N edge list twice; this shuffles it once with
    # map-side partial aggregation.
    mut = (
        knn.select(
            F.least("query_id", "vec_id").alias("a"),
            F.greatest("query_id", "vec_id").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") == 2)
        .select("a", "b")
    )
    dir0 = mut.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        mut.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    # truncate lineage once before the loop and once per round: each
    # round references the previous round's edges three times (degree
    # count + two semi joins), so an un-checkpointed loop grows the
    # logical plan ~3^rounds — the checkpoint is the standard guard
    # for iterative graph passes (q48 convention), and the edge list
    # is k*N bounded so materializing it is cheap at any scale.
    # d0 is derived AFTER the checkpoint so the mutual-join kernel
    # materializes exactly once (deriving it before gave d0 an
    # independent lineage whose checkpoint re-ran the kernel).
    dir0 = dir0.localCheckpoint(eager=False)
    d0 = dir0.groupBy("src").agg(F.count("*").alias("c")).localCheckpoint(
        eager=False
    )
    # the survivor set is bounded by the degree-table row count; the
    # count (over the just-checkpointed frame) feeds the per-round
    # broadcast gate
    n0 = d0.count()
    edges, deg = dir0, d0
    alive = None
    for _ in range(rounds):
        alive = deg.filter(F.col("c") >= core_k).select("src")
        edges = (
            edges.join(_gated_broadcast(alive, n0), "src", "left_semi")
            .join(
                _gated_broadcast(
                    alive.select(F.col("src").alias("dst")), n0
                ),
                "dst",
                "left_semi",
            )
            .localCheckpoint(eager=False)
        )
        deg = edges.groupBy("src").agg(F.count("*").alias("c"))
    # in_core is membership in the FINAL survivor set, not "has a
    # surviving edge": a round-4 survivor whose neighbors all fell in
    # round 4 is in the core with deg_core NULL (matches the oracle)
    core_nodes = alive
    dcore = deg.select("src", F.col("c").alias("deg_core"))
    return (
        nodes.select("vec_id")
        .join(
            _gated_broadcast(
                d0.select(
                    F.col("src").alias("vec_id"), F.col("c").alias("_d0")
                ),
                n0,
            ),
            "vec_id",
            "left",
        )
        .join(
            _gated_broadcast(
                core_nodes.select(
                    F.col("src").alias("vec_id"), F.lit(1).alias("_core")
                ),
                n0,
            ),
            "vec_id",
            "left",
        )
        .join(
            _gated_broadcast(
                dcore.select(F.col("src").alias("vec_id"), "deg_core"), n0
            ),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.coalesce(F.col("_d0"), F.lit(0)).cast("int").alias("deg0"),
            F.col("_core").isNotNull().cast("int").alias("in_core"),
            F.col("deg_core").cast("int").alias("deg_core"),
        )
    )


# ---------------------------------------------------------------------------
# q348 local outlier factor (LOF, k=10) over the embedding corpus
# ---------------------------------------------------------------------------

_LOF_K = 10


def _q348_oracle() -> str:
    k = _LOF_K
    return f"""
    WITH {_VECS_CTE},
    pairs AS (
      SELECT q.vec_id AS pid, c.vec_id AS nid,
             {o_rnd(f'1.0 - ({_COS})', 6)} AS dist
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT pid, nid, dist,
             row_number() OVER (PARTITION BY pid
                                ORDER BY dist, nid) AS rn
      FROM pairs
    ),
    knn AS (SELECT pid, nid, dist FROM ranked WHERE rn <= {k}),
    kd AS (SELECT pid, max(dist) AS kdist FROM knn GROUP BY pid),
    reach AS (
      SELECT knn.pid, knn.nid,
             greatest(kd.kdist, knn.dist) AS rdist
      FROM knn JOIN kd ON kd.pid = knn.nid
    ),
    lrd AS (
      SELECT pid, {k}.0 / sum(rdist) AS lrd FROM reach GROUP BY pid
    ),
    lof AS (
      SELECT knn.pid,
             avg(ln.lrd) / any_value(lp.lrd) AS lof
      FROM knn
      JOIN lrd ln ON ln.pid = knn.nid
      JOIN lrd lp ON lp.pid = knn.pid
      GROUP BY knn.pid
    )
    SELECT l.pid AS vec_id,
           {o_rnd('kd.kdist', 6)} AS k_distance,
           {o_rnd('lp.lrd', 6)} AS lrd,
           {o_rnd('l.lof', 6)} AS lof
    FROM lof l
    JOIN kd ON kd.pid = l.pid
    JOIN lrd lp ON lp.pid = l.pid
    WHERE l.pid % 5 = 0
    """


def lof_from_knn_edges(knn: DataFrame, k: int) -> DataFrame:
    """LOF scores from ANY (pid, nid, dist) kNN edge frame.

    This is the consumer half of the q348 split: it only sees edges,
    so the exact kernel (knn_dist_edges) and the bucketed-ANN scale
    path (knn_candidate_edges_bucketed) are interchangeable inputs —
    the swap SCALE.md's "exact-kNN edges law" prescribes, exercised by
    tests/test_plans.py::test_bucketed_knn_edge_recall.  All joins are
    equi-joins on vec_id with k-bounded fan-out.

    r12 pins (guide S2.4/S3.3): the edge frame feeds THREE consumers
    (k-distance agg, reachability join, LOF join) and un-pinned each
    consumer replans and re-executes the whole upstream kernel —
    plan-measured 8 parquet scans / 8 Python-eval nodes for one
    query.  The edge frame is k*N-bounded, so pinning it is cheap at
    any scale (the k-core/PageRank argument); lrd (one row per node)
    is pinned for the same reason — it feeds both sides of the LOF
    ratio plus the output join."""
    knn = knn.transform(pin_frame)
    kd = knn.groupBy("pid").agg(F.max("dist").alias("kdist"))
    reach = knn.join(
        kd.select(F.col("pid").alias("nid"), "kdist"), "nid"
    ).select(
        "pid", "nid", F.greatest("kdist", "dist").alias("rdist")
    )
    lrd = reach.groupBy("pid").agg(
        (F.lit(float(k)) / F.sum("rdist")).alias("lrd")
    ).transform(pin_frame)
    lof = (
        knn.join(
            lrd.select(F.col("pid").alias("nid"), F.col("lrd").alias("lrd_n")),
            "nid",
        )
        .join(lrd, "pid")
        .groupBy("pid")
        .agg((F.avg("lrd_n") / F.any_value("lrd")).alias("lof"))
    )
    out = lof.join(kd, "pid").join(lrd, "pid").filter(F.col("pid") % 5 == 0)
    return out.select(
        F.col("pid").alias("vec_id"),
        prnd("kdist", 6).alias("k_distance"),
        prnd("lrd", 6).alias("lrd"),
        prnd("lof", 6).alias("lof"),
    )


@query("q348_lof_outliers", oracle=_q348_oracle())
def q348_lof_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local outlier factor (Breunig et al. 2000, k=10) over cosine
    distance on the embedding corpus — the DENSITY-RATIO outlier
    score: a point is anomalous if its local reachability density is
    low relative to its own neighbors', which catches outliers that
    q188's global centroid distance misses (a point can sit near the
    centroid yet be alone in its neighborhood, and a far-out but
    tight cluster is NOT anomalous). Distances are grid-quantized
    before ranking (deterministic (dist, nid) order), k-distances and
    reachability distances follow the paper exactly, and the final
    score is avg(lrd(neighbor))/lrd(point). The exact kNN edges come
    from the q50 BLAS kernel (broadcast normalized matrix + one
    matmul per Arrow batch, k smallest (dist, nid) emitted complete
    per row — operators/similarity.knn_dist_edges; the r5 rewrite of
    the theta-join all-pairs form that cost 75 s at sf0.1); at 100 TB
    you swap those edges for q52/q56's bucketed-ANN candidates and
    keep everything downstream unchanged — LOF only consumes
    (pid, nid, dist) edges. Joins after the kNN cut are equi-joins on
    vec_id, k-bounded fan-out."""
    from ..operators.similarity import knn_dist_edges

    e = _vecs(spark, sf_dir)
    return lof_from_knn_edges(knn_dist_edges(e, _LOF_K), _LOF_K)


# ---------------------------------------------------------------------------
# q351 kernel MMD two-sample test between embedding label groups
# ---------------------------------------------------------------------------


def _q351_oracle() -> str:
    return f"""
    WITH {_VECS_CTE},
    el AS (SELECT e.vec_id, e.v, emb.label
           FROM e JOIN embeddings emb ON emb.vec_id = e.vec_id),
    p AS (
      SELECT a.label AS la, b.label AS lb,
             {o_rnd('''list_dot_product(a.v, a.v)
                    - 2.0 * list_dot_product(a.v, b.v)
                    + list_dot_product(b.v, b.v)''', 9)} AS sqd
      FROM el a JOIN el b ON a.vec_id <> b.vec_id
    ),
    bw AS (SELECT 1.0 / avg(sqd) AS gamma FROM p),
    kmat AS (
      SELECT la, lb,
             avg(exp(-bw.gamma * sqd)) AS kbar,
             count(*) AS n_terms
      FROM p CROSS JOIN bw
      GROUP BY la, lb
    )
    SELECT xx.la AS label_a, yy.la AS label_b,
           CAST(xy.n_terms AS BIGINT) AS cross_terms,
           {o_rnd('xx.kbar + yy.kbar - 2.0 * xy.kbar', 8)} AS mmd2
    FROM kmat xx
    JOIN kmat yy ON xx.la = xx.lb AND yy.la = yy.lb AND xx.la < yy.la
    JOIN kmat xy ON xy.la = xx.la AND xy.lb = yy.la
    """


# MMD estimates saturate around ~10k points per group; 200k 64-d
# float64 vectors ≈ 100 MB broadcast — comfortably inside a default
# executor, and far past the point where more samples help the test.
_Q351_MAX_BROADCAST_ROWS = 200_000


@query("q351_mmd_two_sample", oracle=_q351_oracle())
def q351_mmd_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel maximum mean discrepancy (Gretton et al. 2012) between
    every pair of embedding label groups — the HIGH-DIMENSIONAL
    two-sample test: q343's Wasserstein and q193's KS compare scalar
    distributions, MMD compares distributions of 64-d vectors
    directly, which is how embedding-space dataset drift (new scrape
    vs old corpus) is actually detected in LLM data pipelines. RBF
    kernel with the mean-squared-distance bandwidth heuristic (one
    global 1-row frame, cross-joined); unbiased U-statistic terms
    from ordered i<>j pairs; MMD^2 = E[k(x,x')] + E[k(y,y')] -
    2E[k(x,y)]. Shape: ONE all-pairs kernel pass grouped by (label_a,
    label_b) — the n^2 is over the SAMPLE (500 here); at 100 TB you
    run it on a per-class reservoir (q237) since MMD estimates don't
    improve past ~10k points per group; downstream algebra is on the
    labels^2 table.

    r5 rewrite: the ordered-pair kernel sums come from a broadcast
    BLAS kernel (same law as q50/q348 — one matmul per Arrow batch,
    per-(label_a,label_b) PARTIAL sums emitted, never per-pair rows;
    the theta-join form cost 143 s at sf0.1, this runs in seconds).
    Pass 1 accumulates (n, sum_sqd) for the bandwidth heuristic;
    gamma is a scalar collect; pass 2 accumulates sum(exp(-gamma*
    sqd)).  Squared distances are grid-rounded (9dp) inside the
    kernel exactly like the oracle's pair CTE.

    Scale budget (VERDICT r5 item 8): the driver-side collect below
    IS the algorithm's broadcast matrix — its size is the stated
    memory budget, bounded by _Q351_MAX_BROADCAST_ROWS. A composed
    pipeline feeding more vectors than that must reservoir-cap per
    class first (q237's operator); the guard makes silent overflow
    impossible rather than slow."""
    import numpy as np
    import pandas as pd

    from ..sources.readers import spread_small_scan

    e = _vecs(spark, sf_dir)
    # Budget check and materialization in ONE pass: fetch at most
    # cap+1 rows — a count()-based precheck cost a second complete
    # scan/explode of the vectors source on every invocation.
    rows = (
        e.select("vec_id", "label", "v")
        .limit(_Q351_MAX_BROADCAST_ROWS + 1)
        .collect()
    )
    if len(rows) > _Q351_MAX_BROADCAST_ROWS:
        raise ValueError(
            f"q351 broadcast budget exceeded: >{_Q351_MAX_BROADCAST_ROWS}"
            " vectors; reservoir-cap per class (q237) before the MMD "
            "kernel"
        )
    all_ids = np.array([r[0] for r in rows], dtype="int64")
    all_lab = np.array([r[1] for r in rows], dtype="int64")
    mat = np.stack([np.asarray(r[2], dtype="float64") for r in rows])
    sqn = np.einsum("ij,ij->i", mat, mat)
    bc = spark.sparkContext.broadcast((all_ids, all_lab, mat, sqn))
    labels = np.unique(all_lab)
    lab_index = {int(l): i for i, l in enumerate(labels)}
    n_lab = len(labels)

    # r12 kernel vectorization (guide S4.2): the accumulation loop ran
    # per probe ROW (1024 per block) x per label, each step masking
    # the full corpus axis in interpreted numpy — O(rows * labels)
    # Python-level ops per block.  Replaced by two one-hot matmuls:
    # row-label^T @ (term @ col-label) gives every (la, lb) partial
    # sum in ONE BLAS pass, and the i<>j self-exclusion becomes a
    # diagonal correction (each probe's own corpus column, always its
    # own label class).  Same partial-sum semantics; per-term values
    # are identical (the grid rounding happens before accumulation),
    # only the summation ORDER changes — inside the 8dp output
    # rounding tolerance exactly like the distributed sum it feeds.
    def partials(batches, gamma=None):
        ids, lab, m, sn = bc.value
        # per-task setup derived from the broadcast (guide S4.5):
        # one-hot corpus label matrix, per-label column counts, and
        # the probe-id -> corpus-column map for the diagonal fix
        corpus_onehot = (lab[:, None] == labels[None, :]).astype("float64")
        corpus_counts = corpus_onehot.sum(axis=0).astype("int64")
        id_to_col = {int(v): i for i, v in enumerate(ids)}
        for pdf in batches:
            pm = np.stack([np.asarray(v, dtype="float64") for v in pdf["v"]])
            pids = pdf["vec_id"].to_numpy()
            plab = pdf["label"].to_numpy()
            for lo in range(0, len(pids), 1024):
                hi = min(lo + 1024, len(pids))
                blk = pm[lo:hi]
                bsq = np.einsum("ij,ij->i", blk, blk)
                sqd = bsq[:, None] - 2.0 * (blk @ m.T) + sn[None, :]
                sqd = np.floor(sqd * 1e9 + 0.5001) / 1e9
                term = np.exp(-gamma * sqd) if gamma is not None else sqd
                row_onehot = (
                    plab[lo:hi, None] == labels[None, :]
                ).astype("float64")
                acc = row_onehot.T @ (term @ corpus_onehot)
                row_counts = row_onehot.sum(axis=0).astype("int64")
                cnt = row_counts[:, None] * corpus_counts[None, :]
                # self-exclusion (i <> j): every probe row appears
                # exactly once in the corpus columns under its own
                # label, so subtract its diagonal term per row class
                self_col = np.array(
                    [id_to_col[int(p)] for p in pids[lo:hi]], dtype="int64"
                )
                diag = term[np.arange(hi - lo), self_col]
                for li in range(n_lab):
                    rows_li = plab[lo:hi] == labels[li]
                    n_li = int(rows_li.sum())
                    if n_li:
                        cnt[li, li] -= n_li
                        acc[li, li] -= float(diag[rows_li].sum())
                la_idx, lb_idx = np.nonzero(cnt)
                yield pd.DataFrame(
                    {
                        "la": labels[la_idx],
                        "lb": labels[lb_idx],
                        "n": cnt[la_idx, lb_idx],
                        "s": acc[la_idx, lb_idx],
                    }
                )

    src = spread_small_scan(e.select("vec_id", "label", "v"))
    schema = "la long, lb long, n long, s double"
    p1 = src.mapInPandas(lambda it: partials(it), schema=schema)
    tot = p1.agg(F.sum("n").alias("n"), F.sum("s").alias("ss")).collect()[0]
    gamma = float(tot["n"]) / float(tot["ss"])  # 1 / avg(sqd)
    p2 = src.mapInPandas(
        lambda it, g=gamma: partials(it, gamma=g), schema=schema
    )
    kmat = p2.groupBy("la", "lb").agg(
        (F.sum("s") / F.sum("n")).alias("kbar"),
        F.sum("n").alias("n_terms"),
    )
    xx = kmat.filter(F.col("la") == F.col("lb")).select(
        F.col("la").alias("label_a"), F.col("kbar").alias("kxx")
    )
    yy = kmat.filter(F.col("la") == F.col("lb")).select(
        F.col("la").alias("label_b"), F.col("kbar").alias("kyy")
    )
    xy = kmat.select(
        F.col("la").alias("label_a"),
        F.col("lb").alias("label_b"),
        F.col("kbar").alias("kxy"),
        F.col("n_terms").alias("cross_terms"),
    )
    return (
        xx.join(yy, F.col("label_a") < F.col("label_b"))
        .join(xy, ["label_a", "label_b"])
        .select(
            "label_a",
            "label_b",
            F.col("cross_terms").cast("long").alias("cross_terms"),
            prnd(
                F.col("kxx") + F.col("kyy") - 2.0 * F.col("kxy"), 8
            ).alias("mmd2"),
        )
    )


# ---------------------------------------------------------------------------
# q358 matryoshka truncation audit (prefix-dim cosine preservation)
# ---------------------------------------------------------------------------

_Q358_DIMS = (4, 8, 16, 32, 64)
_Q358_FULL = 64


def _q358_oracle() -> str:
    def cos(d: int) -> str:
        a = f"list_slice(a.v, 1, {d})"
        b = f"list_slice(b.v, 1, {d})"
        return (
            f"list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * "
            f"sqrt(list_dot_product({b}, {b})))"
        )

    branches = "\n      UNION ALL\n      ".join(
        f"SELECT {d} AS dim, {cos(d)} AS cos_d, {cos(_Q358_FULL)} AS cos_full"
        f" FROM pairs a JOIN e b ON b.vec_id = a.vec_id + 1"
        for d in _Q358_DIMS
    )
    return f"""
    WITH {_VECS_CTE},
    pairs AS (SELECT vec_id, v FROM e),
    c AS (
      {branches}
    )
    SELECT CAST(dim AS INTEGER) AS dim,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {o_rnd('avg(cos_d)', 6)} AS mean_cos,
           {o_rnd('avg(abs(cos_d - cos_full))', 6)} AS mean_abs_err,
           {o_rnd('max(abs(cos_d - cos_full))', 6)} AS max_abs_err
    FROM c GROUP BY dim
    """


@query("q358_matryoshka_audit", oracle=_q358_oracle())
def q358_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation audit (Kusupati et al. 2022): how well do
    PREFIX slices of the embedding (dims 4/8/16/32/64) preserve the
    full-dim cosine structure, measured on the deterministic
    adjacent-id pair sample — mean cosine, mean and max absolute
    cosine error per prefix width.  This is the retrieval-quality /
    storage-cost curve that decides how many dims the ANN index
    (q52/q56) actually needs; pairs with the error curve ARE the
    evidence for shipping a truncated index.

    Pair generation is an equi self-join on vec_id+1 (no sampling
    RNG, no cross join); every prefix cosine reuses the same joined
    row, so the corpus is scanned once and the audit's cost is
    |pairs| x |dims| arithmetic.  The dims fan-out is a per-row
    explode of the (dim, cos_d) struct array — r9 (plan_dup_audit):
    the original union-of-selects shape re-planned the scan + cast
    projection per dim branch (5x in the final plan; the "Catalyst
    collapses the scan" assumption was wrong), while the explode
    keeps one scan and one join with identical per-row arithmetic."""
    e = _vecs(spark, sf_dir)
    a = e.select(F.col("vec_id"), F.col("v").alias("va"))
    b = e.select(
        (F.col("vec_id") - 1).alias("vec_id"), F.col("v").alias("vb")
    )
    pairs = a.join(b, "vec_id")

    def cos(d: int) -> "F.Column":
        from ..operators.similarity import cosine

        return cosine(F.slice("va", 1, d), F.slice("vb", 1, d))

    u = pairs.withColumn("cos_full", cos(_Q358_FULL)).select(
        "cos_full",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("dim"), cos(d).alias("cos_d")
                    )
                    for d in _Q358_DIMS
                ]
            )
        ).alias("s"),
    ).select(
        F.col("s.dim").alias("dim"),
        F.col("s.cos_d").alias("cos_d"),
        "cos_full",
    )
    return u.groupBy("dim").agg(
        F.count("*").cast("long").alias("n_pairs"),
        prnd(F.avg("cos_d"), 6).alias("mean_cos"),
        prnd(F.avg(F.abs(F.col("cos_d") - F.col("cos_full"))), 6).alias(
            "mean_abs_err"
        ),
        prnd(F.max(F.abs(F.col("cos_d") - F.col("cos_full"))), 6).alias(
            "max_abs_err"
        ),
    ).select(
        F.col("dim").cast("int").alias("dim"),
        "n_pairs", "mean_cos", "mean_abs_err", "max_abs_err",
    )


# ---------------------------------------------------------------------------
# q368 linear CKA between embedding halves (representation redundancy)
# ---------------------------------------------------------------------------

_Q368_P = 16  # dims per view: X = dims 1..16, Y = dims 49..64


def _q368_oracle() -> str:
    p = _Q368_P
    src = f"CASE WHEN {{g}} <= {p} THEN {{g}} ELSE {{g}} + {64 - 2 * p} END"
    xi = f"v[{src.format(g='gi.d')}]"
    xj = f"v[{src.format(g='gj.d')}]"
    return f"""
    WITH {_VECS_CTE},
    g AS (SELECT unnest(range(1, {2 * p + 1})) AS d),
    cells AS (
      SELECT gi.d AS i, gj.d AS j,
             avg({xi} * {xj}) - avg({xi}) * avg({xj}) AS c
      FROM e CROSS JOIN g gi CROSS JOIN g gj
      GROUP BY gi.d, gj.d
    ),
    a AS (
      SELECT sum(CASE WHEN i <= {p} AND j > {p} THEN c * c END) AS num,
             sum(CASE WHEN i <= {p} AND j <= {p} THEN c * c END) AS dxx,
             sum(CASE WHEN i > {p} AND j > {p} THEN c * c END) AS dyy
      FROM cells
    )
    SELECT CAST({p} AS INTEGER) AS dims_per_view,
           CAST((SELECT count(*) FROM e) AS BIGINT) AS n_vecs,
           {o_rnd('num / sqrt(dxx * dyy)', 6)} AS cka,
           {o_rnd('sqrt(num)', 6)} AS fro_xy,
           {o_rnd('sqrt(dxx)', 6)} AS fro_xx,
           {o_rnd('sqrt(dyy)', 6)} AS fro_yy
    FROM a
    """


@query("q368_cka_alignment", oracle=_q368_oracle())
def q368_cka_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear CKA (centered kernel alignment, Kornblith et al. 2019)
    between two views of the embedding — the leading 16 dims vs the
    trailing 16 — the representation-redundancy audit: CKA near 1
    means the tail dims re-encode the head (truncation is safe, cf.
    q358's matryoshka audit, which measures per-PAIR cosine drift;
    CKA measures the SUBSPACE overlap in one scalar).  Feature form:
    CKA = ||Cov_xy||_F^2 / (||Cov_xx||_F ||Cov_yy||_F), covariances
    centered algebraically (avg(xy) - avg(x)avg(y), q303's law).

    Scale shape: the dim-pair grid explodes map-side (32x32 cells per
    vector), one partial-agg groupBy reduces (i, j) cells — data
    crosses the shuffle as d^2 running sums, never as vectors — and
    the final CKA is a scalar fold over the 1024-cell frame.  No
    n x n kernel matrix is ever formed (the feature-space identity
    makes gram-CKA's O(n^2) unnecessary)."""
    p = _Q368_P
    vecs = _vecs(spark, sf_dir)
    src = lambda g: F.when(g <= p, g).otherwise(g + (64 - 2 * p))
    cells = (
        vecs.select(
            F.explode(F.sequence(F.lit(1), F.lit(2 * p))).alias("i"), "v"
        )
        .select(
            "i",
            F.explode(F.sequence(F.lit(1), F.lit(2 * p))).alias("j"),
            F.element_at("v", src(F.col("i"))).alias("xi"),
            F.element_at("v", src(F.col("j"))).alias("xj"),
        )
        .groupBy("i", "j")
        .agg(
            (
                F.avg(F.col("xi") * F.col("xj"))
                - F.avg("xi") * F.avg("xj")
            ).alias("c")
        )
    )
    c2 = F.col("c") * F.col("c")
    a = cells.agg(
        F.sum(F.when((F.col("i") <= p) & (F.col("j") > p), c2)).alias("num"),
        F.sum(F.when((F.col("i") <= p) & (F.col("j") <= p), c2)).alias("dxx"),
        F.sum(F.when((F.col("i") > p) & (F.col("j") > p), c2)).alias("dyy"),
    )
    n = vecs.agg(F.count("*").cast("long").alias("n_vecs"))
    return a.crossJoin(F.broadcast(n)).select(
        F.lit(p).cast("int").alias("dims_per_view"),
        "n_vecs",
        prnd(F.col("num") / F.sqrt(F.col("dxx") * F.col("dyy")), 6).alias("cka"),
        prnd(F.sqrt("num"), 6).alias("fro_xy"),
        prnd(F.sqrt("dxx"), 6).alias("fro_xx"),
        prnd(F.sqrt("dyy"), 6).alias("fro_yy"),
    )


# ---------------------------------------------------------------------------
# q372 label modularity on the mutual-kNN graph
# ---------------------------------------------------------------------------


def _q372_oracle() -> str:
    return f"""
    WITH {_VECS_CTE},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {o_rnd(_COS, 6)} AS cos_sim
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    ),
    knn AS (SELECT query_id, vec_id FROM ranked WHERE rank <= {_Q143_K}),
    mut AS (
      SELECT ab.query_id AS id_a, ab.vec_id AS id_b
      FROM knn ab JOIN knn ba
        ON ba.query_id = ab.vec_id AND ba.vec_id = ab.query_id
      WHERE ab.query_id < ab.vec_id
    ),
    lab AS (SELECT vec_id, label FROM embeddings),
    ed AS (
      SELECT la.label AS label_a, lb.label AS label_b
      FROM mut JOIN lab la ON la.vec_id = mut.id_a
               JOIN lab lb ON lb.vec_id = mut.id_b
    ),
    mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM ed),
    degs AS (
      SELECT label, CAST(count(*) AS BIGINT) AS deg_sum
      FROM (
        SELECT label_a AS label FROM ed
        UNION ALL SELECT label_b AS label FROM ed
      ) GROUP BY label
    ),
    nodes AS (SELECT label, count(*) AS n_nodes FROM lab GROUP BY label),
    intra AS (
      SELECT label_a AS label, count(*) AS internal_edges
      FROM ed WHERE label_a = label_b GROUP BY label_a
    ),
    per AS (
      SELECT n.label, n.n_nodes,
             coalesce(i.internal_edges, 0) AS internal_edges,
             coalesce(d.deg_sum, 0) AS deg_sum,
             coalesce(i.internal_edges, 0) / mm.m AS e_share,
             coalesce(d.deg_sum, 0) / (2.0 * mm.m) AS a_share
      FROM nodes n
      LEFT JOIN intra i ON i.label = n.label
      LEFT JOIN degs d ON d.label = n.label
      CROSS JOIN mm
    )
    SELECT CAST(label AS INTEGER) AS label,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(internal_edges AS BIGINT) AS internal_edges,
           CAST(deg_sum AS BIGINT) AS deg_sum,
           {o_rnd('e_share', 6)} AS e_share,
           {o_rnd('a_share', 6)} AS a_share,
           {o_rnd('e_share - a_share * a_share', 6)} AS q_contrib,
           {o_rnd('sum(e_share - a_share * a_share) OVER ()', 6)} AS q_total
    FROM per
    """


@query("q372_label_modularity", oracle=_q372_oracle())
def q372_label_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LABEL partition on the mutual-kNN
    graph: per community c, Q_c = e_c/m - (deg_c/2m)^2 and the total
    Q — the standard 'do the labels match the geometry' score that
    complements q254 (silhouette-style centroid cohesion) with a
    GRAPH-side verdict, and grades any clustering (swap labels for
    q55's k-means assignment) without touching distances twice.

    Composes the shared mutual-kNN edge list (broadcast-matrix BLAS
    kernel + one canonical-pair mutualization shuffle — never N^2
    rows; r12: reads the pinned _edges frame instead of re-deriving
    q143's full attribute frame and dropping the attributes) with
    label lookups that are two joins keyed on vec_id, then pure
    per-label partial aggs; the modularity fold is over a
    #labels-row frame with a single global window (tiny,
    post-aggregate — the q355 scalar law)."""
    edges = _edges(spark, sf_dir)
    lab = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    ed = (
        edges.join(
            lab.select(
                F.col("vec_id").alias("id_a"),
                F.col("label").alias("label_a"),
            ),
            "id_a",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("id_b"),
                F.col("label").alias("label_b"),
            ),
            "id_b",
        )
        .select("label_a", "label_b")
    )
    mm = ed.agg(F.count("*").cast("double").alias("m"))
    degs = (
        ed.select(F.col("label_a").alias("label"))
        .unionAll(ed.select(F.col("label_b").alias("label")))
        .groupBy("label")
        .agg(F.count("*").cast("long").alias("deg_sum"))
    )
    nodes = lab.groupBy("label").agg(F.count("*").alias("n_nodes"))
    intra = (
        ed.filter(F.col("label_a") == F.col("label_b"))
        .groupBy(F.col("label_a").alias("label"))
        .agg(F.count("*").alias("internal_edges"))
    )
    per = (
        nodes.join(intra, "label", "left")
        .join(degs, "label", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            "label",
            "n_nodes",
            F.coalesce("internal_edges", F.lit(0)).alias("internal_edges"),
            F.coalesce("deg_sum", F.lit(0)).alias("deg_sum"),
            (F.coalesce("internal_edges", F.lit(0)) / F.col("m")).alias(
                "e_share"
            ),
            (
                F.coalesce("deg_sum", F.lit(0)) / (F.lit(2.0) * F.col("m"))
            ).alias("a_share"),
        )
    )
    qc = F.col("e_share") - F.col("a_share") * F.col("a_share")
    return per.select(
        F.col("label").cast("int").alias("label"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("internal_edges").cast("long").alias("internal_edges"),
        F.col("deg_sum").cast("long").alias("deg_sum"),
        prnd("e_share", 6).alias("e_share"),
        prnd("a_share", 6).alias("a_share"),
        prnd(qc, 6).alias("q_contrib"),
        prnd(
            F.sum(qc).over(W.partitionBy(F.lit(1))), 6
        ).alias("q_total"),
    )


# ---------------------------------------------------------------------------
# q380 hubness audit (k-occurrence skew of the kNN graph)
# ---------------------------------------------------------------------------

_Q380_TOP = 10


def _q380_oracle() -> str:
    return f"""
    WITH {_VECS_CTE},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {o_rnd(_COS, 6)} AS cos_sim
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    ),
    knn AS (SELECT query_id, vec_id FROM ranked WHERE rank <= {_Q143_K}),
    occ AS (
      SELECT e.vec_id, e.label, coalesce(k.nk, 0) AS nk
      FROM (SELECT vec_id, label FROM embeddings) e
      LEFT JOIN (SELECT vec_id, count(*) AS nk FROM knn GROUP BY vec_id) k
        USING (vec_id)
    ),
    mom AS (
      SELECT avg(CAST(nk AS DOUBLE)) AS mu,
             avg(CAST(nk AS DOUBLE) * nk) AS m2r,
             avg(CAST(nk AS DOUBLE) * nk * nk) AS m3r,
             max(nk) AS mx,
             count(*) FILTER (WHERE nk = 0) AS n_antihubs
      FROM occ
    ),
    stats AS (
      SELECT mu, mx, n_antihubs,
             m2r - mu * mu AS v,
             m3r - 3 * mu * m2r + 2 * mu * mu * mu AS m3
      FROM mom
    ),
    top AS (
      SELECT vec_id, label, nk,
             row_number() OVER (ORDER BY nk DESC, vec_id) AS rk
      FROM occ
    )
    SELECT CAST(t.rk AS INTEGER) AS rk,
           CAST(t.vec_id AS BIGINT) AS vec_id,
           CAST(t.label AS INTEGER) AS label,
           CAST(t.nk AS BIGINT) AS n_k,
           {o_rnd('s.mu', 6)} AS mean_nk,
           {o_rnd('s.m3 / pow(s.v, 1.5)', 4)} AS nk_skewness,
           CAST(s.mx AS BIGINT) AS max_nk,
           CAST(s.n_antihubs AS BIGINT) AS n_antihubs
    FROM top t CROSS JOIN stats s
    WHERE t.rk <= {_Q380_TOP}
    """


@query("q380_hubness_audit", oracle=_q380_oracle())
def q380_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the kNN graph (Radovanovic et al. 2010): the
    k-occurrence N_k(x) = how many vectors count x among their top-10
    — in high dimensions N_k grows heavy-tailed (hubs dominate every
    neighbor list, anti-hubs vanish), which silently corrupts kNN
    label votes (q53) and ANN recall targets (q215).  Reports the
    N_k skewness (the standard hubness statistic), max, anti-hub
    count, and the top-10 hubs with labels.

    Scale shape: reuses q50's broadcast-BLAS top-k kernel for the
    edge list (k*N rows), then ONE groupBy on the neighbor id + a
    left join from the id table (anti-hubs must count as zeros);
    moments are a scalar fold broadcast back (q355 law).  The top-10
    window is a partial top-k at scale (q18 law)."""
    vecs = _vecs(spark, sf_dir)
    knn = cosine_topk(vecs, _vecs(spark, sf_dir), k=_Q143_K)
    ids = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    occ = (
        ids.join(
            knn.groupBy("vec_id").agg(F.count("*").alias("nk")),
            "vec_id",
            "left",
        )
        .select(
            "vec_id", "label",
            F.coalesce("nk", F.lit(0)).cast("long").alias("nk"),
        )
    )
    nkd = F.col("nk").cast("double")
    mom = occ.agg(
        F.avg(nkd).alias("mu"),
        F.avg(nkd * nkd).alias("m2r"),
        F.avg(nkd * nkd * nkd).alias("m3r"),
        F.max("nk").alias("mx"),
        F.count(F.when(F.col("nk") == 0, 1)).alias("n_antihubs"),
    )
    stats = mom.select(
        "mu", "mx", "n_antihubs",
        (F.col("m2r") - F.col("mu") * F.col("mu")).alias("v"),
        (
            F.col("m3r")
            - 3 * F.col("mu") * F.col("m2r")
            + 2 * F.col("mu") * F.col("mu") * F.col("mu")
        ).alias("m3"),
    )
    # TakeOrdered (distributed partial top-k), then rank the 10-row
    # result — never a global window over the full id frame
    top = (
        occ.orderBy(F.col("nk").desc(), "vec_id")
        .limit(_Q380_TOP)
        .select(
            "vec_id", "label", "nk",
            F.row_number()
            .over(W.orderBy(F.col("nk").desc(), "vec_id"))
            .alias("rk"),
        )
    )
    return top.crossJoin(F.broadcast(stats)).select(
        F.col("rk").cast("int").alias("rk"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("label").cast("int").alias("label"),
        F.col("nk").cast("long").alias("n_k"),
        prnd("mu", 6).alias("mean_nk"),
        prnd(F.col("m3") / F.pow("v", F.lit(1.5)), 4).alias("nk_skewness"),
        F.col("mx").cast("long").alias("max_nk"),
        F.col("n_antihubs").cast("long").alias("n_antihubs"),
    )


# ---------------------------------------------------------------------------
# q386 embedding-space drift between splits (sign-LSH histogram JS)
# ---------------------------------------------------------------------------

_Q386_BITS = 6   # 64 buckets
_Q386_DIM = 64


def _q386_plane(b: int, d: int) -> int:
    """Deterministic +-1 hyperplane weights shared by both engines."""
    return 1 if ((b * 37 + d * 13) % 5) < 2 else -1


def _q386_oracle() -> str:
    bits = []
    for b in range(_Q386_BITS):
        dot = " + ".join(
            f"({_q386_plane(b, d)}) * v[{d + 1}]" for d in range(_Q386_DIM)
        )
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << b} ELSE 0 END)")
    bucket = " + ".join(bits)
    kl = (
        "CASE WHEN {p} > 0 THEN {p} * ln({p} / (({p} + {q}) / 2.0)) "
        "ELSE 0.0 END"
    )
    return f"""
    WITH {_VECS_CTE},
    coded AS (
      SELECT vec_id % 2 AS grp, {bucket} AS bucket FROM e
    ),
    h AS (
      SELECT bucket,
             count(*) FILTER (WHERE grp = 0) AS ca,
             count(*) FILTER (WHERE grp = 1) AS cb
      FROM coded GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(ca) AS DOUBLE) AS na, CAST(sum(cb) AS DOUBLE) AS nb
      FROM h
    ),
    p AS (
      SELECT h.bucket, h.ca / t.na AS pa, h.cb / t.nb AS pb,
             t.na AS na, t.nb AS nb
      FROM h CROSS JOIN tot t
    )
    SELECT CAST(max(na) AS BIGINT) AS n_a,
           CAST(max(nb) AS BIGINT) AS n_b,
           CAST(count(*) AS BIGINT) AS buckets_used,
           {o_rnd("0.5 * sum(" + kl.format(p='pa', q='pb') + ") + 0.5 * sum(" + kl.format(p='pb', q='pa') + ")", 6)} AS js_divergence,
           {o_rnd('max(abs(pa - pb))', 6)} AS max_bucket_gap
    FROM p
    """


@query("q386_embedding_drift", oracle=_q386_oracle())
def q386_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between two halves of the corpus:
    quantize every vector to a 6-bit sign-LSH bucket (pinned +-1
    hyperplanes — the q52 code family with literal planes) and
    measure Jensen-Shannon divergence between the two splits' bucket
    histograms — a MAUVE-style distributional comparison that sees
    GEOMETRIC drift (a new embedding model, a new content cluster)
    which per-dimension stats (q170) and scalar-feature JS (q316)
    miss.  JS is symmetric and bounded by ln 2, so the number is
    comparable across runs; max_bucket_gap points at WHERE the space
    moved.

    Scale shape: the 64-dim dot products are codegen'd arithmetic in
    the scan (no UDF, no join); one 64-bucket groupBy with filtered
    counts and a broadcast scalar fold — a single shuffle of 64
    running pairs regardless of corpus size."""
    vecs = _vecs(spark, sf_dir)
    bucket = F.lit(0)
    for b in range(_Q386_BITS):
        dot = None
        for d in range(_Q386_DIM):
            term = F.lit(float(_q386_plane(b, d))) * F.element_at(
                "v", d + 1
            )
            dot = term if dot is None else dot + term
        bucket = bucket + F.when(dot >= 0, F.lit(1 << b)).otherwise(0)
    coded = vecs.select(
        (F.col("vec_id") % 2).alias("grp"), bucket.alias("bucket")
    )
    h = coded.groupBy("bucket").agg(
        F.count(F.when(F.col("grp") == 0, 1)).alias("ca"),
        F.count(F.when(F.col("grp") == 1, 1)).alias("cb"),
    )
    tot = h.agg(
        F.sum("ca").cast("double").alias("na"),
        F.sum("cb").cast("double").alias("nb"),
    )
    p = h.crossJoin(F.broadcast(tot)).select(
        (F.col("ca") / F.col("na")).alias("pa"),
        (F.col("cb") / F.col("nb")).alias("pb"),
        "na", "nb",
    )

    def kl(pc, qc):
        m = (F.col(pc) + F.col(qc)) / 2.0
        return F.when(
            F.col(pc) > 0, F.col(pc) * F.log(F.col(pc) / m)
        ).otherwise(0.0)

    return p.agg(
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        F.count("*").cast("long").alias("buckets_used"),
        prnd(
            F.lit(0.5) * F.sum(kl("pa", "pb"))
            + F.lit(0.5) * F.sum(kl("pb", "pa")),
            6,
        ).alias("js_divergence"),
        prnd(F.max(F.abs(F.col("pa") - F.col("pb"))), 6).alias(
            "max_bucket_gap"
        ),
    )


# ---------------------------------------------------------------------------
# q391 degree assortativity of the mutual-kNN graph
# ---------------------------------------------------------------------------


def _q391_oracle() -> str:
    corr = ("(n * sxy - sx * sy) / "
            "sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))")
    return f"""
    WITH {_VECS_CTE},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {o_rnd(_COS, 6)} AS cos_sim
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    ),
    knn AS (SELECT query_id, vec_id FROM ranked WHERE rank <= {_Q143_K}),
    mut AS (
      SELECT ab.query_id AS u, ab.vec_id AS v
      FROM knn ab JOIN knn ba
        ON ba.query_id = ab.vec_id AND ba.vec_id = ab.query_id
      WHERE ab.query_id < ab.vec_id
    ),
    dirs AS (
      SELECT u, v FROM mut UNION ALL SELECT v AS u, u AS v FROM mut
    ),
    deg AS (SELECT u AS node, count(*) AS d FROM dirs GROUP BY u),
    de AS (
      SELECT CAST(du.d AS DOUBLE) AS x, CAST(dv.d AS DOUBLE) AS y
      FROM dirs JOIN deg du ON du.node = dirs.u
                JOIN deg dv ON dv.node = dirs.v
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM de
    )
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           {o_rnd('sx / n', 6)} AS mean_degree,
           {o_rnd(corr, 6)} AS assortativity
    FROM s
    """


@query("q391_knn_assortativity", oracle=_q391_oracle())
def q391_knn_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the mutual-kNN graph (Newman 2002):
    Pearson correlation of endpoint degrees over directed edge
    instances — negative r means hubs link to loners
    (hub-and-spoke geometry, the q380 hubness pathology seen from
    the EDGE side), positive r means a core-periphery mesh; with
    q372's modularity this completes the kNN-graph health panel
    that decides whether graph-based clustering is trustworthy.

    Scale shape: composes the k*N mutual edge list (q143 kernel),
    one degree groupBy, two equi joins of edges to degrees keyed on
    the node id, and a six-sum scalar fold — the q381 sufficient-
    stats correlation law on edges instead of returns."""
    edges = q143_mutual_knn(spark, sf_dir).select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    )
    dirs = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = dirs.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("d")
    )
    de = (
        dirs.join(
            deg.select(F.col("node").alias("u"), F.col("d").alias("x")), "u"
        )
        .join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("y")), "v"
        )
        .select(F.col("x").cast("double").alias("x"),
                F.col("y").cast("double").alias("y"))
    )
    nn = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    s = de.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.crossJoin(F.broadcast(nn)).select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        "n_nodes",
        prnd(F.col("sx") / F.col("n"), 6).alias("mean_degree"),
        prnd(corr, 6).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# q393 geometric median per label (Weiszfeld, 3 unrolled iterations)
# ---------------------------------------------------------------------------

_Q393_D = 8
_Q393_ITERS = 3
_Q393_EPS = 1e-9  # distance floor, shared literal


def _q393_oracle() -> str:
    d, eps = _Q393_D, _Q393_EPS
    vcols = ", ".join(f"v[{j}] AS x{j}" for j in range(1, d + 1))
    mean_cols = ", ".join(f"avg(x{j}) AS c{j}" for j in range(1, d + 1))
    ctes = [
        f"pts AS (SELECT label, {vcols} FROM e)",
        f"it0 AS (SELECT label, {mean_cols} FROM pts GROUP BY label)",
    ]
    for t in range(1, _Q393_ITERS + 1):
        dist = " + ".join(
            f"(p.x{j} - c.c{j}) * (p.x{j} - c.c{j})" for j in range(1, d + 1)
        )
        w = f"1.0 / (sqrt({dist}) + {eps})"
        upd = ", ".join(
            f"sum(p.x{j} * ({w})) / sum({w}) AS c{j}"
            for j in range(1, d + 1)
        )
        ctes.append(
            f"it{t} AS (SELECT p.label, {upd} "
            f"FROM pts p JOIN it{t - 1} c ON c.label = p.label "
            f"GROUP BY p.label)"
        )
    move = " + ".join(
        f"(m.c{j} - g.c{j}) * (m.c{j} - g.c{j})" for j in range(1, d + 1)
    )
    out = ", ".join(
        f"{o_rnd(f'g.c{j}', 5)} AS gm_d{j}" for j in range(1, d + 1)
    )
    last = f"it{_Q393_ITERS}"
    return f"""
    WITH {_VECS_CTE},
    {", ".join(ctes)},
    cnt AS (SELECT label, count(*) AS n FROM pts GROUP BY label)
    SELECT CAST(g.label AS INTEGER) AS label,
           CAST(cnt.n AS BIGINT) AS n_vecs,
           {out},
           {o_rnd(f'sqrt({move})', 5)} AS shift_from_mean
    FROM {last} g
    JOIN it0 m ON m.label = g.label
    JOIN cnt ON cnt.label = g.label
    """


@query("q393_geometric_median", oracle=_q393_oracle())
def q393_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric median of each label's embedding cloud (leading 8
    dims) by three unrolled Weiszfeld iterations from the mean —
    the ROBUST class prototype: unlike the mean (q84 centroids), a
    few outlier vectors (mislabeled docs, decode failures) barely
    move it, so prototype-based label auditing (q188) stops flagging
    clean classes whose mean was dragged.  shift_from_mean is itself
    the contamination signal: large shift = heavy outlier mass.

    Scale shape: every iteration is one BROADCAST join of the tiny
    per-label centroid frame to the points plus one partial-agg
    groupBy — fully distributed, no driver state, no window; three
    iterations = three such passes over the same cached shape.
    Distance floor eps is a shared literal so both engines weight
    coincident points identically.

    r9 (plan_dup_audit): the points frame feeds five branches (mean
    seed + three Weiszfeld passes + the count), and unpinned each
    branch re-planned the embeddings scan + slice projection — so it
    is eager-pinned once; the iterations then really are "three
    passes over the same cached shape" as documented."""
    d, eps = _Q393_D, _Q393_EPS
    vecs = _vecs(spark, sf_dir)
    pts = vecs.select(
        "label",
        *[
            F.element_at("v", j).alias(f"x{j}")
            for j in range(1, d + 1)
        ],
    ).transform(pin_frame)
    cent = pts.groupBy("label").agg(
        *[F.avg(f"x{j}").alias(f"c{j}") for j in range(1, d + 1)]
    )
    mean0 = cent
    for _ in range(_Q393_ITERS):
        dist2 = None
        for j in range(1, d + 1):
            t = (F.col(f"x{j}") - F.col(f"c{j}")) * (
                F.col(f"x{j}") - F.col(f"c{j}")
            )
            dist2 = t if dist2 is None else dist2 + t
        w = F.lit(1.0) / (F.sqrt(dist2) + eps)
        joined = pts.join(F.broadcast(cent), "label")
        cent = joined.groupBy("label").agg(
            *[
                (F.sum(F.col(f"x{j}") * w) / F.sum(w)).alias(f"c{j}")
                for j in range(1, d + 1)
            ]
        )
    cnt = pts.groupBy("label").agg(F.count("*").alias("n"))
    move2 = None
    for j in range(1, d + 1):
        t = (F.col(f"m{j}") - F.col(f"c{j}")) * (
            F.col(f"m{j}") - F.col(f"c{j}")
        )
        move2 = t if move2 is None else move2 + t
    m0 = mean0.select(
        "label",
        *[F.col(f"c{j}").alias(f"m{j}") for j in range(1, d + 1)],
    )
    return (
        cent.join(m0, "label")
        .join(cnt, "label")
        .select(
            F.col("label").cast("int").alias("label"),
            F.col("n").cast("long").alias("n_vecs"),
            *[
                prnd(f"c{j}", 5).alias(f"gm_d{j}")
                for j in range(1, d + 1)
            ],
            prnd(F.sqrt(move2), 5).alias("shift_from_mean"),
        )
    )


# ---------------------------------------------------------------------------
# q414 ECOD outliers (ECDF tail-probability product)
# ---------------------------------------------------------------------------

_Q414_D = 8
_Q414_TOP = 10


def _q414_oracle() -> str:
    d = _Q414_D
    return f"""
    WITH {_VECS_CTE},
    pts AS (
      SELECT vec_id, label, gi.i AS dim, v[gi.i] AS x
      FROM e CROSS JOIN (SELECT unnest(range(1, {d + 1})) AS i) gi
    ),
    rk AS (
      SELECT vec_id, label, dim,
             row_number() OVER (PARTITION BY dim ORDER BY x, vec_id) AS r,
             count(*) OVER (PARTITION BY dim) AS n
      FROM pts
    ),
    sc AS (
      SELECT vec_id, any_value(label) AS label,
             -sum(ln(least(CAST(r AS DOUBLE) / n,
                           CAST(n - r + 1 AS DOUBLE) / n))) AS score
      FROM rk GROUP BY vec_id
    ),
    ranked AS (
      SELECT vec_id, label, {o_rnd('score', 4)} AS score,
             row_number() OVER (ORDER BY {o_rnd('score', 4)} DESC, vec_id) AS rk
      FROM sc
    )
    SELECT CAST(rk AS INTEGER) AS rk,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(label AS INTEGER) AS label,
           score
    FROM ranked WHERE rk <= {_Q414_TOP}
    """


@query("q414_ecod_outliers", oracle=_q414_oracle())
def q414_ecod_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECOD outlier scores (Li et al. 2022 — empirical-CDF tail
    probabilities, parameter-free): per dimension, a point's tail
    probability is min(left, right) ECDF mass; the outlier score is
    the negative log-product across dims — flags points extreme in
    ANY direction without distance computations, covariance (q212)
    or neighbor graphs (q348), and is the cheapest member of the
    outlier-detector family (per-dim sorts only).

    Scale shape: the dim explode is map-side (d rows per vector);
    ranks are per-DIM windows — d independent sorts, each over the
    full corpus, which is the documented cost (the q375 globalrank
    two-pass swaps in per dim at extreme n); scoring is one groupBy
    and the top-10 a rounded-score TakeOrdered... except the final
    rank needs rk emitted, so the 10-row rank window runs after a
    limit (q380 law)."""
    vecs = _vecs(spark, sf_dir)
    pts = vecs.select(
        "vec_id", "label",
        F.explode(F.sequence(F.lit(1), F.lit(_Q414_D))).alias("dim"),
        "v",
    ).select(
        "vec_id", "label", "dim",
        F.element_at("v", F.col("dim")).alias("x"),
    )
    wd = W.partitionBy("dim").orderBy("x", "vec_id")
    rk = pts.select(
        "vec_id", "label", "dim",
        F.row_number().over(wd).alias("r"),
        F.count("*").over(W.partitionBy("dim")).alias("n"),
    )
    tail = F.least(
        F.col("r").cast("double") / F.col("n"),
        (F.col("n") - F.col("r") + 1).cast("double") / F.col("n"),
    )
    sc = rk.groupBy("vec_id").agg(
        F.first("label").alias("label"),
        prnd(-F.sum(F.log(tail)), 4).alias("score"),
    )
    top = (
        sc.orderBy(F.col("score").desc(), "vec_id")
        .limit(_Q414_TOP)
        .select(
            F.row_number()
            .over(W.orderBy(F.col("score").desc(), "vec_id"))
            .cast("int")
            .alias("rk"),
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("label").cast("int").alias("label"),
            "score",
        )
    )
    return top
