"""Near-duplicate detection queries: n-gram Jaccard, MinHash+LSH,
SimHash — each with a bit-exact DuckDB oracle (signature hashes are
md5-derived arithmetic, portable across engines)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.portable import hash64, o_hash64, o_rnd, prnd
from pyspark.sql import functions as F

from ..operators.dedup import (
    LSH_BANDS,
    corpus_minhash_pairs,
    corpus_shingle_arrays,
    dedup_clusters,
    incremental_dedup,
    MINHASH_PERMS,
    MINHASH_PRIME,
    jaccard_pairs,
    simhash_signatures,
    stop_shingle_cut,
)
from ..sources.readers import table
from .registry import query

_TOKS = "string_split(lower(text), ' ')"

# Base CTEs: distinct 3-gram word shingles per document.
_BASE_SH_CTE = f"""
    d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                                        i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                    ELSE CAST([] AS VARCHAR[]) END)) AS shingle
      FROM d
    )"""


def _jaccard_ctes(sh_rel: str) -> str:
    """sizes/inter/jac CTE block over a (doc_id, shingle) relation."""
    return f"""
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM {sh_rel} GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM {sh_rel} a JOIN {sh_rel} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    jac AS (
      SELECT i.id_a, i.id_b, i.n_inter,
             CAST(i.n_inter AS DOUBLE) / (x.n_sh + y.n_sh - i.n_inter) AS jaccard
      FROM inter i
      JOIN sizes x ON x.doc_id = i.id_a
      JOIN sizes y ON y.doc_id = i.id_b
    )"""


# Uncapped shingle pipeline (q45's verification set).
_SHINGLES_CTE = _BASE_SH_CTE + "," + _jaccard_ctes("sh")


_Q44_MAX_DF = 100  # stop-shingle cut: bound every posting list

# q44's capped shingle set: sh minus shingles in more than _Q44_MAX_DF
# documents (the oracle replay of stop_shingle_cut).
_CAPPED_SHINGLES_CTE = (
    _BASE_SH_CTE
    + f""",
    keep AS (SELECT shingle FROM sh GROUP BY shingle
             HAVING count(*) <= {_Q44_MAX_DF}),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),"""
    + _jaccard_ctes("shc")
)


@query(
    "q44_ngram_jaccard_pairs",
    oracle=f"""
    WITH {_CAPPED_SHINGLES_CTE}
    SELECT id_a, id_b, n_inter, {o_rnd('jaccard', 6)} AS jaccard
    FROM jac WHERE jaccard >= 0.8
    """,
)
def q44_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs (>= 0.8) with the
    stop-shingle skew cap (doc frequency <= 100).

    Shuffle pattern at scale (r12 restructure, guide S2.3/S2.4): ONE
    groupBy(shingle) builds df-capped posting lists (the cut is a size
    filter on the list — its old groupBy + semi-join back disappear),
    and the pair stream is an in-array i<j enumeration feeding the
    (id_a, id_b) aggregation directly (the q365 pattern — the old
    posting-list SELF-join shuffled the capped frame twice more).
    Quadratic only within a posting list, and the cap bounds every
    list at 100 docs — the LSH variant (q45) is the designed scale
    path. The oracle replays the identical cut."""
    from ..operators.dedup import jaccard_pairs_capped

    arrays = corpus_shingle_arrays(spark, sf_dir)
    pairs = jaccard_pairs_capped(
        arrays.select(F.col("doc_id"), F.explode("shingles").alias("shingle")),
        0.8,
        _Q44_MAX_DF,
    )
    return pairs.select(
        "id_a", "id_b", "n_inter", prnd("jaccard", 6).alias("jaccard")
    )


def _minhash_oracle() -> str:
    p = MINHASH_PRIME
    mh_cols = ",\n             ".join(
        f"min((CAST({a} AS BIGINT) * hh + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    rows = len(MINHASH_PERMS) // LSH_BANDS
    band_selects = []
    for band in range(LSH_BANDS):
        cols = [f"mh{band * rows + j}" for j in range(rows)]
        key = "md5(concat_ws(','," + ",".join(f"CAST({c} AS VARCHAR)" for c in cols) + "))"
        band_selects.append(
            f"SELECT a.doc_id AS id_a, b.doc_id AS id_b\n"
            f"       FROM (SELECT doc_id, {key} AS bk FROM sig) a\n"
            f"       JOIN (SELECT doc_id, {key} AS bk FROM sig) b\n"
            f"         ON a.bk = b.bk AND a.doc_id < b.doc_id"
        )
    cand = "\n      UNION\n      ".join(band_selects)
    return f"""
    WITH {_SHINGLES_CTE},
    h AS (SELECT doc_id, ({o_hash64('shingle')}) % {p} AS hh FROM sh),
    sig AS (SELECT doc_id,
             {mh_cols}
            FROM h GROUP BY doc_id),
    cand AS (
      {cand}
    )
    SELECT c.id_a, c.id_b, {o_rnd('j.jaccard', 6)} AS jaccard
    FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
    WHERE j.jaccard >= 0.8
    """


@query("q45_minhash_lsh_pairs", oracle=_minhash_oracle())
def q45_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms) + LSH(4 bands x 4 rows) candidate generation,
    exact-Jaccard verification at 0.8.

    The scale path for near-dup: signatures are one groupBy over the
    shingle explosion; candidate pairs come from 4 equality joins on
    32-char band keys (never an n^2 cross join); verification touches
    only candidate pairs. The verified pair set is session-memoized —
    cluster assignment (q48) and curation reuse it without re-running
    the pipeline, the same reuse a production run gets from writing
    the pair table once."""
    pairs = corpus_minhash_pairs(spark, sf_dir, 0.8)
    return pairs.select("id_a", "id_b", prnd("jaccard", 6).alias("jaccard"))


def _simhash_oracle() -> str:
    sums = ",\n             ".join(
        f"sum(CASE WHEN (hh >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(32)
    )
    sig = " + ".join(
        f"CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(32)
    )
    return f"""
    WITH d AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    h AS (SELECT doc_id, {o_hash64('tok')} AS hh FROM d),
    sums AS (SELECT doc_id,
             {sums}
             FROM h GROUP BY doc_id)
    SELECT doc_id, {sig} AS simhash
    FROM sums
    """


@query("q46_simhash", oracle=_simhash_oracle())
def q46_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit tf-weighted SimHash signature per document — constant
    output per doc, one explode + one groupBy at any scale."""
    return simhash_signatures(table(spark, sf_dir, "documents"), bits=32)


def _incremental_oracle() -> str:
    p = MINHASH_PRIME
    mh_cols = ",\n             ".join(
        f"min((CAST({a} AS BIGINT) * hh + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    rows = len(MINHASH_PERMS) // LSH_BANDS
    band_selects = []
    for band in range(LSH_BANDS):
        cols = [f"mh{band * rows + j}" for j in range(rows)]
        key = "md5(concat_ws(','," + ",".join(f"CAST({c} AS VARCHAR)" for c in cols) + "))"
        band_selects.append(
            f"SELECT doc_id, {band} AS band, {key} AS bk FROM sig"
        )
    bands = "\n      UNION ALL\n      ".join(band_selects)
    raw_j = "CAST(ni AS DOUBLE) / (na + nb - ni)"
    return f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    arr AS (
      SELECT doc_id, list_distinct(
               CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                                        i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                    ELSE CAST([] AS VARCHAR[]) END) AS sh
      FROM d
    ),
    arr2 AS (SELECT doc_id, sh FROM arr WHERE len(sh) > 0),
    h AS (SELECT doc_id, unnest(sh) AS shingle FROM arr2),
    hh AS (SELECT doc_id, ({o_hash64('shingle')}) % {p} AS hh FROM h),
    sig AS (SELECT doc_id,
             {mh_cols}
            FROM hh GROUP BY doc_id),
    bands AS (
      {bands}
    ),
    cand AS (
      SELECT DISTINCT i.doc_id AS idx_id, nn.doc_id AS new_id
      FROM bands i JOIN bands nn ON i.band = nn.band AND i.bk = nn.bk
      WHERE i.doc_id % 10 <> 0 AND nn.doc_id % 10 = 0
    ),
    ver AS (
      SELECT c.new_id, c.idx_id,
             len(list_intersect(a.sh, b.sh)) AS ni,
             len(a.sh) AS na, len(b.sh) AS nb
      FROM cand c
      JOIN arr2 a ON a.doc_id = c.idx_id
      JOIN arr2 b ON b.doc_id = c.new_id
    ),
    jacd AS (
      SELECT new_id, idx_id, {o_rnd(raw_j, 6)} AS j
      FROM ver WHERE {raw_j} >= 0.8
    ),
    best AS (
      SELECT new_id, idx_id, j,
             row_number() OVER (PARTITION BY new_id ORDER BY j DESC, idx_id) AS rn
      FROM jacd
    )
    SELECT nw.doc_id, b.idx_id AS matched_id, b.j AS jaccard,
           CAST(b.idx_id IS NOT NULL AS INT) AS is_dup
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) nw
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = nw.doc_id
    """


@query("q85_incremental_dedup", oracle=_incremental_oracle())
def q85_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time dedup of an incoming batch (doc_id % 10 = 0, the
    'new crawl drop') against the indexed remainder of the corpus — the
    production shape: the index's band table is the persisted dedup
    index, the small batch's band keys broadcast into the bucket join,
    the corpus never re-pairs against itself, and verification is
    per-candidate array_intersect (no posting-list explosion).
    Output: one row per incoming doc with its best near-dup match
    (rounded-Jaccard desc, index id asc) or NULL when novel."""
    docs = table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 10 == 0)
    index = docs.filter(F.col("doc_id") % 10 != 0)
    # shingling is per-row: the memoized whole-corpus arrays filtered
    # per side are identical to shingling each side separately
    arrays = corpus_shingle_arrays(spark, sf_dir)
    return incremental_dedup(
        index,
        incoming,
        0.8,
        index_arrays=arrays.filter(F.col("doc_id") % 10 != 0),
        incoming_arrays=arrays.filter(F.col("doc_id") % 10 == 0),
    )


def _clusters_oracle() -> str:
    # edges = the q45 near-dup pair query verbatim (its own WITH block
    # nests legally inside a derived table); components via a recursive
    # transitive-closure CTE, label = min reachable doc_id.
    return f"""
    WITH RECURSIVE edges AS (
      SELECT id_a, id_b FROM ({_minhash_oracle().strip()}) pairs
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM edges
      UNION ALL
      SELECT id_b, id_a FROM edges
    ),
    reach AS (
      SELECT DISTINCT src AS id, src AS l FROM sym
      UNION
      SELECT r.id, s.dst AS l
      FROM reach r JOIN sym s ON s.src = r.l
    )
    SELECT id AS doc_id, min(l) AS cluster_id,
           CAST(id = min(l) AS INT) AS is_canonical
    FROM reach GROUP BY id
    """


@query("q48_dedup_clusters", oracle=_clusters_oracle())
def q48_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: connected components over the q45
    MinHash-LSH pair graph, canonical keeper = min doc_id per component
    — the step that turns pairwise near-dup hits into "keep one copy"
    decisions in a training-data pipeline.

    Spark side is iterative min-label propagation (join + groupBy min
    per round, localCheckpointed, converges in diameter rounds — see
    operators.dedup.dedup_clusters); the oracle replays it as a
    recursive transitive-closure CTE. The pair pipeline itself is the
    memoized q45 pair frame, so in a shared session the graph build
    starts from already-materialized pairs."""
    return dedup_clusters(corpus_minhash_pairs(spark, sf_dir, 0.8))


_Q112_TN, _Q112_TD = 4, 5  # Jaccard threshold 4/5 as an exact rational


def _q112_oracle() -> str:
    tn, td = _Q112_TN, _Q112_TD
    return f"""
    WITH {_BASE_SH_CTE},
    dfreq AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY shingle),
    ord AS (
      SELECT sh.doc_id,
             list(sh.shingle ORDER BY d.df, sh.shingle) AS sorted,
             CAST(count(*) AS BIGINT) AS n
      FROM sh JOIN dfreq d USING (shingle) GROUP BY sh.doc_id
    ),
    pre AS (
      SELECT doc_id, n,
             unnest(list_slice(sorted, 1,
               CAST(n - (({tn} * n + {td - 1}) // {td}) + 1 AS INTEGER))) AS shingle
      FROM ord
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM pre a JOIN pre b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       AND {td} * b.n >= {tn} * a.n AND {td} * a.n >= {tn} * b.n
    ),
    arr AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id),
    ver AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(x.s, y.s)) AS BIGINT) AS n_inter,
             CAST(len(x.s) AS BIGINT) AS na, CAST(len(y.s) AS BIGINT) AS nb
      FROM cand c JOIN arr x ON x.doc_id = c.id_a JOIN arr y ON y.doc_id = c.id_b
    )
    SELECT id_a, id_b, n_inter,
           {o_rnd('CAST(n_inter AS DOUBLE) / (na + nb - n_inter)', 6)} AS jaccard
    FROM ver
    WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= CAST({tn} AS DOUBLE) / {td}
    """


@query("q112_prefix_filter_join", oracle=_q112_oracle())
def q112_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 4/5 near-dup pairs via prefix filtering (the
    PPJoin/All-Pairs family) — the third candidate-generation strategy
    in the dedup toolbox: q44 joins full posting lists (quadratic in
    hot shingles), q45 trades exactness for banded-LSH cost, this path
    is exact AND prunes — only each document's rarest
    |x| - ceil(t|x|) + 1 shingles (global df order) ever join, and an
    integer size filter kills cross-size false candidates before the
    single array_intersect verification per pair. The threshold is a
    rational (4/5) so every prefix/size bound evaluates in exact
    integer arithmetic on both engines."""
    from ..operators.dedup import prefix_filter_pairs

    arrays = corpus_shingle_arrays(spark, sf_dir)
    pairs = prefix_filter_pairs(arrays, _Q112_TN, _Q112_TD)
    return pairs.select(
        "id_a", "id_b", "n_inter", prnd("jaccard", 6).alias("jaccard")
    )


_Q113_T = 0.9  # containment threshold: |A ∩ B| / |A|


def _q113_oracle() -> str:
    return f"""
    WITH {_BASE_SH_CTE},
    arr AS (SELECT doc_id, list(shingle) AS s, CAST(count(*) AS BIGINT) AS n
            FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_small, b.doc_id AS id_big,
             CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS ni,
             a.n AS n_small, b.n AS n_big
      FROM arr a JOIN arr b
        ON a.doc_id <> b.doc_id AND a.n <= b.n
       AND NOT (a.n = b.n AND a.doc_id > b.doc_id)
    )
    SELECT id_small, id_big, ni AS n_inter, n_small, n_big,
           {o_rnd('CAST(ni AS DOUBLE) / n_small', 6)} AS containment
    FROM pairs
    WHERE CAST(ni AS DOUBLE) / n_small >= {_Q113_T}
    """


@query("q113_containment_dedup", oracle=_q113_oracle())
def q113_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment detection: pairs where >= 90% of the
    smaller document's shingles appear in the larger one — the
    excerpt/quote/subset case symmetric Jaccard misses (a paragraph
    lifted into a long page scores near-zero Jaccard but containment
    1.0). Orientation is deterministic: small side = fewer shingles,
    doc_id tie-break at equal sizes.

    The oracle states the n^2 form; the Spark plan refuses it — the
    candidate set comes from the shared-shingle equi-join (a pair with
    containment >= 0.9 shares at least ceil(0.9*|A|) >= 1 shingles),
    aggregated to intersection counts, THEN oriented and thresholded;
    per-pair work replaces posting lists with one count. At 100 TB the
    candidate join rides the same stop-shingle/prefix pruning as
    q44/q112 — containment's prefix bound is |A| - ceil(t|A|) + 1 on
    the SMALL side only."""
    arrays = corpus_shingle_arrays(spark, sf_dir)
    expl = arrays.select(F.col("doc_id"), F.explode("shingles").alias("shingle"))
    a = expl.select(F.col("doc_id").alias("id_a"), "shingle")
    b = expl.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("ni"))
    )
    sizes = arrays.select(F.col("doc_id"), F.size("shingles").alias("n"))
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    oriented = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.when(F.col("na") <= F.col("nb"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("id_small"),
            F.when(F.col("na") <= F.col("nb"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("id_big"),
            F.col("ni").alias("n_inter"),
            F.least("na", "nb").alias("n_small"),
            F.greatest("na", "nb").alias("n_big"),
        )
        .withColumn(
            "containment",
            F.col("n_inter").cast("double") / F.col("n_small"),
        )
        .filter(F.col("containment") >= _Q113_T)
    )
    return oriented.select(
        "id_small",
        "id_big",
        "n_inter",
        "n_small",
        "n_big",
        prnd("containment", 6).alias("containment"),
    )


# ---------------------------------------------------------------------------
# q215 LSH recall self-evaluation report
# ---------------------------------------------------------------------------


def _minhash_cand_ctes() -> str:
    """The h/sig/cand CTE block of q45's oracle (same bucketing)."""
    p = MINHASH_PRIME
    mh_cols = ",\n             ".join(
        f"min((CAST({a} AS BIGINT) * hh + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    rows = len(MINHASH_PERMS) // LSH_BANDS
    band_selects = []
    for band in range(LSH_BANDS):
        cols = [f"mh{band * rows + j}" for j in range(rows)]
        key = "md5(concat_ws('," + "'," + ",".join(
            f"CAST({c} AS VARCHAR)" for c in cols
        ) + "))"
        band_selects.append(
            f"SELECT a.doc_id AS id_a, b.doc_id AS id_b\n"
            f"       FROM (SELECT doc_id, {key} AS bk FROM sig) a\n"
            f"       JOIN (SELECT doc_id, {key} AS bk FROM sig) b\n"
            f"         ON a.bk = b.bk AND a.doc_id < b.doc_id"
        )
    cand = "\n      UNION\n      ".join(band_selects)
    return f"""
    h AS (SELECT doc_id, ({o_hash64('shingle')}) % {p} AS hh FROM sh),
    sig AS (SELECT doc_id,
             {mh_cols}
            FROM h GROUP BY doc_id),
    cand AS (
      {cand}
    )"""


@query(
    "q215_lsh_recall_report",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_minhash_cand_ctes()},
    exact AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8),
    lsh AS (
      SELECT c.id_a, c.id_b FROM cand c
      JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
      WHERE j.jaccard >= 0.8
    )
    SELECT (SELECT count(*) FROM exact) AS n_exact,
           (SELECT count(*) FROM cand) AS n_candidates,
           (SELECT count(*) FROM lsh) AS n_recovered
    """,
)
def q215_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH self-evaluation THROUGH the gate: exact >= 0.8 Jaccard pair
    count (uncapped baseline), the banded-MinHash CANDIDATE count, and
    the verified-pair count the LSH pipeline recovers — the
    recall/efficiency report a dedup deployment publishes before
    trusting the approximate path (recall = recovered/exact;
    efficiency = exact/candidates).

    Composes the memoized corpus pipelines; each count is a 1-row
    aggregate and the three scalars cross-join into the report row.
    The oracle splices q45's exact band-bucket CTE so both engines
    score the identical bucketing."""
    arrays = corpus_shingle_arrays(spark, sf_dir)
    shingled = arrays.select(
        F.col("doc_id"), F.explode("shingles").alias("shingle")
    )
    exact = jaccard_pairs(shingled, 0.8).select("id_a", "id_b")
    verified = corpus_minhash_pairs(spark, sf_dir, 0.8).select("id_a", "id_b")
    from ..operators.dedup import minhash_signatures, lsh_candidate_pairs

    cand = lsh_candidate_pairs(minhash_signatures(shingled)).select(
        "id_a", "id_b"
    ).distinct()
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    n_rec = verified.agg(F.count("*").alias("n_recovered"))
    return n_exact.crossJoin(n_cand).crossJoin(n_rec)


# ---------------------------------------------------------------------------
# q250 train/test leakage audit: near-dup pairs straddling split fences
# ---------------------------------------------------------------------------


def _q250_oracle() -> str:
    from .dataprep_q import _SPLIT_TRAIN, _SPLIT_VAL

    split = f"""CASE WHEN ({o_hash64('doc_id')}) % 100 < {_SPLIT_TRAIN} THEN 'train'
                  WHEN ({o_hash64('doc_id')}) % 100 < {_SPLIT_VAL} THEN 'val'
                  ELSE 'test' END"""
    return f"""
    WITH pairs AS ({_minhash_oracle()}),
    sp AS (SELECT doc_id, {split} AS split FROM documents),
    j AS (
      SELECT least(sa.split, sb.split) AS split_lo,
             greatest(sa.split, sb.split) AS split_hi,
             p.id_a, p.id_b
      FROM pairs p
      JOIN sp sa ON sa.doc_id = p.id_a
      JOIN sp sb ON sb.doc_id = p.id_b
    )
    SELECT split_lo, split_hi,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(split_lo <> split_hi AS INT) AS is_leak,
           CAST(min(id_a) AS BIGINT) AS example_id_a,
           CAST(min(id_b) AS BIGINT) AS example_id_b
    FROM j GROUP BY split_lo, split_hi
    """


@query("q250_split_leakage", oracle=_q250_oracle())
def q250_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: cross-reference the verified
    near-duplicate pair set (q45's MinHash+LSH pipeline, memoized)
    with the hash-fence split assignment (q73) and count pairs whose
    endpoints land in DIFFERENT splits — the leakage that silently
    inflates eval metrics when dedup runs per-split instead of
    corpus-wide (the reason dedup must happen BEFORE splitting).
    q87 screens against an external benchmark; this closes the
    internal train-vs-test loop.

    Split assignment is a per-row hash expression (no shuffle); the
    audit joins the tiny PAIR table to it twice and aggregates to the
    split-pair matrix — cost is the dedup pipeline itself, already
    shared across the q44-q48 family by session memoization."""
    from .dataprep_q import _SPLIT_TRAIN, _SPLIT_VAL

    pairs = corpus_minhash_pairs(spark, sf_dir, 0.8)
    docs = table(spark, sf_dir, "documents")
    bucket = hash64(F.col("doc_id")) % 100
    sp = docs.select(
        "doc_id",
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )
    sa = sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    sb = sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    j = (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            F.least("sa", "sb").alias("split_lo"),
            F.greatest("sa", "sb").alias("split_hi"),
            "id_a",
            "id_b",
        )
    )
    return j.groupBy("split_lo", "split_hi").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.min("id_a").cast("long").alias("example_id_a"),
        F.min("id_b").cast("long").alias("example_id_b"),
    ).select(
        "split_lo",
        "split_hi",
        "n_pairs",
        (F.col("split_lo") != F.col("split_hi")).cast("int").alias("is_leak"),
        "example_id_a",
        "example_id_b",
    )


# ---------------------------------------------------------------------------
# q265 near-dup pair explanation (shingle set difference)
# ---------------------------------------------------------------------------


@query(
    "q265_dedup_explain",
    oracle=f"""
    WITH pairs AS ({_minhash_oracle()}),
    d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    shm AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                  ELSE CAST([] AS VARCHAR[]) END AS shs
      FROM d
    )
    SELECT p.id_a, p.id_b, p.jaccard,
           CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS n_common,
           CAST(len(list_filter(a.shs, s -> NOT list_contains(b.shs, s))) AS BIGINT) AS n_only_a,
           CAST(len(list_filter(b.shs, s -> NOT list_contains(a.shs, s))) AS BIGINT) AS n_only_b,
           coalesce(array_to_string(list_sort(list_filter(a.shs, s -> NOT list_contains(b.shs, s)))[1:3], '; '), '') AS sample_only_a
    FROM pairs p
    JOIN shm a ON a.doc_id = p.id_a
    JOIN shm b ON b.doc_id = p.id_b
    """,
)
def q265_dedup_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup EXPLAINABILITY: for every verified near-dup pair (q45's
    output), the shingle-set overlap decomposition — how many 3-gram
    shingles are shared, how many are unique to each side, and a
    deterministic 3-shingle sample of what differs — the evidence a
    human reviewer (or an appeal process) needs before a document is
    dropped; dedup decisions that can't be explained don't survive
    data-governance review.

    The pair table is tiny; explanations join it to per-doc DISTINCT
    shingle arrays and run set ops as array HOFs per pair — cost is
    proportional to the PAIRS, not the corpus."""
    from ..operators.text import word_shingles

    pairs = corpus_minhash_pairs(spark, sf_dir, 0.8)
    docs = table(spark, sf_dir, "documents")
    from ..operators.text import tokens as _tokens

    shm = docs.select(
        "doc_id",
        F.array_distinct(word_shingles(_tokens("text"), 3)).alias("shs"),
    )
    a = shm.select(F.col("doc_id").alias("id_a"), F.col("shs").alias("sa"))
    b = shm.select(F.col("doc_id").alias("id_b"), F.col("shs").alias("sb"))
    j = pairs.join(F.broadcast(a), "id_a").join(F.broadcast(b), "id_b")
    only_a = F.filter(
        F.col("sa"), lambda s: ~F.array_contains(F.col("sb"), s)
    )
    only_b = F.filter(
        F.col("sb"), lambda s: ~F.array_contains(F.col("sa"), s)
    )
    return j.select(
        "id_a",
        "id_b",
        prnd("jaccard", 6).alias("jaccard"),
        F.size(F.array_intersect("sa", "sb")).cast("long").alias("n_common"),
        F.size(only_a).cast("long").alias("n_only_a"),
        F.size(only_b).cast("long").alias("n_only_b"),
        F.array_join(
            F.slice(F.array_sort(only_a), 1, 3), "; "
        ).alias("sample_only_a"),
    )


# ---------------------------------------------------------------------------
# q270 LSH parameter planner (S-curves for every (bands, rows) split)
# ---------------------------------------------------------------------------

_Q270_TARGET = 0.8
_Q270_SPLITS = [(1, 16), (2, 8), (4, 4), (8, 2), (16, 1)]
_Q270_GRID = [i / 20.0 for i in range(1, 20)]  # s = 0.05 .. 0.95


def _q270_oracle() -> str:
    rows = ", ".join(f"({b}, {r})" for b, r in _Q270_SPLITS)
    grid = ", ".join(f"({s})" for s in _Q270_GRID)
    return f"""
    WITH cfg(b, r) AS (VALUES {rows}),
    grid(s) AS (VALUES {grid}),
    curve AS (
      SELECT cfg.b, cfg.r, grid.s,
             1.0 - pow(1.0 - pow(grid.s, cfg.r), cfg.b) AS p
      FROM cfg CROSS JOIN grid
    ),
    agg AS (
      SELECT b, r,
             sum(CASE WHEN s <  {_Q270_TARGET} THEN p ELSE 0.0 END) / 20.0 AS fp_mass,
             sum(CASE WHEN s >= {_Q270_TARGET} THEN 1.0 - p ELSE 0.0 END) / 20.0 AS fn_mass
      FROM curve GROUP BY b, r
    )
    SELECT CAST(b AS INTEGER) AS bands, CAST(r AS INTEGER) AS rows_per_band,
           {o_rnd('pow(1.0 / b, 1.0 / r)', 6)} AS s_half,
           {o_rnd('fp_mass', 6)} AS fp_mass,
           {o_rnd('fn_mass', 6)} AS fn_mass,
           {o_rnd('fp_mass + fn_mass', 6)} AS total_loss,
           CAST(row_number() OVER (ORDER BY fp_mass + fn_mass, b) = 1 AS INT) AS recommended
    FROM agg
    """


@query("q270_lsh_planner", oracle=_q270_oracle())
def q270_lsh_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH self-configuration: for every way to split the 16 MinHash
    permutations into (bands x rows), the S-curve candidate
    probability p(s) = 1-(1-s^r)^b integrated into false-positive
    mass (below the 0.8 dedup threshold) and false-negative mass
    (above it), the half-probability similarity (1/b)^(1/r), and the
    loss-minimizing choice flagged — the tuning table that justifies
    q45's 4x4 configuration with NUMBERS instead of folklore
    (Leskovec/Rajaraman/Ullman, MMDS ch.3).

    Pure literal-grid math (5 configs x 19 grid points) — the
    planner costs nothing and runs before the expensive pipeline it
    configures; the engine evaluating its own index parameters
    through the hash gate is the point."""
    from pyspark.sql import Window as W

    # literal frames as LocalRelations (explode of literal arrays):
    # a parallelized-RDD createDataFrame would schedule parallelism^2
    # empty tasks through the cross product
    cfg = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("b"),
                        F.lit(r).cast("int").alias("r"),
                    )
                    for b, r in _Q270_SPLITS
                ]
            )
        ).alias("x")
    ).select("x.*")
    grid = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(s).cast("double") for s in _Q270_GRID])
        ).alias("s")
    )
    curve = cfg.crossJoin(grid).select(
        "b",
        "r",
        "s",
        (
            1.0
            - F.pow(1.0 - F.pow(F.col("s"), F.col("r")), F.col("b"))
        ).alias("p"),
    )
    agg = curve.groupBy("b", "r").agg(
        (
            F.sum(
                F.when(F.col("s") < _Q270_TARGET, F.col("p")).otherwise(0.0)
            )
            / 20.0
        ).alias("fp_mass"),
        (
            F.sum(
                F.when(F.col("s") >= _Q270_TARGET, 1.0 - F.col("p")).otherwise(
                    0.0
                )
            )
            / 20.0
        ).alias("fn_mass"),
    )
    loss = F.col("fp_mass") + F.col("fn_mass")
    return agg.select(
        F.col("b").cast("int").alias("bands"),
        F.col("r").cast("int").alias("rows_per_band"),
        prnd(F.pow(1.0 / F.col("b"), 1.0 / F.col("r")), 6).alias("s_half"),
        prnd("fp_mass", 6).alias("fp_mass"),
        prnd("fn_mass", 6).alias("fn_mass"),
        prnd(loss, 6).alias("total_loss"),
        (
            F.row_number().over(W.orderBy(loss, "b")) == 1
        ).cast("int").alias("recommended"),
    )


# ---------------------------------------------------------------------------
# q278 MinHash estimator-bias audit (estimate vs exact Jaccard per pair)
# ---------------------------------------------------------------------------


def _q278_oracle() -> str:
    p = MINHASH_PRIME
    from ..operators.dedup import MINHASH_PERMS

    mh_cols = ",\n             ".join(
        f"min((CAST({a} AS BIGINT) * hh + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    agree = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(len(MINHASH_PERMS))
    )
    n_perms = len(MINHASH_PERMS)
    return f"""
    WITH pairs AS ({_minhash_oracle()}),
    {_BASE_SH_CTE.lstrip().rstrip().rstrip(',')},
    h AS (SELECT doc_id, ({o_hash64('shingle')}) % {p} AS hh FROM sh),
    sig AS (SELECT doc_id, {mh_cols} FROM h GROUP BY doc_id)
    SELECT pr.id_a, pr.id_b, pr.jaccard,
           CAST(({agree}) AS BIGINT) AS n_agree,
           {o_rnd(f'({agree}) / {float(n_perms)}', 6)} AS mh_estimate,
           {o_rnd(f'abs(({agree}) / {float(n_perms)} - pr.jaccard)', 6)} AS abs_err
    FROM pairs pr
    JOIN sig sa ON sa.doc_id = pr.id_a
    JOIN sig sb ON sb.doc_id = pr.id_b
    """


@query("q278_minhash_error_audit", oracle=_q278_oracle())
def q278_minhash_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR audit: for every verified near-dup pair, the
    16-permutation agreement fraction (the similarity MinHash would
    report) next to the exact Jaccard and the absolute error — the
    per-pair evidence behind the sketch's +-1/sqrt(16) error budget,
    and the audit that justifies verifying candidates with exact
    Jaccard instead of trusting the estimate (q215 audits RECALL of
    the bands; this audits the ESTIMATE itself).

    Signatures and the pair set are both session-memoized corpus
    derivations; the audit is two signature joins on the tiny pair
    list and 16 column equalities per row."""
    from ..operators.dedup import (
        MINHASH_PERMS,
        corpus_shingle_arrays,
        minhash_signatures,
    )

    pairs = corpus_minhash_pairs(spark, sf_dir, 0.8)
    arrays = corpus_shingle_arrays(spark, sf_dir)
    shingled = arrays.select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    sig = minhash_signatures(shingled)
    n_perms = len(MINHASH_PERMS)
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(n_perms)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(n_perms)],
    )
    j = pairs.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
    agree = None
    for i in range(n_perms):
        term = (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        agree = term if agree is None else agree + term
    est = agree.cast("double") / float(n_perms)
    return j.select(
        "id_a",
        "id_b",
        prnd("jaccard", 6).alias("jaccard"),
        agree.cast("long").alias("n_agree"),
        prnd(est, 6).alias("mh_estimate"),
        prnd(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# q307 duplicate rate by provenance (which source ships copies)
# ---------------------------------------------------------------------------


@query(
    "q307_dup_rate_by_source",
    oracle=f"""
    WITH pairs AS ({_minhash_oracle()}),
    dup_docs AS (
      SELECT id_a AS doc_id FROM pairs
      UNION SELECT id_b FROM pairs
    ),
    exact_dup AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn > 1
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ed.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
           CAST(sum(CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
           {o_rnd('avg(CASE WHEN nd.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END)', 6)} AS near_dup_rate
    FROM documents d
    LEFT JOIN exact_dup ed ON ed.doc_id = d.doc_id
    LEFT JOIN dup_docs nd ON nd.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def q307_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate rate by PROVENANCE: per source, how many documents
    are exact copies (non-canonical md5 twins) and how many sit in a
    verified near-dup pair — the supplier scorecard that turns
    corpus-wide dedup stats (q43-q48) into an actionable 'source X
    ships 30% recycled content' conversation, the same per-producer
    slicing q293 applies to contracts.

    Both dup sets are memoized/cheap derivations; the rollup is two
    broadcast membership joins + one groupBy over documents."""
    docs = table(spark, sf_dir, "documents")
    pairs = corpus_minhash_pairs(spark, sf_dir, 0.8)
    dup_docs = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("_nd", F.lit(1))
    )
    from pyspark.sql import Window as W

    exact_dup = (
        docs.withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy(F.md5("text")).orderBy("doc_id")
            ),
        )
        .filter(F.col("_rn") > 1)
        .select("doc_id")
        .withColumn("_ed", F.lit(1))
    )
    j = docs.join(F.broadcast(exact_dup), "doc_id", "left").join(
        F.broadcast(dup_docs), "doc_id", "left"
    )
    return j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("_ed").isNotNull().cast("int"))
        .cast("long")
        .alias("n_exact_dup"),
        F.sum(F.col("_nd").isNotNull().cast("int"))
        .cast("long")
        .alias("n_near_dup"),
        prnd(
            F.avg(F.col("_nd").isNotNull().cast("double")), 6
        ).alias("near_dup_rate"),
    )


# ---------------------------------------------------------------------------
# q359 dedup threshold operating curve (governance sweep)
# ---------------------------------------------------------------------------

_Q359_THRESHOLDS = (0.80, 0.85, 0.90, 0.95)


def _q359_oracle() -> str:
    vals = ", ".join(f"({t})" for t in _Q359_THRESHOLDS)
    return f"""
    WITH pairs AS ({_minhash_oracle()}),
    cfg(t) AS (VALUES {vals}),
    hits AS (
      SELECT cfg.t, p.id_a, p.id_b, p.jaccard
      FROM cfg JOIN pairs p ON p.jaccard >= cfg.t
    ),
    ids AS (
      SELECT t, id_a AS doc_id FROM hits
      UNION
      SELECT t, id_b AS doc_id FROM hits
    ),
    docs AS (SELECT t, count(*) AS n_docs FROM ids GROUP BY t),
    agg AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_pairs,
             avg(jaccard) AS mean_j
      FROM hits GROUP BY t
    )
    SELECT {o_rnd('a.t', 2)} AS threshold,
           a.n_pairs,
           CAST(d.n_docs AS BIGINT) AS n_docs_affected,
           {o_rnd('a.mean_j', 6)} AS mean_jaccard
    FROM agg a JOIN docs d USING (t)
    """


@query("q359_dedup_threshold_sweep", oracle=_q359_oracle())
def q359_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold operating curve: from ONE MinHash+verify pass
    (the memoized q45 pair set), the pair count, affected-document
    count, and mean verified Jaccard at each candidate similarity
    cutoff (0.80-0.95) — the table a data-governance review reads to
    pick the dedup threshold, seeing exactly how much corpus each
    notch removes BEFORE committing to a rerun.  The sweep costs four
    filters over an already-verified pair table, not four dedup runs.

    Jaccard is compared on the shared 6-digit portable grid (the pair
    set itself is grid-rounded in both engines), so a threshold
    landing on a boundary picks identical pairs everywhere.  At
    100 TB the pair table is orders of magnitude smaller than the
    corpus — the sweep is a dashboard query over it."""
    pairs = corpus_minhash_pairs(spark, sf_dir, 0.8).select(
        "id_a", "id_b", prnd("jaccard", 6).alias("j")
    )
    frames = []
    for t in _Q359_THRESHOLDS:
        hits = pairs.filter(F.col("j") >= t)
        agg = hits.agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.avg("j").alias("mean_j"),
        ).select(F.lit(t).alias("t"), "n_pairs", "mean_j")
        ids = hits.select(F.col("id_a").alias("doc_id")).unionByName(
            hits.select(F.col("id_b").alias("doc_id"))
        )
        docs = ids.agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs_affected")
        ).select(F.lit(t).alias("t"), "n_docs_affected")
        frames.append(agg.join(docs, "t"))
    u = frames[0]
    for fr in frames[1:]:
        u = u.unionByName(fr)
    return u.select(
        prnd("t", 2).alias("threshold"),
        "n_pairs",
        "n_docs_affected",
        prnd("mean_j", 6).alias("mean_jaccard"),
    )


# ---------------------------------------------------------------------------
# q411 cross-source duplication matrix
# ---------------------------------------------------------------------------


def _q411_oracle() -> str:
    return """
    WITH fp AS (
      SELECT source,
             md5(array_to_string(
               list_slice(string_split(lower(text), ' '), 1, 8), ' ')) AS f
      FROM documents
    ),
    sf AS (SELECT DISTINCT source, f FROM fp),
    per_src AS (SELECT source, count(DISTINCT f) AS n_fps FROM fp GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS shared_fps
      FROM sf a JOIN sf b ON b.f = a.f AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT p.source_a, p.source_b,
           CAST(p.shared_fps AS BIGINT) AS shared_fps,
           CAST(pa.n_fps AS BIGINT) AS fps_a,
           CAST(pb.n_fps AS BIGINT) AS fps_b,
           floor((CAST(p.shared_fps AS DOUBLE)
                  / least(pa.n_fps, pb.n_fps)) * 1000000.0 + 0.5001)
             / 1000000.0 AS containment
    FROM pairs p
    JOIN per_src pa ON pa.source = p.source_a
    JOIN per_src pb ON pb.source = p.source_b
    """


@query("q411_cross_source_dups", oracle=_q411_oracle())
def q411_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: which PAIRS of sources carry
    the same HEAD fingerprints (md5 of the first 8 tokens — shared
    lead boilerplate and mirrored pages collide here even when the
    tails diverge; q43's full-text md5 is the strict variant), with
    overlap containment = shared / min(|A|, |B|) — the
    mirror-detection view q307's per-source dup RATE cannot give
    (a 30% dup rate might be self-duplication or a wholesale mirror
    of another crawl; only the pair matrix tells which feed to
    drop).  Feeds the q363 dataset card's provenance section.

    Scale shape: the pair generator is the fingerprint inverted
    index (equi self-join on the 128-bit hash — only sources that
    actually share content pair up, never all source pairs), with
    per-source fingerprint masses joined back broadcast-small.
    One md5 per doc total (q315 hash budget)."""
    from pyspark.sql import functions as F

    from ..sources.readers import spread_small_scan, table

    docs = spread_small_scan(table(spark, sf_dir, "documents"))
    from ..operators.text import tokens

    fp = docs.select(
        "source",
        F.md5(
            F.array_join(F.slice(tokens("text"), 1, 8), " ")
        ).alias("f"),
    )
    sf = fp.select("source", "f").distinct()
    per_src = fp.groupBy("source").agg(
        F.countDistinct("f").alias("n_fps")
    )
    a = sf.alias("a")
    b = sf.select(
        F.col("source").alias("source_b"), F.col("f").alias("f")
    ).alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.source") < F.col("source_b")),
        )
        .groupBy(F.col("a.source").alias("source_a"), "source_b")
        .agg(F.count("*").alias("shared_fps"))
    )
    from ..functions.portable import prnd

    return (
        pairs.join(
            F.broadcast(
                per_src.select(
                    F.col("source").alias("source_a"),
                    F.col("n_fps").alias("fps_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                per_src.select(
                    F.col("source").alias("source_b"),
                    F.col("n_fps").alias("fps_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a", "source_b",
            F.col("shared_fps").cast("long").alias("shared_fps"),
            F.col("fps_a").cast("long").alias("fps_a"),
            F.col("fps_b").cast("long").alias("fps_b"),
            prnd(
                F.col("shared_fps").cast("double")
                / F.least("fps_a", "fps_b"),
                6,
            ).alias("containment"),
        )
    )
