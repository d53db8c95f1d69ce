"""Corpus-preparation extensions: cross-document segment-level dedup
(CCNet-style), vocabulary/OOV coverage, and edit-distance pair
verification.

These extend the dedup/text families (operators/dedup.py,
operators/text.py) with the remaining granularities a pretraining
pipeline runs: sub-document duplicate removal (Wenzek et al., CCNet —
dedup at paragraph/segment level, not document level), tokenizer
vocabulary coverage (OOV-rate screens before committing a vocab), and
character-level verification of candidate pairs (the final filter
after hash-based candidate generation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.portable import hash64, o_hash64, o_rnd, prnd
from ..operators.dedup import (
    LSH_BANDS,
    MINHASH_PERMS,
    MINHASH_PRIME,
    _band_keys,
    _minhash_sigs_from_arrays,
    corpus_shingle_arrays,
)
from ..operators.text import tokens
from ..sources.readers import table
from .registry import query
from ..pinning import pin_frame, pin_frame_lazy, pin_loop

_TOKS_SQL = "string_split(lower(text), ' ')"

# ---------------------------------------------------------------------------
# q139 segment-level dedup (CCNet granularity)
# ---------------------------------------------------------------------------

_Q139_W = 8  # tokens per segment (full segments only)


@query(
    "q139_segment_dedup",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    seg AS (
      SELECT doc_id,
             {o_hash64(f"array_to_string(toks[g * {_Q139_W} + 1 : g * {_Q139_W} + {_Q139_W}], ' ')")} AS seg_hash
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) // {_Q139_W} - 1)) AS g
        FROM d
      )
    ),
    freq AS (
      SELECT seg_hash, count(DISTINCT doc_id) AS n_docs
      FROM seg GROUP BY seg_hash
    )
    SELECT s.doc_id,
           count(*) AS n_segments,
           count(*) FILTER (WHERE f.n_docs >= 2) AS n_dup_segments,
           {o_rnd('CAST(count(*) FILTER (WHERE f.n_docs >= 2) AS DOUBLE) / count(*)', 6)} AS dup_fraction
    FROM seg s JOIN freq f USING (seg_hash)
    GROUP BY s.doc_id
    """,
)
def q139_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup at CCNet granularity: split every doc into
    non-overlapping 8-token segments, hash them, and flag segments that
    appear in >= 2 distinct documents — the op that removes boilerplate
    repeated ACROSS pages without dropping whole documents.

    Two shuffles total, both on the 60-bit segment hash / doc_id: the
    segment table is exploded map-side (no shuffle), the frequency
    count is a partial-aggregated groupBy, and the flag-back is an
    equi-join on the hash. At 100 TB the frequency table is the corpus'
    distinct-segment set — orders of magnitude smaller than the corpus
    (that's the point of deduplication), and a hot segment ("click
    here to subscribe" x 10^9) is ONE row after partial agg, not a
    posting list, because we only need its doc-count, never its pairs.
    """
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("toks"))
        .filter(F.size("toks") >= _Q139_W)
    )
    seg = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0), (F.size("toks") / _Q139_W).cast("long") - 1
                ),
                lambda g: F.array_join(
                    F.slice(
                        "toks", (g * _Q139_W + 1).cast("int"), _Q139_W
                    ),
                    " ",
                ),
            )
        ).alias("seg_text"),
    ).select("doc_id", hash64("seg_text").alias("seg_hash"))
    # the segment table feeds the frequency agg AND the flag-back join:
    # eager-pin it so the tokenize/explode/hash chain over the full
    # text corpus runs once (r9 plan_dup_audit; the pinned frame is two
    # narrow columns per segment, far smaller than the text it derives
    # from) — this makes the docstring's "two shuffles total" true
    seg = seg.transform(pin_frame)
    freq = seg.groupBy("seg_hash").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    dup = F.count(F.when(F.col("n_docs") >= 2, 1))
    return (
        seg.join(freq, "seg_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            dup.alias("n_dup_segments"),
            prnd(dup.cast("double") / F.count("*"), 6).alias("dup_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# q140 vocabulary coverage / OOV rate
# ---------------------------------------------------------------------------

_Q140_V = 256  # vocabulary size


@query(
    "q140_vocab_oov",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
    freq AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
    vocab AS (
      SELECT tok FROM freq
      ORDER BY n DESC, tok LIMIT {_Q140_V}
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           count(*) FILTER (WHERE v.tok IS NULL) AS n_oov,
           {o_rnd('CAST(count(*) FILTER (WHERE v.tok IS NULL) AS DOUBLE) / count(*)', 6)} AS oov_rate
    FROM tok t LEFT JOIN vocab v USING (tok)
    GROUP BY t.doc_id
    """,
)
def q140_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-256 corpus
    vocabulary (frequency desc, token asc — a total order, so the
    boundary is deterministic), then score every document's
    out-of-vocabulary token rate against it.

    The vocab is SMALL by construction (V entries after one partially
    aggregated token count), so it broadcasts and the per-doc scoring
    pass never shuffles the exploded tokens — at 100 TB the only
    exchange is the token-frequency groupBy, whose partial-agg output
    is bounded by the corpus' distinct-token count, not its size.
    """
    tok = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    vocab = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(_Q140_V)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    oov = F.count(F.when(F.col("in_vocab").isNull(), 1))
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            oov.alias("n_oov"),
            prnd(oov.cast("double") / F.count("*"), 6).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q141 edit-distance pair verification
# ---------------------------------------------------------------------------

_Q141_BKT = 50  # n_chars bucket width
_Q141_PFX = 48  # prefix length scored
_Q141_MAX = 24  # max edit distance reported


def _q141_oracle() -> str:
    """Band-composed blocking oracle: candidates must share (lang,
    length bucket) AND a MinHash LSH band key (q45's signature
    machinery, replayed arithmetically in DuckDB)."""
    from .dedup import _BASE_SH_CTE  # local import: avoid cycles at load

    p = MINHASH_PRIME
    mh_cols = ",\n             ".join(
        f"min((CAST({a} AS BIGINT) * hh + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    rows = len(MINHASH_PERMS) // LSH_BANDS
    band_selects = []
    for band in range(LSH_BANDS):
        cols = [f"mh{band * rows + j}" for j in range(rows)]
        key = (
            "md5(concat_ws(',',"
            + ",".join(f"CAST({c} AS VARCHAR)" for c in cols)
            + "))"
        )
        band_selects.append(f"SELECT doc_id, {band} AS band, {key} AS bk FROM sig")
    bands = "\n      UNION ALL\n      ".join(band_selects)
    return f"""
    WITH {_BASE_SH_CTE},
    docs_p AS (
      SELECT doc_id, lang, n_chars // {_Q141_BKT} AS bkt,
             substr(text, 1, {_Q141_PFX}) AS pfx
      FROM documents
    ),
    h AS (SELECT doc_id, ({o_hash64('shingle')}) % {p} AS hh FROM sh),
    sig AS (SELECT doc_id,
             {mh_cols}
            FROM h GROUP BY doc_id),
    bands AS (
      {bands}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
      JOIN docs_p da ON da.doc_id = a.doc_id
      JOIN docs_p db ON db.doc_id = b.doc_id
      WHERE da.lang = db.lang AND da.bkt = db.bkt
    )
    SELECT c.id_a, c.id_b,
           CAST(levenshtein(da.pfx, db.pfx) AS BIGINT) AS dist
    FROM cand c
    JOIN docs_p da ON da.doc_id = c.id_a
    JOIN docs_p db ON db.doc_id = c.id_b
    WHERE levenshtein(da.pfx, db.pfx) <= {_Q141_MAX}
    """


@query("q141_edit_distance_pairs", oracle=_q141_oracle())
def q141_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup verification: Levenshtein distance on
    48-char prefixes for candidate pairs blocked by (lang, length
    bucket) COMPOSED with a MinHash LSH band key — the exact-verify
    stage that follows a hash-based candidate generator.

    Round-8 change (VERDICT r7 item 3): (lang, bucket) blocking alone
    was the catalog's only super-linear scaling curve (x22.7 at 10x
    data — block sizes grow linearly with the corpus, pairs
    quadratically). The blocking key now composes with q45's band hash,
    so a pair must ALSO collide on one of the 4 LSH band keys; group
    sizes are capped by signature collision probability, not corpus
    size. The join stays a pure EQUI join on (band, bk, lang, bkt)
    with ``id_a < id_b`` as a residual — a hash join, never a cross
    product. Levenshtein runs JVM-side on a FIXED 48-char prefix, so
    per-pair cost is a constant ~2.3k-cell DP. Docs too short to
    shingle (< 3 tokens) have no signature and exit the candidate set —
    a sub-prefix-length doc cannot be a 48-char-prefix near-dup of
    meaningful length anyway.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("n_chars") / _Q141_BKT).cast("long").alias("bkt"),
        F.substring("text", 1, _Q141_PFX).alias("pfx"),
    )
    sigs = _minhash_sigs_from_arrays(corpus_shingle_arrays(spark, sf_dir))
    # Pin the banded frame before the self-join: the two sides differ
    # only in aliases, so Catalyst plans the signature aggregation +
    # band explode TWICE with no exchange reuse.  The pinned frame is
    # O(docs x 4 bands) narrow rows — at cluster scale this is the
    # "write the signature table once, then join it" production shape
    # (same law as operators/globalrank's exchange pin).  Eager per the
    # repo convention for frames consumed by two concurrently-scheduled
    # branches of one job (shingle_arrays_cached docstring; ADVICE r8):
    # a lazy checkpoint lets the two join-side stages race and each
    # recompute not-yet-cached partitions of the signature agg.
    banded = _band_keys(sigs).join(d, "doc_id").transform(pin_frame)
    a = banded.select(
        F.col("doc_id").alias("id_a"),
        "band",
        "bk",
        "lang",
        "bkt",
        F.col("pfx").alias("pfx_a"),
    )
    b = banded.select(
        F.col("doc_id").alias("id_b"),
        "band",
        "bk",
        "lang",
        "bkt",
        F.col("pfx").alias("pfx_b"),
    )
    dist = F.levenshtein("pfx_a", "pfx_b")
    return (
        a.join(b, ["band", "bk", "lang", "bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pfx_a", "pfx_b")
        .distinct()
        .filter(dist <= _Q141_MAX)
        .select("id_a", "id_b", dist.cast("long").alias("dist"))
    )


# ---------------------------------------------------------------------------
# q152 IDF-weighted Jaccard pairs
# ---------------------------------------------------------------------------

_Q152_DF_CAP = 16  # blocking tokens must be this rare
_Q152_MIN_J = 0.08


@query(
    "q152_weighted_jaccard",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.tok,
             tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS w
      FROM tf JOIN df USING (tok) CROSS JOIN n
    ),
    norm AS (SELECT doc_id, sum(w) AS tw FROM w GROUP BY doc_id),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id
      JOIN df ON df.tok = a.tok
      WHERE df.df <= {_Q152_DF_CAP}
    ),
    shared AS (
      SELECT c.id_a, c.id_b, sum(least(wa.w, wb.w)) AS smin
      FROM cand c
      JOIN w wa ON wa.doc_id = c.id_a
      JOIN w wb ON wb.doc_id = c.id_b AND wb.tok = wa.tok
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b,
           {o_rnd('smin / (na.tw + nb.tw - smin)', 6)} AS wjacc
    FROM shared
    JOIN norm na ON na.doc_id = id_a
    JOIN norm nb ON nb.doc_id = id_b
    WHERE smin / (na.tw + nb.tw - smin) >= {_Q152_MIN_J}
    """,
)
def q152_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted Jaccard near-dup scoring: J_w(A,B) =
    sum_t min(w_A(t), w_B(t)) / sum_t max(w_A(t), w_B(t)) with
    w = tf * ln(N/df) — boilerplate tokens stop dominating similarity,
    which plain Jaccard (q44) cannot do. Uses the identity
    sum(max) = W_A + W_B - sum(min), so only SHARED tokens are joined.

    Candidate generation blocks on rare tokens (df <= 16, the q89
    df-cap discipline — a hot token never builds a posting list); the
    verify stage joins the SMALL candidate pair list against each
    side's token map (cost = pairs x doc length, linear), then one
    groupBy folds the min-weights. All weights derive from two
    partial-agg passes (tf, df) plus a 1-row N scalar.
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    w = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            (
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("w"),
        )
    )
    norm = w.groupBy("doc_id").agg(F.sum("w").alias("tw"))
    rare = df.filter(F.col("df") <= _Q152_DF_CAP).select("tok")
    rt = tf.join(F.broadcast(rare), "tok").select("doc_id", "tok")
    cand = (
        rt.alias("a")
        .join(rt.alias("b"), "tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    wa = w.select(
        F.col("doc_id").alias("id_a"), "tok", F.col("w").alias("w_a")
    )
    wb = w.select(
        F.col("doc_id").alias("id_b"), "tok", F.col("w").alias("w_b")
    )
    shared = (
        cand.join(wa, "id_a")
        .join(wb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("w_a", "w_b")).alias("smin"))
    )
    na = norm.select(F.col("doc_id").alias("id_a"), F.col("tw").alias("tw_a"))
    nb = norm.select(F.col("doc_id").alias("id_b"), F.col("tw").alias("tw_b"))
    jw = F.col("smin") / (F.col("tw_a") + F.col("tw_b") - F.col("smin"))
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .filter(jw >= _Q152_MIN_J)
        .select("id_a", "id_b", prnd(jw, 6).alias("wjacc"))
    )


# ---------------------------------------------------------------------------
# q153 curriculum sharding
# ---------------------------------------------------------------------------

_Q153_SHARDS = 16


@query(
    "q153_curriculum_shards",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             (CASE WHEN len({_TOKS_SQL}) BETWEEN 20 AND 2000 THEN 0.25 ELSE 0.0 END
              + CASE WHEN CAST(len(list_filter({_TOKS_SQL}, t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE) / len({_TOKS_SQL}) >= 0.01 THEN 0.25 ELSE 0.0 END
              + CASE WHEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) >= 0.6 THEN 0.25 ELSE 0.0 END
              + CASE WHEN CAST(length(text) - length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) / len({_TOKS_SQL}) BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END
             ) AS q,
             {o_hash64('doc_id')} AS h
      FROM documents
    ),
    r AS (
      SELECT doc_id, q, h,
             row_number() OVER (ORDER BY q DESC, h, doc_id) AS rn,
             count(*) OVER () AS n
      FROM scored
    )
    SELECT doc_id,
           {o_rnd('q', 2)} AS quality_score,
           CAST(rn AS BIGINT) AS position,
           (rn - 1) * {_Q153_SHARDS} // n AS shard
    FROM r
    """,
)
def q153_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum sharding: rank the corpus by quality score (q42's
    composite, descending; ties shuffled by portable hash so equal-
    quality docs spread across shards) and cut it into 16 equal-size
    shards — highest-quality data lands in the late-training shards a
    curriculum schedule reads last (or first, per recipe).

    Integer shard arithmetic ((rn-1)*16 // n) is engine-exact. The
    global row_number runs through operators/globalrank (r5): a
    range-partitioned shuffle on (q desc, h, doc_id), per-partition
    ranks, and an O(partitions) broadcast offset join — no
    single-partition window ever holds the raw rows, which is the
    two-pass shape the oracle's single window merely expresses.
    """
    from ..operators.globalrank import with_global_row_stats
    from ..operators.text import quality_metrics, quality_score

    docs = table(spark, sf_dir, "documents")
    m = quality_metrics("text")
    scored = docs.select(
        "doc_id",
        quality_score(m).alias("q"),
        hash64("doc_id").alias("h"),
    )
    r = with_global_row_stats(
        scored,
        [F.col("q").desc(), "h", "doc_id"],
        rank_col="rn",
        count_col="n",
    )
    return r.select(
        "doc_id",
        prnd("q", 2).alias("quality_score"),
        F.col("rn").cast("long").alias("position"),
        ((F.col("rn") - 1) * _Q153_SHARDS / F.col("n"))
        .cast("long")
        .alias("shard"),
    )


# ---------------------------------------------------------------------------
# q154 systematic weighted sampling
# ---------------------------------------------------------------------------

_Q154_STEP = 5000  # one pick per 5000 chars of cumulative weight


@query(
    "q154_systematic_sample",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, n_chars, {o_hash64('doc_id')} AS hk FROM documents
    ),
    c AS (
      SELECT doc_id, n_chars,
             CAST(sum(n_chars) OVER (ORDER BY hk, doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM h
    )
    SELECT doc_id, n_chars, cum
    FROM c
    WHERE cum // {_Q154_STEP} > (cum - n_chars) // {_Q154_STEP}
    """,
)
def q154_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic weighted sampling: documents ordered by a portable
    hash (a deterministic shuffle), cumulative character weight
    computed, and one document picked every 5000 chars of cumulative
    weight — inclusion probability proportional to size, ZERO RNG
    state, and exact integer arithmetic (no float boundary can flip a
    pick). Append-stable ordering comes from the hash key.

    Same global-prefix-sum shape as q153, and since r5 the real
    plan: operators/globalrank range-partitions by (hash, doc_id),
    sums per partition, and broadcast-joins the O(partitions) offsets
    — the oracle's single cumulative window never materializes on one
    task.  The per-row predicate (cum//S > (cum-w)//S) then selects
    locally with no further shuffle.
    """
    from ..operators.globalrank import with_global_row_stats

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", hash64("doc_id").alias("hk")
    )
    c = with_global_row_stats(
        docs, ["hk", "doc_id"], cum_sums={"cum": "n_chars"}
    )
    step = F.lit(_Q154_STEP).cast("long")
    pick = (F.col("cum") / step).cast("long") > (
        (F.col("cum") - F.col("n_chars")) / step
    ).cast("long")
    return c.filter(pick).select("doc_id", "n_chars", "cum")


# ---------------------------------------------------------------------------
# q157 token-id encoding (tokenizer apply)
# ---------------------------------------------------------------------------

_Q157_V = 256
_Q157_HEAD = 8


@query(
    "q157_token_ids",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    tok AS (
      SELECT doc_id, toks[i] AS tok, i AS pos
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks))) AS i
        FROM d
      )
    ),
    freq AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
    vocab AS (
      SELECT tok,
             row_number() OVER (ORDER BY n DESC, tok) AS id
      FROM freq ORDER BY n DESC, tok LIMIT {_Q157_V}
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           count(*) FILTER (WHERE v.id IS NULL) AS n_oov,
           array_to_string((list(coalesce(v.id, 0) ORDER BY t.pos))[1:{_Q157_HEAD}], ',') AS ids_head
    FROM tok t LEFT JOIN vocab v USING (tok)
    GROUP BY t.doc_id
    """,
)
def q157_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at scale: map every token to its id in
    the frequency-ranked top-256 vocabulary (OOV -> 0), preserving
    document order — the encode step that turns a curated corpus into
    model input, here emitting each doc's token/OOV counts and the
    first 8 ids as the hash-checkable witness of the full encoding
    (emitted as a comma-joined STRING on both sides — container
    output columns crash the driver's pandas frame sort, the r4
    lesson).

    The vocab (id = rank by frequency desc, token asc — a total order)
    broadcasts; position comes from posexplode so reassembly is an
    order-insensitive groupBy + sort_array, never a window over the
    token stream. At 100 TB: one token-frequency groupBy + a
    broadcast-join map pass, the same shape as q140.
    """
    tok = table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    vocab = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(_Q157_V)
        .select(
            "tok",
            F.row_number()
            .over(W.orderBy(F.col("n").desc(), "tok"))
            .cast("long")
            .alias("id"),
        )
    )
    enc = tok.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id", "pos", F.coalesce("id", F.lit(0).cast("long")).alias("id")
    )
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count(F.when(F.col("id") == 0, 1)).alias("n_oov"),
            F.array_join(
                F.slice(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("pos", "id"))),
                        lambda s: s.getField("id").cast("string"),
                    ),
                    1,
                    _Q157_HEAD,
                ),
                ",",
            ).alias("ids_head"),
        )
    )


# ---------------------------------------------------------------------------
# q158 bigram language-model NLL
# ---------------------------------------------------------------------------


@query(
    "q158_bigram_nll",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bg
      FROM d
    ),
    bgs AS (
      SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bg
    ),
    c2 AS (SELECT bg, count(*) AS c12 FROM bgs GROUP BY bg),
    tok AS (SELECT unnest({_TOKS_SQL}) AS tok FROM documents),
    c1 AS (SELECT tok, count(*) AS c1 FROM tok GROUP BY tok),
    v AS (SELECT count(*) AS vsize FROM c1)
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           {o_rnd('avg(-ln((c2.c12 + 1.0) / (c1.c1 + v.vsize)))', 4)} AS bigram_nll
    FROM bgs b
    JOIN c2 USING (bg)
    JOIN c1 ON c1.tok = b.w1
    CROSS JOIN v
    GROUP BY b.doc_id
    """,
)
def q158_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score (one level up from q95's
    unigram NLL): train add-one-smoothed bigram conditionals
    p(w2|w1) = (c(w1 w2)+1)/(c(w1)+V) on the corpus itself, then score
    every document by its average bigram negative log-likelihood —
    the fluency screen that catches shuffled/templated text unigram
    models cannot.

    Bigrams derive map-side from the token array (no self-join on
    position); counts are two partial-agg groupBys; scoring joins the
    doc's bigram instances against the count tables on their hash keys.
    The vocab-size scalar broadcasts. Hot bigrams are single count
    rows, never posting lists."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    bgs = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("toks", i), F.element_at("toks", i + 1)
                ),
            )
        ).alias("bg"),
    ).select("doc_id", "bg", F.split("bg", " ").getItem(0).alias("w1"))
    c2 = bgs.groupBy("bg").agg(F.count("*").alias("c12"))
    tok = table(spark, sf_dir, "documents").select(
        F.explode(tokens("text")).alias("tok")
    )
    c1 = tok.groupBy("tok").agg(F.count("*").alias("c1"))
    v = c1.agg(F.count("*").alias("vsize"))
    nll = -F.log(
        (F.col("c12") + 1.0) / (F.col("c1") + F.col("vsize"))
    )
    return (
        bgs.join(c2, "bg")
        .join(c1, F.col("w1") == F.col("tok"))
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            prnd(F.avg(nll), 4).alias("bigram_nll"),
        )
    )


# ---------------------------------------------------------------------------
# q166 feature hashing (hashing-trick bag of words)
# ---------------------------------------------------------------------------

_Q166_DIM = 64


@query(
    "q166_feature_hashing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    )
    SELECT doc_id,
           ({o_hash64('tok')}) % {_Q166_DIM} AS bucket,
           count(*) AS cnt
    FROM tok
    GROUP BY doc_id, ({o_hash64('tok')}) % {_Q166_DIM}
    """,
)
def q166_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization: every token maps to one of 64
    buckets via the portable 60-bit hash, emitting each document's
    SPARSE feature vector as (bucket, count) rows — the fixed-width,
    vocabulary-free encoding (Weinberger et al. 2009) that feeds
    linear/logistic baselines without a vocab build or a second pass.

    Map-side explode + one partial-agg groupBy on (doc, bucket); no
    vocabulary state, no broadcast, nothing driver-side — the property
    that makes feature hashing THE encoder that still works when the
    token space is unbounded (URLs, ids) at 100 TB. Counts are exact
    integers, so the gate hash-checks without rounding.
    """
    tok = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    return (
        tok.select("doc_id", (hash64("tok") % _Q166_DIM).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# q200 end-to-end curation funnel
# ---------------------------------------------------------------------------


@query(
    "q200_curation_funnel",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, lang, text,
             md5(lower(text)) AS fingerprint,
             len({_TOKS_SQL}) AS n_tokens
      FROM documents
    ),
    keep_exact AS (
      SELECT *, row_number() OVER (PARTITION BY fingerprint
                                   ORDER BY doc_id) AS rk
      FROM fp
    ),
    scored AS (
      SELECT doc_id, lang, n_tokens, (rk = 1) AS kept_exact,
             (CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 0.25 ELSE 0.0 END
              + CASE WHEN CAST(len(list_filter({_TOKS_SQL}, t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE) / len({_TOKS_SQL}) >= 0.01 THEN 0.25 ELSE 0.0 END
              + CASE WHEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) >= 0.6 THEN 0.25 ELSE 0.0 END
              + CASE WHEN CAST(length(text) - length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) / len({_TOKS_SQL}) BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END
             ) AS q
      FROM keep_exact
    )
    SELECT lang,
           count(*) AS docs_total,
           count(*) FILTER (WHERE kept_exact) AS docs_after_dedup,
           count(*) FILTER (WHERE kept_exact AND q >= 0.5) AS docs_final,
           CAST(coalesce(sum(n_tokens) FILTER (WHERE kept_exact AND q >= 0.5), 0) AS BIGINT) AS tokens_final
    FROM scored GROUP BY lang
    """,
)
def q200_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel in ONE query: exact dedup (q43's
    md5 fingerprint, min-id keeper) -> quality fence (q42's composite
    score >= 0.5) -> per-language survivor and token counts — the
    dataset-card table every corpus release publishes (how much
    survived each stage, per language).

    Composes three operator families without materialization: the
    fingerprint keeper is one window over the fingerprint hash, the
    score is map-side, and the funnel is a single conditional
    aggregation. At 100 TB this is the audit query run over the SAME
    lineage the curation writer (plans/curation.py) executes, so the
    published counts provably match the shipped data."""
    from ..operators.text import quality_metrics, quality_score

    docs = table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "lang",
        "text",
        F.md5(F.lower("text")).alias("fingerprint"),
        F.size(tokens("text")).alias("n_tokens"),
    )
    rk = F.row_number().over(
        W.partitionBy("fingerprint").orderBy("doc_id")
    )
    m = quality_metrics("text")
    scored = fp.select(
        "doc_id",
        "lang",
        "n_tokens",
        (rk == 1).alias("kept_exact"),
        quality_score(m).alias("q"),
    )
    final = F.col("kept_exact") & (F.col("q") >= 0.5)
    return scored.groupBy("lang").agg(
        F.count("*").alias("docs_total"),
        F.count(F.when(F.col("kept_exact"), 1)).alias("docs_after_dedup"),
        F.count(F.when(final, 1)).alias("docs_final"),
        F.coalesce(
            F.sum(F.when(final, F.col("n_tokens"))), F.lit(0)
        ).cast("long").alias("tokens_final"),
    )


# ---------------------------------------------------------------------------
# q201 TF-IDF keyword extraction
# ---------------------------------------------------------------------------

_Q201_K = 5


@query(
    "q201_tfidf_keywords",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.tok,
             tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS w
      FROM tf JOIN df USING (tok) CROSS JOIN n
    ),
    r AS (
      SELECT doc_id, tok, w,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY w DESC, tok) AS rk
      FROM w
    )
    SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok AS keyword,
           {o_rnd('w', 6)} AS tfidf
    FROM r WHERE rk <= {_Q201_K}
    """,
)
def q201_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: each document's top-5 most
    characteristic tokens (tf * ln(N/df), ties broken lexically) — the
    summarization/tagging primitive built from the same two
    partial-agg passes as q152's weights, plus one top-k-per-doc rank
    window. IDF cancels common boilerplate exactly where raw
    frequency (q140's vocab) promotes it."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    w = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            (
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("w"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.col("w").desc(), "tok")
    )
    return (
        w.withColumn("rk", rk)
        .filter(F.col("rk") <= _Q201_K)
        .select(
            "doc_id",
            F.col("rk").cast("long").alias("rk"),
            F.col("tok").alias("keyword"),
            prnd("w", 6).alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# q202 language-ID confusion matrix (operator self-evaluation)
# ---------------------------------------------------------------------------


def _q202_oracle() -> str:
    # replicate q41's priority-chain argmax (incl. the 'und' fallback)
    from ..operators.text import LANG_MARKERS, LANG_PRIORITY
    from .text_q import _in_list

    score_cols = ", ".join(
        f"len(list_filter({_TOKS_SQL}, t -> t IN {_in_list(LANG_MARKERS[lang])})) AS s_{lang}"
        for lang in LANG_PRIORITY
    )
    all_zero = " AND ".join(f"s_{lang} = 0" for lang in LANG_PRIORITY)
    chain = [f"WHEN {all_zero} THEN 'und'"]
    remaining = list(LANG_PRIORITY)
    while remaining:
        lang = remaining.pop(0)
        if remaining:
            cond = " AND ".join(f"s_{lang} >= s_{o}" for o in remaining)
            chain.append(f"WHEN {cond} THEN '{lang}'")
        else:
            chain.append(f"ELSE '{lang}'")
    case = "CASE " + " ".join(chain) + " END"
    return f"""
    WITH s AS (
      SELECT doc_id, lang, {score_cols} FROM documents
    )
    SELECT lang AS actual, {case} AS predicted, count(*) AS n
    FROM s GROUP BY lang, predicted
    """


@query("q202_langid_confusion", oracle=_q202_oracle())
def q202_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the q41 marker-argmax classifier
    evaluated against the table's labeled ``lang`` column — the
    operator-quality readout (which language pairs the heuristic
    confuses) produced by the engine itself, through the same gate as
    the operator. CASE-argmax tie order is the sorted language list in
    both engines."""
    from ..operators.text import lang_id
    from ..operators.text import tokens as _toks

    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("actual"),
            lang_id(_toks("text")).alias("predicted"),
        )
        .groupBy("actual", "predicted")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# q214 hash-quality (collision) audit
# ---------------------------------------------------------------------------


@query(
    "q214_hash_collision_audit",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    seg AS (
      SELECT DISTINCT
             array_to_string(toks[g * {_Q139_W} + 1 : g * {_Q139_W} + {_Q139_W}], ' ') AS seg_text
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) // {_Q139_W} - 1)) AS g
        FROM d
      )
    ),
    h AS (
      SELECT seg_text, {o_hash64('seg_text')} AS h60,
             ({o_hash64('seg_text')}) % 1048576 AS h20
      FROM seg
    )
    SELECT count(*) AS n_distinct_values,
           count(DISTINCT h60) AS n_distinct_h60,
           count(*) - count(DISTINCT h60) AS collisions_60bit,
           count(*) - count(DISTINCT h20) AS collisions_20bit
    FROM h
    """,
)
def q214_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-quality audit: collision counts of the engine's portable
    60-bit hash over the corpus' distinct segments, next to a
    deliberately truncated 20-bit variant — the audit that VALIDATES
    the dedup family's central assumption (hash equality ==
    value equality at working scale). 60-bit collisions should be 0
    here (birthday bound ~n^2/2^61); the 20-bit column shows what
    breaking the assumption looks like, so the monitor has a
    known-positive.

    One distinct + two conditional distinct aggregates — partial-agg
    all the way; at 100 TB the audit costs a distinct scan of segment
    values, which the dedup pipeline already materializes."""
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("toks"))
        .filter(F.size("toks") >= _Q139_W)
    )
    seg = d.select(
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0), (F.size("toks") / _Q139_W).cast("long") - 1
                ),
                lambda g: F.array_join(
                    F.slice("toks", (g * _Q139_W + 1).cast("int"), _Q139_W),
                    " ",
                ),
            )
        ).alias("seg_text")
    ).distinct()
    h = seg.select(
        hash64("seg_text").alias("h60"),
        (hash64("seg_text") % 1048576).alias("h20"),
    )
    return h.agg(
        F.count("*").alias("n_distinct_values"),
        F.countDistinct("h60").alias("n_distinct_h60"),
        (F.count("*") - F.countDistinct("h60")).alias("collisions_60bit"),
        (F.count("*") - F.countDistinct("h20")).alias("collisions_20bit"),
    )


# ---------------------------------------------------------------------------
# q230 content-defined chunking (rolling-hash boundaries, FastCDC shape)
# ---------------------------------------------------------------------------

_Q230_GRAM = 3  # rolling window (tokens) the boundary hash sees
_Q230_MOD = 8  # boundary when window hash % MOD == 0 (expected chunk ~8 toks)


@query(
    "q230_cdc_chunks",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    h AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) >= 4 THEN
               list_transform(range(1, len(toks) - 2),
                 j -> {o_hash64(f"array_to_string(list_slice(toks, j, j + {_Q230_GRAM - 1}), ' ')")})
             ELSE CAST([] AS BIGINT[]) END AS hl
      FROM d
    ),
    st AS (
      SELECT doc_id, toks, n,
             list_concat([CAST(1 AS BIGINT)],
               list_transform(
                 list_filter(range(1, greatest(n - 2, CAST(1 AS BIGINT))),
                             j -> hl[j] % {_Q230_MOD} = 0),
                 j -> CAST(j + {_Q230_GRAM} AS BIGINT))) AS starts
      FROM h
    ),
    ch AS (
      SELECT doc_id, toks, n, starts,
             generate_subscripts(starts, 1) AS chunk_idx,
             unnest(starts) AS s
      FROM st
    ),
    spans AS (
      SELECT doc_id, chunk_idx, s AS start_tok,
             coalesce(starts[chunk_idx + 1], n + 1) - s AS n_toks,
             {o_hash64("array_to_string(list_slice(toks, s, coalesce(starts[chunk_idx + 1], n + 1) - 1), ' ')")} AS chunk_hash
      FROM ch
    )
    SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
           CAST(start_tok AS INTEGER) AS start_tok,
           CAST(n_toks AS INTEGER) AS n_toks, chunk_hash,
           CAST(row_number() OVER (PARTITION BY chunk_hash
                                   ORDER BY doc_id, chunk_idx) = 1 AS INT) AS is_first_copy
    FROM spans
    """,
)
def q230_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the FastCDC/rsync shape at token
    granularity): a chunk boundary opens wherever the rolling 3-token
    window hash is 0 mod 8, so expected chunk length is ~8 tokens and
    — the property fixed-size chunking lacks — an insertion early in a
    document only reshuffles boundaries up to the next hash-synced
    cut, leaving every later chunk hash INTACT for dedup. Emits each
    chunk's span, content hash, and whether it is the first copy
    corpus-wide (storage dedup keeps exactly the is_first_copy=1
    rows).

    Boundary detection, span assembly, and chunk hashing are all
    array-domain HOFs inside one row — a pure map stage (q47's law);
    the only shuffle is the first-copy window on the already-tiny
    chunk table. The oracle replays boundaries with the identical
    md5-derived hash, so both engines cut identical chunks."""
    docs = table(spark, sf_dir, "documents")
    from ..operators.text import word_shingles

    d = docs.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        F.transform(
            word_shingles(F.col("toks"), _Q230_GRAM), hash64
        ).alias("hl"),
    )
    # chunk start positions: 1 + every j+GRAM where window j hashes 0 mod MOD
    # (j <= n-3 keeps the last chunk non-empty); guard n<4 -> single chunk
    starts = F.concat(
        F.array(F.lit(1).cast("long")),
        F.when(
            F.col("n") >= 4,
            F.transform(
                F.filter(
                    F.sequence(
                        F.lit(1), F.greatest(F.col("n") - 3, F.lit(1))
                    ),
                    lambda j: F.element_at(F.col("hl"), j) % _Q230_MOD == 0,
                ),
                lambda j: (j + _Q230_GRAM).cast("long"),
            ),
        ).otherwise(F.array().cast("array<long>")),
    )
    # Pin the boundary table before exploding: Spark's generate path
    # re-evaluates the generator input's expression chain (the rolling
    # window hashes + boundary filter, all interpreted HOFs) per
    # OUTPUT chunk row — measured 41 s at sf0.1 vs 0.1 s when the
    # pre-explode frame is materialized once (r5 sweep find).
    st = d.select(
        "doc_id", "toks", "n", starts.alias("starts")
    ).transform(pin_frame_lazy)
    ch = st.select(
        "doc_id",
        "toks",
        "n",
        "starts",
        F.posexplode("starts").alias("pos", "s"),
    )
    end_excl = F.coalesce(
        F.try_element_at(F.col("starts"), F.col("pos") + 2), F.col("n") + 1
    )
    spans = ch.select(
        "doc_id",
        (F.col("pos") + 1).cast("int").alias("chunk_idx"),
        F.col("s").cast("int").alias("start_tok"),
        (end_excl - F.col("s")).cast("int").alias("n_toks"),
        hash64(
            F.array_join(
                F.slice(F.col("toks"), F.col("s").cast("int"), (end_excl - F.col("s")).cast("int")),
                " ",
            )
        ).alias("chunk_hash"),
    )
    first = W.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    return spans.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        "n_toks",
        "chunk_hash",
        (F.row_number().over(first) == 1).cast("int").alias("is_first_copy"),
    )


# ---------------------------------------------------------------------------
# q249 BPE merge training (3 rounds, exact greedy-overlap semantics)
# ---------------------------------------------------------------------------

_Q249_ROUNDS = 3


def _q249_round_sql(r: int) -> str:
    """CTEs for one merge round: pair counts -> top pair -> greedy
    left-to-right merge with overlap resolution (odd positions of each
    run of consecutive matches merge; even ones are consumed)."""
    return f""",
    pr{r} AS (
      SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
      FROM toks{r}
    ),
    nb{r} AS (
      SELECT doc_id, pos, tok,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM pr{r}
    ),
    top{r} AS (
      SELECT tok AS a, nxt AS b, CAST(count(*) AS BIGINT) AS n_occ
      FROM nb{r} WHERE nxt IS NOT NULL
      GROUP BY tok, nxt
      ORDER BY n_occ DESC, a, b LIMIT 1
    ),
    mt{r} AS (
      SELECT n.doc_id, n.pos
      FROM nb{r} n JOIN top{r} t ON n.tok = t.a AND n.nxt = t.b
    ),
    isl{r} AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM mt{r}
    ),
    st{r} AS (
      SELECT doc_id, pos
      FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY doc_id, grp ORDER BY pos) AS k
        FROM isl{r}
      ) WHERE k % 2 = 1
    ),
    rb{r} AS (
      SELECT p.doc_id, p.pos,
             CASE WHEN s1.pos IS NOT NULL THEN t.a || '~' || t.b
                  ELSE p.tok END AS tok,
             s2.pos IS NOT NULL AS dropped
      FROM pr{r} p
      CROSS JOIN top{r} t
      LEFT JOIN st{r} s1 ON s1.doc_id = p.doc_id AND s1.pos = p.pos
      LEFT JOIN st{r} s2 ON s2.doc_id = p.doc_id AND s2.pos = p.pos - 1
    ),
    toks{r + 1} AS (
      SELECT doc_id, list(tok ORDER BY pos) AS toks
      FROM rb{r} WHERE NOT dropped GROUP BY doc_id
    ),
    out{r} AS (
      SELECT {r} AS round, t.a, t.b, t.n_occ,
             (SELECT CAST(count(*) AS BIGINT) FROM st{r}) AS n_merges
      FROM top{r} t
    )"""


def _q249_oracle() -> str:
    rounds = "".join(_q249_round_sql(r) for r in range(1, _Q249_ROUNDS + 1))
    unions = " UNION ALL ".join(
        f"SELECT * FROM out{r}" for r in range(1, _Q249_ROUNDS + 1)
    )
    return f"""
    WITH toks1 AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
    {rounds}
    SELECT CAST(round AS INTEGER) AS round, a, b, n_occ, n_merges
    FROM ({unions})
    """


def _rx_quote(s: str) -> str:
    """java.util.regex.Pattern.quote: wrap in \\Q...\\E, splitting any
    embedded \\E so arbitrary token text is matched literally."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _rx_repl(s: str) -> str:
    """java.util.regex.Matcher.quoteReplacement: escape backslash and
    dollar so the merged token is inserted literally."""
    return s.replace("\\", "\\\\").replace("$", "\\$")


@query("q249_bpe_train", oracle=_q249_oracle())
def q249_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge TRAINING, three rounds: each round counts adjacent
    token pairs corpus-wide, picks the most frequent (deterministic
    tie-break), and applies the merge with exact greedy left-to-right
    semantics — overlapping matches (e.g. 'x x x' for pair (x,x))
    resolve by island parity: consecutive match runs merge at odd
    offsets only, exactly what a sequential BPE trainer does.  Emits
    per round the chosen pair, its occurrence count, and the number of
    merges actually applied (< occurrences when runs overlap) — q133
    scored ONE round of candidates; this trains.

    r13 restructure (guide S2.4 — remove shuffles outright; S1.2 —
    fix the distributed algorithm first): the r12 shape paid per round
    a posexplode to position grain, a lead() window, TWO more windows
    on the match positions (island grouping + parity), a crossJoin +
    two position-grain left joins, and a collect_list re-assembly —
    ~6 corpus-grain exchanges per round.  But the merge application is
    PER-DOCUMENT: greedy left-to-right replacement of the (a, b) pair.
    So each round now keeps the corpus as one sentinel-wrapped string
    per doc (' ' || join(toks) || ' ') and applies the merge as ONE
    ``regexp_replace`` with non-consuming boundaries —
    ``(?<= )\\Qa\\E \\Qb\\E(?= )`` -> ``a~b``.  Java's replaceAll is
    leftmost non-overlapping and resumes AFTER each match, which IS
    island parity: in 'x x x' the first 'x x' merges and scanning
    resumes past it, so the overlapping second match is skipped;
    disjoint adjacent matches ('a b a b') both merge because the
    lookaround boundaries consume no separator.  Equality with the
    window/island reference (kept in tests/test_q249_equivalence.py)
    is asserted there.
    Per round the only distributed work left is the pair-count
    groupBy (partial-aggregated zip_with pairs off the stored string)
    + a LIMIT-1 driver probe of the winner, the map-only
    regexp_replace, and a 1-row merge-count aggregate; rounds chain
    through pin_loop so plan depth stays bounded.  n_merges needs no
    token re-count: a merge deletes exactly one separator space and
    'a b' -> 'a~b' keeps the string LENGTH unchanged, so the per-doc
    merge count is the drop in space count.  The oracle unrolls the
    identical three rounds (window-for-window) in one SQL statement."""
    return _q249_train_rounds(table(spark, sf_dir, "documents"), _Q249_ROUNDS)


def _q249_train_rounds(docs: DataFrame, rounds: int) -> DataFrame:
    """Regex-greedy BPE training loop over a (doc_id, text) frame —
    the q249 engine, factored so the identity test can drive it on
    synthetic corpora against the window/island reference."""
    # sentinel-wrapped token stream: join(split(lower(text)),' ') is
    # lower(text) itself, so round 1 needs no tokenize at all
    s_df = docs.select(
        "doc_id",
        F.concat(F.lit(" "), F.lower("text"), F.lit(" ")).alias("s"),
    ).transform(pin_loop)

    def _spaces(c):
        return F.length(c) - F.length(F.regexp_replace(c, " ", ""))

    outs = []
    for r in range(1, rounds + 1):
        toks = F.split(
            F.col("s").substr(F.lit(2), F.length("s") - 2), " "
        )
        pairs = (
            s_df.select(toks.alias("_t"))
            .select(
                F.explode(
                    F.zip_with(
                        F.col("_t"),
                        F.slice(
                            F.col("_t"),
                            2,
                            F.greatest(F.lit(0), F.size("_t") - 1),
                        ),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    )
                ).alias("p")
            )
            # zip_with null-pads the shorter side: the (last_tok, null)
            # tail row is not a pair (= the lead() IS NOT NULL filter)
            .filter(F.col("p.b").isNotNull())
        )
        top_rows = (
            pairs.groupBy(
                F.col("p.a").alias("a"), F.col("p.b").alias("b")
            )
            .agg(F.count("*").cast("long").alias("n_occ"))
            .orderBy(F.desc("n_occ"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top_rows:
            break
        a, b, n_occ = top_rows[0][0], top_rows[0][1], top_rows[0][2]
        pat = f"(?<= ){_rx_quote(a)} {_rx_quote(b)}(?= )"
        repl = _rx_repl(a + "~" + b)
        # two projections on purpose: regexp_replace is non-cheap and
        # referenced by both the next-round string and the merge
        # count; CollapseProject keeps them separate so it runs once
        stage = s_df.select(
            "doc_id", "s", F.regexp_replace("s", pat, repl).alias("_s2")
        ).select(
            "doc_id",
            F.col("_s2").alias("s"),
            (_spaces(F.col("s")) - _spaces(F.col("_s2"))).alias("_nm"),
        )
        stage = stage.transform(pin_loop)
        summary = (
            stage.agg(F.sum("_nm").cast("long").alias("n_merges"))
            .select(
                F.lit(r).cast("int").alias("round"),
                F.lit(a).alias("a"),
                F.lit(b).alias("b"),
                F.lit(n_occ).cast("long").alias("n_occ"),
                "n_merges",
            )
        )
        outs.append(summary)
        s_df = stage.select("doc_id", "s")
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


# ---------------------------------------------------------------------------
# q252 deterministic token dropout (augmentation with audit trail)
# ---------------------------------------------------------------------------

_Q252_DROP_MOD = 10  # drop ~1 in 10 tokens


@query(
    "q252_token_dropout",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    k AS (
      SELECT doc_id, toks,
             list_filter(toks, (x, i) ->
               {o_hash64("CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")} % {_Q252_DROP_MOD} <> 0
             ) AS kept
      FROM d
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(kept) AS INTEGER) AS n_kept,
           {o_rnd('1.0 - CAST(len(kept) AS DOUBLE) / len(toks)', 6)} AS drop_share,
           {o_hash64("array_to_string(kept, ' ')")} AS aug_fingerprint
    FROM k
    """,
)
def q252_token_dropout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-dropout augmentation: drop every token
    whose (doc, position) hash lands in 1-of-10 — the robustness
    augmentation a training pipeline applies at the data layer, made
    REPRODUCIBLE (seedless portable hash, so epoch N of any rerun
    sees the same corruption) and auditable (the fingerprint of each
    augmented document rides the gate, so both engines provably
    produce byte-identical augmented text).

    Pure per-row array HOF — zero shuffle, zero Python; position
    enters the hash 0-based on both engines (Spark filter lambdas are
    0-indexed, DuckDB list lambdas 1-indexed, reconciled here)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    kept = F.filter(
        F.col("toks"),
        lambda x, i: hash64(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                i.cast("string"),
            )
        )
        % _Q252_DROP_MOD
        != 0,
    )
    k = d.select("doc_id", "toks", kept.alias("kept"))
    return k.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        F.size("kept").cast("int").alias("n_kept"),
        prnd(
            1.0 - F.size("kept").cast("double") / F.size("toks"), 6
        ).alias("drop_share"),
        hash64(F.array_join("kept", " ")).alias("aug_fingerprint"),
    )


# ---------------------------------------------------------------------------
# q363 per-source dataset card (full curation composition)
# ---------------------------------------------------------------------------

_Q363_LEXICON = (("slow", 1), ("big", 1), ("dup", 3))
_Q363_FLAG_AT = 4


def _q363_oracle() -> str:
    lex_vals = ", ".join(f"('{t}', {w})" for t, w in _Q363_LEXICON)
    qscore = f"""(CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 0.25 ELSE 0.0 END
              + CASE WHEN CAST(len(list_filter({_TOKS_SQL}, t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE) / len({_TOKS_SQL}) >= 0.01 THEN 0.25 ELSE 0.0 END
              + CASE WHEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) >= 0.6 THEN 0.25 ELSE 0.0 END
              + CASE WHEN CAST(length(text) - length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) / len({_TOKS_SQL}) BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END)"""
    return f"""
    WITH lex(term, sev) AS (VALUES {lex_vals}),
    fp AS (
      SELECT doc_id, source, lang, text,
             md5(lower(text)) AS fingerprint,
             len({_TOKS_SQL}) AS n_tokens
      FROM documents
    ),
    keep AS (
      SELECT *, row_number() OVER (PARTITION BY fingerprint
                                   ORDER BY doc_id) = 1 AS kept_exact
      FROM fp
    ),
    sev AS (
      SELECT t.doc_id, coalesce(sum(l.sev), 0) AS sev_sum
      FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents) t
      LEFT JOIN lex l ON l.term = t.tok
      GROUP BY t.doc_id
    ),
    scored AS (
      SELECT k.source, k.lang, k.n_tokens, k.kept_exact,
             {qscore} AS q,
             (s.sev_sum >= {_Q363_FLAG_AT}) AS flagged
      FROM keep k JOIN sev s USING (doc_id)
    ),
    card AS (
      SELECT source,
             count(*) AS docs_total,
             CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
             count(*) FILTER (WHERE kept_exact) AS docs_after_dedup,
             count(*) FILTER (WHERE flagged) AS docs_flagged,
             count(*) FILTER (WHERE lang = 'en') AS docs_en,
             count(*) FILTER (WHERE kept_exact AND q >= 0.5 AND NOT flagged) AS docs_final,
             CAST(coalesce(sum(n_tokens) FILTER (WHERE kept_exact AND q >= 0.5 AND NOT flagged), 0) AS BIGINT) AS tokens_final
      FROM scored GROUP BY source
    )
    SELECT source,
           CAST(docs_total AS BIGINT) AS docs_total,
           tokens_total,
           CAST(docs_after_dedup AS BIGINT) AS docs_after_dedup,
           CAST(docs_final AS BIGINT) AS docs_final,
           tokens_final,
           {o_rnd('CAST(docs_flagged AS DOUBLE) / docs_total', 6)} AS flag_rate,
           {o_rnd('CAST(docs_en AS DOUBLE) / docs_total', 6)} AS en_share,
           {o_rnd('CAST(docs_final AS DOUBLE) / docs_total', 6)} AS keep_rate
    FROM card
    """


@query("q363_dataset_card", oracle=_q363_oracle())
def q363_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE dataset card — the release artifact of the whole
    curation pipeline in ONE declarative query: exact-dedup survivors
    (q43's fingerprint keep-first), quality fence (q42's composite
    score), lexicon content screen (q362), language share, and the
    final kept-doc/kept-token counts with keep rate.  This is the
    table a corpus release publishes per source, and because it runs
    over the SAME lineage as the individual operators, the published
    numbers provably reconcile with each stage's own audit query.

    Composition without materialization: one fingerprint window, one
    token-explosion rollup (severity), map-side scoring, and a single
    per-source conditional aggregation — three shuffles total at any
    scale, none carrying token-level rows past the doc rollup."""
    from ..operators.text import quality_metrics, quality_score, tokens

    docs = table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "source",
        "lang",
        "text",
        F.md5(F.lower("text")).alias("fingerprint"),
        F.size(tokens("text")).alias("n_tokens"),
    )
    rk = F.row_number().over(
        W.partitionBy("fingerprint").orderBy("doc_id")
    )
    keep = fp.select(
        "doc_id", "source", "lang", "text", "n_tokens",
        (rk == 1).alias("kept_exact"),
    )
    lex = spark.createDataFrame(list(_Q363_LEXICON), "term string, sev int")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    sev = (
        tok.join(F.broadcast(lex), tok.tok == lex.term, "left")
        .groupBy("doc_id")
        .agg(F.coalesce(F.sum("sev"), F.lit(0)).alias("sev_sum"))
    )
    m = quality_metrics("text")
    scored = keep.join(sev, "doc_id").select(
        "source",
        "lang",
        "n_tokens",
        "kept_exact",
        quality_score(m).alias("q"),
        (F.col("sev_sum") >= _Q363_FLAG_AT).alias("flagged"),
    )
    final = F.col("kept_exact") & (F.col("q") >= 0.5) & ~F.col("flagged")
    card = scored.groupBy("source").agg(
        F.count("*").cast("long").alias("docs_total"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
        F.count(F.when(F.col("kept_exact"), 1))
        .cast("long")
        .alias("docs_after_dedup"),
        F.count(F.when(final, 1)).cast("long").alias("docs_final"),
        F.coalesce(F.sum(F.when(final, F.col("n_tokens"))), F.lit(0))
        .cast("long")
        .alias("tokens_final"),
        F.count(F.when(F.col("flagged"), 1)).alias("_n_flag"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("_n_en"),
    )
    return card.select(
        "source",
        "docs_total",
        "tokens_total",
        "docs_after_dedup",
        "docs_final",
        "tokens_final",
        prnd(F.col("_n_flag").cast("double") / F.col("docs_total"), 6).alias(
            "flag_rate"
        ),
        prnd(F.col("_n_en").cast("double") / F.col("docs_total"), 6).alias(
            "en_share"
        ),
        prnd(
            F.col("docs_final").cast("double") / F.col("docs_total"), 6
        ).alias("keep_rate"),
    )
