"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data pipeline dedup at 100 TB scale:

- exact: hash-groupBy on the normalized-content fingerprint; one
  shuffle on a 128-bit key, canonical = min doc_id per group.
- n-gram Jaccard: shingle -> explode -> self-equi-join on shingle ->
  per-pair intersection counts -> Jaccard filter. The join is
  hash-partitioned on the shingle; hot shingles are the skew risk —
  :func:`stop_shingle_cut` caps document frequency to bound every
  posting list; the LSH path below is the designed scale path.
- MinHash+LSH: k permutation hashes over shingles -> banded signature
  -> bucket join on (band, band-hash) -> candidate pairs -> exact
  Jaccard verify. Pair generation cost drops from O(n^2) to
  O(sum bucket^2); all hashes are portable md5-based arithmetic so a
  SQL oracle can replay them.
- SimHash: tf-weighted bitwise majority of token hashes -> 64-bit-ish
  signature; hamming-close pairs via banded equality joins.

All signature math uses ``hash64`` (md5-derived, engine-portable) so
the DuckDB oracles are bit-exact replicas, not approximations.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.portable import hash64, prnd, py_hash64
from ..sources.readers import spread_small_scan
from .text import fingerprint_md5, tokens, word_shingles
from ..pinning import pin_frame

# Deterministic permutation parameters (module-load constant, seed=42).
MINHASH_PRIME = 2147483647  # 2^31 - 1
_rng = random.Random(42)
MINHASH_PERMS: list[tuple[int, int]] = [
    (_rng.randrange(1, MINHASH_PRIME), _rng.randrange(0, MINHASH_PRIME))
    for _ in range(16)
]
LSH_BANDS = 4  # 4 bands x 4 rows


def exact_dedup(docs: DataFrame, pin: bool = True) -> DataFrame:
    """(id, fingerprint, canonical_id, is_duplicate) via content hash.

    The fingerprint frame feeds the canonical-id aggregation AND the
    join back, so it is eager-pinned by default (r9 plan_dup_audit:
    unpinned, both branches re-planned the documents scan + md5 — 2x
    the full text read at scale; the pinned frame is two narrow
    columns, far smaller than the text it replaces).  The eager pin
    means CONSTRUCTING the frame runs a Spark job — callers that only
    build/explain the plan (fingerprint tooling, registry enumeration)
    pass ``pin=False`` to stay lazy and re-pin where execution is
    expected.  Batch-only by design — a streaming frame cannot be
    checkpointed or grouped-joined this way, so it is rejected at
    build time with a pointer to streaming_exact_dedup."""
    if docs.isStreaming:
        raise TypeError(
            "exact_dedup is batch-only (eager pin + agg/join-back); "
            "route streaming frames to "
            "streaming.pipelines.streaming_exact_dedup instead"
        )
    fp = docs.select(F.col("doc_id"), fingerprint_md5("text").alias("fingerprint"))
    if pin:
        fp = fp.transform(pin_frame)
    canon = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("canonical_id"))
    return fp.join(canon, "fingerprint").select(
        "doc_id",
        "fingerprint",
        "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).cast("int").alias("is_duplicate"),
    )


def doc_shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles) — distinct 3-word shingle ARRAY per document
    with at least 3 tokens; shorter documents have no shingle and no row.

    The array form is the cheap thing to persist (one row per doc, not
    one per shingle) and feeds both signature computation (hash the
    array in place) and verification (explode only candidate docs).

    The input is spread to the session's parallelism first when it
    arrives under-partitioned (spread_small_scan): the tokenize/shingle
    derivation is CPU-bound, and without the spread one task does all
    the work regardless of cluster size.
    """
    # Two projections on purpose: binding the token array to a real
    # column first makes every reference inside word_shingles a cheap
    # attribute lookup instead of a repeated split(lower(text)) subtree.
    # CollapseProject keeps them separate (split is non-cheap), so the
    # generated code stays small — the inline form compiled to code ~2x
    # slower to Janino-compile and evaluate.
    toks = spread_small_scan(docs).select(
        F.col("doc_id"), tokens("text").alias("_toks")
    )
    # equivalent to filter(size(shingles) > 0) AFTER shingling —
    # word_shingles yields an empty array exactly when the doc has
    # fewer than 3 tokens — but a post-hoc filter on the computed
    # column gets pushed below the projection with the ENTIRE shingle
    # expression inlined into the Filter condition, so the build
    # evaluated twice per doc (plan-verified on the memo build job).
    # Filtering on the token count inlines only the split().
    return toks.filter(F.size("_toks") >= 3).select(
        F.col("doc_id"),
        F.array_distinct(word_shingles(F.col("_toks"), 3)).alias("shingles"),
    )


def shingle_arrays_cached(docs: DataFrame) -> DataFrame:
    """Materialized (id, shingles) arrays with TRUNCATED lineage.

    Eager on purpose: the dedup pipelines consume this frame from
    several branches of one job DAG (signature aggregation, band join,
    verification, posting-list cap). A lazy persist consumed by
    concurrently-scheduled branches recomputes every not-yet-cached
    partition — measured as 2-6x wall-clock swings at sf0.1.

    localCheckpoint (not persist+count) on purpose too: downstream
    plans see a compact scan of the materialized blocks instead of the
    full tokenize/shingle expression lineage. With persist, every
    consumer query re-analyzes and re-canonicalizes the whole HOF
    lineage (and cache substitution can silently miss, re-running the
    derivation) — driver-side planning dominated the dedup queries at
    bench scale. At cluster scale the equivalent durable form is the
    parquet dedup-index table (streaming.sinks.neardup_screen_writer
    persists exactly that); localCheckpoint is the in-session analog.
    """
    return doc_shingle_arrays(docs).transform(pin_frame)


# Session-scoped memo of shared corpus derivations, keyed by
# (applicationId, sf_dir, params). The dedup/text queries all derive
# from the same corpus scan; in a shared session (bench, the driver's
# correctness gate, a notebook) each derivation should be paid ONCE —
# the same reuse a production pipeline gets from writing the dedup
# index table and reading it back.
_CORPUS_MEMO: dict[tuple, DataFrame] = {}


def _memo(spark, sf_dir: str, tag: str, build) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, tag)
    df = _CORPUS_MEMO.get(key)
    if df is None:
        df = build()
        if key not in _CORPUS_MEMO:
            _CORPUS_MEMO[key] = df
    return df


def corpus_shingle_arrays(spark, sf_dir: str) -> DataFrame:
    """Session-memoized, lineage-truncated shingle arrays of the shared
    ``documents`` corpus: the first caller materializes (tokenize ->
    n-gram shingle -> distinct, one row per doc), every later query in
    the session reads the materialized blocks."""
    from ..sources.readers import table

    def build() -> DataFrame:
        return shingle_arrays_cached(table(spark, sf_dir, "documents"))

    return _memo(spark, sf_dir, "shingle_arrays", build)


def corpus_minhash_pairs(spark, sf_dir: str, threshold: float = 0.8) -> DataFrame:
    """Session-memoized MinHash-LSH verified near-dup pairs of the
    shared corpus (the q45 result frame). Downstream consumers (cluster
    assignment, curation) re-use the materialized pair set instead of
    re-running signature + band join + verification."""

    def build() -> DataFrame:
        return minhash_dedup_pairs(
            None, threshold, arrays=corpus_shingle_arrays(spark, sf_dir)
        ).transform(pin_frame)

    return _memo(spark, sf_dir, f"minhash_pairs:{threshold}", build)


def doc_shingles(docs: DataFrame) -> DataFrame:
    """(id, shingle) — distinct shingles per document, exploded.

    Exploding drops empty arrays, so routing through the size-filtered
    cached array frame is result-identical to shingling inline."""
    return shingle_arrays_cached(docs).select(
        F.col("doc_id"), F.explode("shingles").alias("shingle")
    )


def stop_shingle_cut(shingled: DataFrame, max_doc_freq: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_doc_freq``.

    The skew guard for the exact-Jaccard path: the shingle self-join is
    quadratic WITHIN each posting list, so one corpus-wide hot shingle
    ("the quick brown" boilerplate) alone costs O(n^2). Capping document
    frequency bounds every posting list — and with it the worst
    per-shingle join cost — at max_doc_freq^2. A shingle shared by more
    than ``max_doc_freq`` documents carries ~zero dedup signal anyway
    (it is corpus boilerplate, not content), the same reasoning as IDF.
    One extra groupBy(shingle) pass; the oracle replays the identical
    cut so Jaccard denominators stay engine-consistent.
    """
    keep = (
        shingled.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_doc_freq)
        .select("shingle")
    )
    return shingled.join(keep, "shingle", "left_semi")


def jaccard_pairs(shingled: DataFrame, threshold: float) -> DataFrame:
    """Exact pairwise Jaccard over documents sharing >= 1 shingle.

    Output: (id_a, id_b, n_inter, jaccard) with id_a < id_b.
    """
    # consumed three times (sizes + both join sides): materialize once
    # with truncated lineage — see shingle_arrays_cached for why a lazy
    # persist races and why checkpoint beats persist here
    shingled = shingled.transform(pin_frame)
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # length filter (PPJoin family): J <= min/max, so a pair whose
    # size ratio is below the threshold can NEVER pass the final
    # filter — prune it BEFORE the pair aggregation. The 0.5 slack
    # keeps the float comparison lossless for integer sizes (a true
    # J >= t pair has min >= t*max in exact arithmetic; float error
    # is ~1e-12, far inside the slack), so output rows are unchanged.
    sized = shingled.join(F.broadcast(sizes), "doc_id")
    a = sized.select(
        F.col("doc_id").alias("id_a"), "shingle", F.col("n_sh").alias("n_a0")
    )
    b = sized.select(
        F.col("doc_id").alias("id_b"), "shingle", F.col("n_sh").alias("n_b0")
    )
    ratio_ok = F.least("n_a0", "n_b0") >= (
        F.lit(threshold) * F.greatest("n_a0", "n_b0") - 0.5
    )
    inter = (
        a.join(b, "shingle")
        .filter((F.col("id_a") < F.col("id_b")) & ratio_ok)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


def jaccard_pairs_capped(
    shingled: DataFrame, threshold: float, max_doc_freq: int
) -> DataFrame:
    """Exact pairwise Jaccard >= threshold with the stop-shingle cut
    folded in — result-identical to ``stop_shingle_cut(shingled, cap)``
    piped through :func:`jaccard_pairs`, in half the shuffles.

    One groupBy(shingle) builds the POSTING LIST per shingle and
    carries the df-cap as a size filter on it (the cut's own groupBy +
    semi-join back disappear); the i<j pair enumeration is an in-array
    JVM expression over the sorted list (the q365 pattern — pair rows
    flow straight into the (id_a, id_b) partial aggregation, no
    self-join, so the exploded frame never shuffles twice more); the
    per-doc post-cut sizes come from one explode of the pinned posting
    frame. The cap bounds every enumeration array at
    C(max_doc_freq, 2) pairs, so no generated array outgrows a task at
    any scale. The posting frame is pinned because sizes + pairs both
    consume it — same magnitude as the capped exploded frame the old
    shape pinned.

    The fan-out spread before the pair explode is the q365 lesson
    (guide S2.5): AQE coalesces the small post-aggregation exchange by
    BYTES and cannot anticipate the ~df^2/2 row fan-out behind the
    Generate; the round-robin exchange moves the compacted list frame,
    far smaller than the pair stream it unlocks, and the count is
    cluster-derived.

    Posting lists build with ``collect_set`` (r13, ADVICE r12): a
    duplicated (id, shingle) input row would otherwise put the same id
    twice in the list and the in-array i<j enumeration would emit
    id_a == id_b self-pairs — the old stop_shingle_cut + jaccard_pairs
    path filtered id_a < id_b strictly, so the function must be robust
    to non-distinct input, not silently assume it.  For distinct input
    (every current caller) set == list, bit-identically."""
    pl = (
        shingled.groupBy("shingle")
        .agg(F.sort_array(F.collect_set(F.col("doc_id"))).alias("_ds"))
        .filter(F.size("_ds") <= max_doc_freq)
        .select("_ds")
        .transform(pin_frame)
    )
    sizes = (
        pl.select(F.explode("_ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"))
    )
    multi = pl.filter(F.size("_ds") >= 2).repartition(
        shingled.sparkSession.sparkContext.defaultParallelism
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("_ds"),
            lambda x, i: F.transform(
                F.slice(F.col("_ds"), i + F.lit(2), F.size("_ds")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    inter = (
        multi.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


def minhash_signatures(shingled: DataFrame) -> DataFrame:
    """(id, mh0..mh15): min over shingles of (a*H(sh)+b) mod p."""
    h = shingled.withColumn("_h", hash64("shingle") % MINHASH_PRIME)
    aggs = [
        F.min((F.lit(a) * F.col("_h") + F.lit(b)) % MINHASH_PRIME).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return h.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Banded-LSH candidate pairs: equal md5 over any band of the
    signature. Output (id_a, id_b) distinct, id_a < id_b.

    Single-pass plan: explode the 4 band keys per doc, one self-join on
    (band, key) — not one join per band, which would re-evaluate the
    signature lineage once per band per side.
    """
    n = len(MINHASH_PERMS)
    rows_per_band = n // LSH_BANDS
    keys = []
    for band in range(LSH_BANDS):
        cols = [f"mh{band * rows_per_band + j}" for j in range(rows_per_band)]
        keys.append(F.md5(F.concat_ws(",", *[F.col(c).cast("string") for c in cols])))
    banded = signatures.select(
        F.col("doc_id"), F.posexplode(F.array(*keys)).alias("band", "bk")
    )
    a = banded.select(F.col("doc_id").alias("id_a"), "band", "bk")
    b = banded.select(F.col("doc_id").alias("id_b"), "band", "bk")
    return (
        a.join(b, ["band", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame | None,
    threshold: float = 0.8,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle -> sign -> band-bucket join ->
    exact-Jaccard verify >= threshold. Output (id_a, id_b, jaccard).

    The only materialized corpus-wide intermediate is the per-doc
    shingle ARRAY (one row per doc) — pass a prebuilt/memoized frame
    via ``arrays`` to share it across queries. The exploded posting
    list is materialized only for candidate docs during verification.
    Signature hashing explodes (id, hash64) longs — never the shingle
    strings — and the 16 permutation mins partial-aggregate map-side,
    so the signature shuffle is 16 longs per doc per map partition.
    """
    if arrays is None:
        arrays = shingle_arrays_cached(docs)
    sigs = _minhash_sigs_from_arrays(arrays).transform(pin_frame)
    # cands feeds both the doc semi-join and the final pair join —
    # without eager materialization the band self-join runs twice
    cands = lsh_candidate_pairs(sigs).transform(pin_frame)
    # verify ONLY candidate docs: cut the corpus to docs appearing in
    # some candidate pair, explode just their shingles, exact-Jaccard —
    # the full n^2 pair join never runs (the LSH point)
    cand_docs = (
        cands.select(F.col("id_a").alias("doc_id"))
        .unionByName(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sub = arrays.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    expl = sub.select(F.col("doc_id"), F.explode("shingles").alias("shingle"))
    ea = expl.select(F.col("doc_id").alias("id_a"), "shingle")
    eb = expl.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        ea.join(eb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    # per-doc sizes come free from the array length — no groupBy pass
    sa = sub.select(F.col("doc_id").alias("id_a"), F.size("shingles").alias("n_a"))
    sb = sub.select(F.col("doc_id").alias("id_b"), F.size("shingles").alias("n_b"))
    verified = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return cands.join(verified, ["id_a", "id_b"]).select(
        "id_a", "id_b", "jaccard"
    )


def _band_keys(signatures: DataFrame) -> DataFrame:
    """(id, band, bk): md5 band keys, one row per band per doc."""
    n = len(MINHASH_PERMS)
    rows_per_band = n // LSH_BANDS
    keys = []
    for band in range(LSH_BANDS):
        cols = [f"mh{band * rows_per_band + j}" for j in range(rows_per_band)]
        keys.append(F.md5(F.concat_ws(",", *[F.col(c).cast("string") for c in cols])))
    return signatures.select(
        F.col("doc_id"), F.posexplode(F.array(*keys)).alias("band", "bk")
    )


def _minhash_sigs_from_arrays(arrays: DataFrame) -> DataFrame:
    """(id, mh0..mh15) from per-doc shingle arrays — map-only
    mapInPandas kernel (r13, VERDICT r12 item 1: the span/simhash md5
    template applied to the minhash signature path, guide S4.2).

    The expression form (kept as the cross-checked reference in
    tests/test_span_kernel.py) pays an interpreted
    ``transform(shingles, md5-conv)`` HOF, an explode to hash grain,
    16 modular-arithmetic min aggregates per row, and a
    groupBy(id) EXCHANGE of the exploded hash stream.  The kernel does
    the identical arithmetic per doc with C-backed hashlib.md5 and one
    (n_shingles x 16) int64 numpy matmul-mod-min — and because the
    input is already one row per doc, the signature needs NO shuffle
    at all: scan -> kernel, 17 longs out per doc (the tiny-output
    shape that made span/simhash kernels 6.6x/1.7x; the pair-grain
    q365 counterexample does not apply).

    Bit-identity argument (asserted in tests/test_span_kernel.py):
    ``int(md5(s).hexdigest()[:15], 16)`` == ``conv(substring(md5(s),
    1, 15), 16, 10)`` (60-bit, non-negative, so JVM ``%`` == Python
    ``%`` == numpy ``%`` on int64); a*h+b < 2^62 fits int64 exactly;
    min over shingles is order-free.  Docs with NULL or empty shingle
    arrays emit no row (the explode in the expression form drops them
    the same way).  ASCII scope as the other md5 kernels (shingles
    come from lowercased corpus text)."""
    a_np = [a for a, _ in MINHASH_PERMS]
    b_np = [b for _, b in MINHASH_PERMS]
    n_perm = len(MINHASH_PERMS)
    prime = MINHASH_PRIME

    def fn(batches):
        import numpy as np
        import pandas as pd

        A = np.array(a_np, dtype=np.int64)[None, :]
        B = np.array(b_np, dtype=np.int64)[None, :]
        for batch in batches:
            ids = []
            sigs = []
            for did, shs in zip(batch["doc_id"].values, batch["shingles"].values):
                if shs is None or len(shs) == 0:
                    continue
                h = np.fromiter(
                    (py_hash64(s) % prime for s in shs),
                    dtype=np.int64,
                    count=len(shs),
                )
                ids.append(did)
                sigs.append(((h[:, None] * A + B) % prime).min(axis=0))
            if ids:
                m = np.vstack(sigs)
                out = {"doc_id": np.array(ids, dtype=np.int64)}
                for i in range(n_perm):
                    out[f"mh{i}"] = m[:, i]
                yield pd.DataFrame(out)
            else:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series([], dtype="int64"),
                        **{
                            f"mh{i}": pd.Series([], dtype="int64")
                            for i in range(n_perm)
                        },
                    }
                )

    schema = "doc_id long, " + ", ".join(f"mh{i} long" for i in range(n_perm))
    return arrays.select("doc_id", "shingles").mapInPandas(fn, schema=schema)


def screen_against_index(
    idx_arrays: DataFrame,
    idx_bands: DataFrame,
    new_arrays: DataFrame,
    new_bands: DataFrame,
    incoming_ids: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Core of ingestion-time dedup over PRECOMPUTED index state:
    ``idx_arrays`` (id, shingles) and ``idx_bands`` (id, band, bk) are
    the persisted dedup index (a parquet table in the streaming path, a
    derived frame in the batch path); the small batch side broadcasts
    into the bucket join. Output: one row per id in ``incoming_ids``
    with its best match (rounded-Jaccard desc, index id asc) or NULL.
    """
    cand = (
        idx_bands.select(F.col("doc_id").alias("_idx_id"), "band", "bk")
        .join(
            F.broadcast(
                new_bands.select(F.col("doc_id").alias("_new_id"), "band", "bk")
            ),
            ["band", "bk"],
        )
        .select("_idx_id", "_new_id")
        .distinct()
    )
    ver = (
        cand.join(
            idx_arrays.select(
                F.col("doc_id").alias("_idx_id"), F.col("shingles").alias("_ish")
            ),
            "_idx_id",
        )
        .join(
            F.broadcast(
                new_arrays.select(
                    F.col("doc_id").alias("_new_id"), F.col("shingles").alias("_nsh")
                )
            ),
            "_new_id",
        )
        .withColumn("_ni", F.size(F.array_intersect("_ish", "_nsh")))
        .withColumn(
            "jaccard",
            F.col("_ni")
            / (F.size("_ish") + F.size("_nsh") - F.col("_ni")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .withColumn("jaccard", prnd(F.col("jaccard"), 6))
    )
    w = W.partitionBy("_new_id").orderBy(F.desc("jaccard"), F.asc("_idx_id"))
    best = (
        ver.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("_new_id").alias("doc_id"),
            F.col("_idx_id").alias("matched_id"),
            "jaccard",
        )
    )
    return (
        incoming_ids.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "matched_id",
            "jaccard",
            F.col("matched_id").isNotNull().cast("int").alias("is_dup"),
        )
    )


def incremental_dedup(
    index_docs: DataFrame,
    incoming_docs: DataFrame,
    threshold: float = 0.8,
    index_arrays: DataFrame | None = None,
    incoming_arrays: DataFrame | None = None,
) -> DataFrame:
    """Ingestion-time dedup: check an incoming batch against an indexed
    corpus WITHOUT re-pairing the corpus against itself — the shape a
    production pipeline runs on every new crawl drop.

    Output, one row per incoming doc: (doc_id, matched_id, jaccard,
    is_dup). ``matched_id`` is the best near-dup in the index (highest
    exact Jaccard on the 6-decimal grid, ties to the smallest index id)
    or NULL when the batch doc is novel.

    Scale shape: the index side is banded once (at 100 TB the band
    table IS the persisted dedup index — see
    ``streaming.sinks.neardup_screen_writer`` for the persisted form;
    here it is derived in-query); the small incoming side's band keys
    broadcast into the bucket join, so the corpus never shuffles and
    candidate volume is O(bucket collisions), never
    O(|index| x |batch|). Verification is per-candidate-row
    ``array_intersect`` on the two shingle arrays — no posting-list
    explosion at all."""
    # shingling is per-row, so a prebuilt whole-corpus array frame
    # filtered to each side is identical to shingling the side directly
    idx_arrays = index_arrays
    if idx_arrays is None:
        idx_arrays = doc_shingle_arrays(index_docs).transform(pin_frame)
    new_arrays = incoming_arrays
    if new_arrays is None:
        new_arrays = doc_shingle_arrays(incoming_docs).transform(pin_frame)
    idx_bands = _band_keys(_minhash_sigs_from_arrays(idx_arrays))
    new_bands = _band_keys(_minhash_sigs_from_arrays(new_arrays))
    return screen_against_index(
        idx_arrays,
        idx_bands,
        new_arrays,
        new_bands,
        incoming_docs.select("doc_id"),
        threshold,
    )


def simhash_signatures(docs: DataFrame, bits: int = 32) -> DataFrame:
    """(id, simhash): tf-weighted bitwise-majority of token hashes.

    mapInPandas kernel (r12, guide S4.2 — the span_hash_rows
    template): per doc, C-backed split + hashlib.md5 per token and a
    numpy bit-matrix majority replace the JVM md5 + 32 per-token
    conditional sums + the doc-grain aggregation exchange — the whole
    signature is ONE map pass, no shuffle at all.  All arithmetic is
    integer-exact (sum of +-1 per bit == 2*ones - n; bit set iff
    sum > 0), so output is bit-identical to the expression form
    (kept as the cross-checked reference in tests/test_span_kernel.py,
    which asserts equality on the corpus fixture and edge docs).  Measured 0.675 -> 0.407 s at
    sf0.1 warm.  Spread first: the derivation is CPU-bound map work
    and an under-partitioned scan would put it all on one task.
    A NULL text row is skipped (matching the expression form, whose
    explode-of-null drops the doc before the aggregation); the
    bit-identity contract is scoped to ASCII text — Python
    ``str.lower`` and JVM ``lower`` agree on ASCII but can diverge on
    exotic Unicode case mappings (e.g. U+0130)."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        shifts = np.arange(bits, dtype=np.uint64)
        for b in batches:
            ids = []
            sigs = []
            for did, txt in zip(b["doc_id"].values, b["text"].values):
                if txt is None:
                    continue
                toks = txt.lower().split(" ")
                h = np.fromiter(
                    (py_hash64(t) for t in toks), dtype=np.uint64, count=len(toks)
                )
                ones = ((h[:, None] >> shifts) & 1).sum(axis=0, dtype=np.int64)
                s = 2 * ones - len(toks)
                sig = int(((s > 0).astype(np.uint64) << shifts).sum())
                ids.append(did)
                sigs.append(sig)
            yield pd.DataFrame(
                {"doc_id": ids, "simhash": np.array(sigs, dtype=np.int64)}
            )

    return (
        spread_small_scan(docs)
        .select("doc_id", "text")
        .mapInPandas(fn, schema="doc_id long, simhash long")
    )


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components of the near-dup pair graph: every document
    that appears in some pair gets (doc_id, cluster_id, is_canonical),
    cluster_id = smallest doc_id reachable via pair edges, canonical =
    the cluster's keeper row (what a training pipeline retains).

    Iterative min-label propagation, the Spark-idiomatic CC for graphs
    without GraphX/graphframes: per round, every vertex takes the min
    of its own and its neighbours' labels (one equi-join on the edge
    list + one groupBy min), stopping when a round changes nothing.
    Rounds needed = component diameter, and near-dup components are
    small dense clusters (diameter a few hops), so the loop converges
    in 2-4 rounds; a cap of 10 rounds stops adversarial chains. Each
    round localCheckpoints eagerly — lineage stays O(1) instead of
    growing per iteration.

    Convergence witness: min-propagation only ever LOWERS labels, so
    the exact sum of all labels strictly decreases on any change and
    is unchanged iff the round was a fixpoint. That makes the stop
    check one map-side-partial aggregate over the frame the next
    round reads anyway — no old-vs-new join per iteration. The sum
    accumulates as decimal(38,0) so it stays exact past int64 range
    (1e10 docs x 1e10 ids would overflow a bigint sum).
    """
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0][0]

    prev_sum = _label_sum(labels)
    for _ in range(10):
        nbr = sym.join(
            labels.select(F.col("id").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("id"), "label")
        new = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        new_sum = _label_sum(new)
        labels.unpersist()
        labels = new
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).cast("int").alias("is_canonical"),
    )


def prefix_filter_pairs(
    arrays: DataFrame,
    t_num: int = 4,
    t_den: int = 5,
) -> DataFrame:
    """EXACT Jaccard pairs >= threshold via prefix filtering (the
    PPJoin/All-Pairs family) — the third candidate-generation strategy
    next to banded LSH (probabilistic recall) and the full posting-list
    join (q44's quadratic-within-posting baseline). Input: the per-doc
    distinct shingle ARRAY frame.

    Lemma: order the universe by global document frequency (rarest
    first, ties lexicographic). If J(x,y) >= t then their overlap
    o >= ceil(t*|x|) (using the size bound |y| >= t*|x|), so y must
    share at least one of x's first |x| - ceil(t*|x|) + 1 tokens in
    that order. Exploding ONLY these prefix tokens generates every
    qualifying pair while the common-token tail — exactly the tokens
    that make posting lists long — never joins. A size filter
    (t*|x| <= |y| <= |x|/t) prunes the remaining false candidates
    before the single array_intersect verification per pair.

    Scale shape: one df-count groupBy, one prefix equi-join whose
    posting lists shrink with token rarity (rare tokens lead the
    order), verification O(candidates). Exactness is structural — no
    recall parameter to tune, which is why dedup QA suites keep a
    prefix-filter path next to the LSH fast path."""
    threshold = t_num / t_den  # threshold as a RATIONAL: ceil(t*n) and the
    # size bounds evaluate in exact integer arithmetic - float 0.8*5
    # rounds to 4.0000000000000004 in IEEE (ceil 5) but to 4.0 in a
    # decimal engine (ceil 4), so a float formulation could never
    # hash-match across engines on boundary sizes
    expl = arrays.select(F.col("doc_id"), F.explode("shingles").alias("shingle"))
    dfreq = expl.groupBy("shingle").agg(F.count("*").alias("_df"))
    # per-doc shingle list in global (df, shingle) order: collect_list
    # order is nondeterministic, array_sort normalizes it
    ordered = (
        expl.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("shingle")))
            ).alias("_ord")
        )
        .select(
            F.col("doc_id"),
            F.transform("_ord", lambda s: s.getField("shingle")).alias("_sorted"),
            F.size("_ord").alias("_n"),
        )
    )
    # ceil(t_num*n/t_den) = (t_num*n + t_den - 1) div t_den, all integers
    ceil_tn = F.expr(f"({t_num} * _n + {t_den - 1}) div {t_den}")
    prefix_len = F.col("_n") - ceil_tn + 1
    prefix = ordered.select(
        F.col("doc_id"),
        F.col("_n"),
        F.explode(F.slice("_sorted", 1, prefix_len.cast("int"))).alias("shingle"),
    )
    a = prefix.select(
        F.col("doc_id").alias("id_a"), F.col("_n").alias("_na"), "shingle"
    )
    b = prefix.select(
        F.col("doc_id").alias("id_b"), F.col("_n").alias("_nb"), "shingle"
    )
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.lit(t_den) * F.col("_nb") >= F.lit(t_num) * F.col("_na"))
            & (F.lit(t_den) * F.col("_na") >= F.lit(t_num) * F.col("_nb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    va = arrays.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("_sa"))
    vb = arrays.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("_sb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("_ni", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.col("_ni")
            / (F.size("_sa") + F.size("_sb") - F.col("_ni")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.col("_ni").alias("n_inter"), "jaccard")
    )
