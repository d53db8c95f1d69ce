"""q249 BPE training: the r13 regex-greedy engine must be
round-for-round identical to the r12 window/island reference.

The rewrite (plans/textprep_q.py:_q249_train_rounds) replaces the
posexplode + lead + island/parity windows + position joins with one
``regexp_replace`` per round over a sentinel-wrapped per-doc string.
The equivalence claim rests on Java's ``replaceAll`` being leftmost
non-overlapping with scanning resuming AFTER each match — exactly the
island-parity semantics of a sequential greedy BPE merge.  This suite
drives both engines over corpora built to break that claim:

- overlapping runs ('x x x', 'x x x x') where parity is the whole game
- disjoint adjacent matches ('a b a b') that must BOTH merge (the
  lookaround boundaries consume no separator)
- regex metacharacters in tokens (Pattern.quote escaping) and '$' /
  backslash in the merged token (Matcher.quoteReplacement escaping)
- a literal '\\E' inside a token (the one string Pattern.quote must
  split around)
- empty tokens from doubled spaces, and ties in the pair counts
  (deterministic (n_occ desc, a, b) tie-break on both sides)
- merged '~' tokens feeding later rounds
"""
from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from crypto_prediction_etl_spark.operators.text import tokens
from crypto_prediction_etl_spark.pinning import pin_loop
from crypto_prediction_etl_spark.plans.textprep_q import _q249_train_rounds


def _q249_spark_round(toks_df, r):
    """One merge round on a (doc_id, toks) frame; returns
    (round_summary_df, next_toks_df)."""
    pr = toks_df.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    nb = pr.select(
        "doc_id", "pos", "tok", F.lead("tok").over(wdoc).alias("nxt")
    )
    top = (
        nb.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("tok").alias("a"), F.col("nxt").alias("b"))
        .agg(F.count("*").cast("long").alias("n_occ"))
        .withColumn(
            "_rn",
            F.row_number().over(
                W.orderBy(F.col("n_occ").desc(), "a", "b")
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .transform(pin_loop)
    )
    mt = nb.join(
        F.broadcast(top),
        (F.col("tok") == F.col("a")) & (F.col("nxt") == F.col("b")),
    ).select("doc_id", "pos")
    isl = mt.select(
        "doc_id",
        "pos",
        (F.col("pos") - F.row_number().over(wdoc)).alias("grp"),
    )
    wgrp = W.partitionBy("doc_id", "grp").orderBy("pos")
    st = (
        isl.withColumn("k", F.row_number().over(wgrp))
        .filter(F.col("k") % 2 == 1)
        .select("doc_id", "pos")
        .transform(pin_loop)
    )
    s1 = st.select("doc_id", F.col("pos").alias("pos"), F.lit(1).alias("_m"))
    s2 = st.select(
        "doc_id", (F.col("pos") + 1).alias("pos"), F.lit(1).alias("_d")
    )
    rb = (
        pr.crossJoin(F.broadcast(top.select("a", "b")))
        .join(s1, ["doc_id", "pos"], "left")
        .join(s2, ["doc_id", "pos"], "left")
        .filter(F.col("_d").isNull())
        .select(
            "doc_id",
            "pos",
            F.when(
                F.col("_m").isNotNull(),
                F.concat(F.col("a"), F.lit("~"), F.col("b")),
            )
            .otherwise(F.col("tok"))
            .alias("tok"),
        )
    )
    nxt_toks = rb.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))),
            lambda s: s["tok"],
        ).alias("toks")
    )
    n_merges = st.groupBy().agg(F.count("*").cast("long").alias("n_merges"))
    summary = top.crossJoin(F.broadcast(n_merges)).select(
        F.lit(r).cast("int").alias("round"), "a", "b", "n_occ", "n_merges"
    )
    return summary, nxt_toks


def _reference_rounds(docs, rounds: int):
    """The r12 window/island loop, unchanged, as the ground truth."""
    toks_df = docs.select("doc_id", tokens("text").alias("toks"))
    outs = []
    for r in range(1, rounds + 1):
        summary, toks_df = _q249_spark_round(toks_df, r)
        outs.append(summary)
        if r < rounds:
            toks_df = toks_df.transform(pin_loop)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


CORPORA = {
    "overlap_runs": [
        (1, "x x x"),
        (2, "x x x x"),
        (3, "x x x x x"),
        (4, "y x x y"),
    ],
    "disjoint_adjacent": [
        (1, "a b a b a b"),
        (2, "a b c a b"),
        (3, "b a b a"),
    ],
    "regex_metachars": [
        (1, "a.b a.b c$ c$ c$"),
        (2, "(x) (x) a.b a.b"),
        (3, "\\q \\q \\E \\E a.b"),
        (4, "$1 $1 $1 \\q \\E"),
    ],
    "ties_and_empties": [
        (1, "a b  a b"),  # double space -> empty token between pairs
        (2, "b a b a"),
        (3, " a b"),  # leading space -> leading empty token
        (4, "CASE case Case case"),  # lowercasing feeds the counts
    ],
    "chained_merges": [
        (1, "t h e t h e t h e"),
        (2, "t h t h e e"),
        (3, "the t h e"),
    ],
}


def test_q249_regex_engine_matches_window_reference(spark):
    for label, rows in CORPORA.items():
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(_q249_train_rounds(docs, 3).collect())
        ref = sorted(_reference_rounds(docs, 3).collect())
        assert got == ref, f"corpus {label}: {got} != {ref}"


def test_q249_regex_engine_matches_reference_on_corpus(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(_q249_train_rounds(docs, 3).collect())
    ref = sorted(_reference_rounds(docs, 3).collect())
    assert got == ref
