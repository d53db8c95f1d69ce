"""Self-tests for tools/plan_dup_audit.py (r9).

The auditor finds subtrees that the FINAL adaptive plan computes more
than once — the q141/q365 waste shape (a frame consumed by both sides
of a self-join gets its whole upstream planned per side).  Two
mutations matter:

* a detector that never fires (parse drift against a Spark version's
  plan grammar) would silently certify every plan — the positive case
  pins that a genuinely unreusable duplicate is flagged;
* a detector that ignores AQE runtime reuse would flag healthy
  self-joins (q44's sizes broadcast is duplicated in the INITIAL plan
  but ReusedExchange in the final one) — the negative cases pin that
  pinned/reused plans audit clean.
"""

import pytest
from plan_dup_audit import audit_query, final_section, parse_tree
from pyspark.sql import functions as F

from crypto_prediction_etl_spark.plans import registry

registry.load_all()


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from crypto_prediction_etl_spark.sources.readers import table

    return table(spark, sf_dir, "documents")


def test_flags_unreusable_duplicate_subtree(docs):
    """Union of two filters over the same scan+explode: no exchange
    boundary exists below the duplicate, so AQE cannot reuse it — the
    explode genuinely runs twice and the auditor must say so."""
    base = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    u = (
        base.filter(F.col("tok") > "m")
        .unionByName(base.filter(F.col("tok") <= "m"))
        .groupBy("doc_id")
        .count()
    )
    findings = audit_query(u, min_nodes=3)
    assert findings, "unreusable scan+explode duplicate not flagged"
    assert findings[0]["count"] == 2
    assert "Generate" in findings[0]["head"] or "Scan" in findings[0]["head"]


def test_pinned_self_join_audits_clean(spark, sf_dir):
    """q365 (r9 eager-pin) must audit clean: both self-join sides read
    the same checkpointed RDD, so no work subtree repeats."""
    from crypto_prediction_etl_spark.plans.registry import QUERIES

    df = QUERIES["q365_adamic_adar"](spark, sf_dir)
    assert audit_query(df, min_nodes=4) == []


# the r9 dup-audit fix set: each of these computed a heavy subtree
# 2-5x before mid-r9 (see BENCH_NOTES "Duplicate-subtree audit") —
# a regression re-introducing the duplicate must fail here
_R9_FIXED = [
    "q420_weekly_ks_drift",
    "q393_geometric_median",
    "q358_matryoshka_audit",
    "q65_order_book_wire",
    "q117_book_imbalance",
    "q43_fingerprint_dedup",
    "q51_embedding_near_dup",
    "q139_segment_dedup",
]


@pytest.mark.parametrize("name", _R9_FIXED)
def test_r9_dedup_fixes_stay_audit_clean(spark, sf_dir, name):
    from crypto_prediction_etl_spark.plans.registry import QUERIES

    df = QUERIES[name](spark, sf_dir)
    assert audit_query(df, min_nodes=4) == []


def test_aqe_reused_broadcast_audits_clean(spark, sf_dir):
    """q44's sizes broadcast is duplicated in the initial plan but
    runtime-reused by AQE — the final-plan audit must NOT flag it (the
    r9 lesson: initial-plan duplicate counts overstate waste)."""
    from crypto_prediction_etl_spark.plans.registry import QUERIES

    df = QUERIES["q44_ngram_jaccard_pairs"](spark, sf_dir)
    assert audit_query(df, min_nodes=4) == []


def test_final_section_strips_initial_plan():
    plan = (
        "AdaptiveSparkPlan isFinalPlan=true\n"
        "+- == Final Plan ==\n"
        "   ResultQueryStage\n"
        "   +- HashAggregate(keys=[a#1])\n"
        "+- == Initial Plan ==\n"
        "   HashAggregate(keys=[a#1])\n"
        "   +- Exchange hashpartitioning(a#1, 32)\n"
    )
    cut = final_section(plan)
    assert "ResultQueryStage" in cut
    assert "Exchange" not in cut
    # and the tree parser sees the final-plan nodes only
    texts = [t for _, t in parse_tree(cut)]
    assert any("HashAggregate" in t for t in texts)
    assert not any("Initial" in t for t in texts)
