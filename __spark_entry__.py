"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Engine code lives in ``crypto_prediction_etl_spark/``; the query
catalog (Spark builder + DuckDB oracle per operator of SURVEY.md §2)
is assembled by ``crypto_prediction_etl_spark.plans.registry``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from crypto_prediction_etl_spark.plans import registry  # noqa: E402

registry.load_all()

SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "q25_daily_close_stats"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship is the reference's dbt window-stats mart
    (crypto_daily_close_stats) run natively: candle aggregation ->
    calendar spine -> per-id densify -> rolling windows -> lag ROC ->
    range-stamped union.
    """
    return registry.QUERIES[FLAGSHIP](spark, SMOKE_SF_DIR)


# The driver adjudicates exactly the first 50 ``queries()`` entries per
# round.  Round-13 rotation (optimization round 2): mandatory picks =
# every query whose declared plan this round's optimization batches
# touch (the r12-verdict protocol: changed queries are exactly the
# ones re-verified).  Inherited-WIP picks: q249 (regex-greedy BPE
# rewrite), q367 (min/max/count + complement-algebra restructure),
# q44 (collect_set posting lists), q45/q48/q51/q52/q85/q112/q113/q141
# (minhash signature derivation moved to the md5 mapInPandas kernel —
# pin-hidden from the fingerprint ledger, so staged explicitly),
# q46 (kernel null guard).  Round-13 batch picks: q215/q278 (kernel
# signatures + posting-list exact baseline).  All oracle-replayed
# green at sf0.01 AND sf0.001 before staging (tools/driver_replay.py).
# Remaining 36 seats are the mechanical age fill
# (python tools/make_window.py --fill-oldest: r3-r12 oldest verdicts).
#
# r10-r12 audit trail (superseded windows) lives in git history and
# CORRECTNESS_r{10,11,12}.json; every previously adjudicated query
# keeps its green row and stays covered by the local mirror
# (tools/driver_replay.py, pandas-canonical) plus the independent
# numpy/pandas cross-checks in tests/test_r6_tail_pandas.py,
# test_r7_hash_mirrors.py and test_r8_mirrors.py.
_ADJUDICATE_FIRST = [
    "q249_bpe_train",
    "q367_span_dedup",
    "q44_ngram_jaccard_pairs",
    "q45_minhash_lsh_pairs",
    "q46_simhash",
    "q48_dedup_clusters",
    "q51_embedding_near_dup",
    "q52_bucketed_ann",
    "q85_incremental_dedup",
    "q112_prefix_filter_join",
    "q113_containment_dedup",
    "q141_edit_distance_pairs",
    "q215_lsh_recall_report",
    "q278_minhash_error_audit",
    "q142_event_transitions",
    "q144_jl_projection",
    "q23_approx_aggregates",
    "q55_kmeans_clusters",
    "q71_multimodal_features",
    "q124_mfi",
    "q125_donchian",
    "q126_chaikin_adl",
    "q127_pivot_points",
    "q128_char_entropy",
    "q145_adx",
    "q146_trix",
    "q147_cci",
    "q148_top_supplier",
    "q149_supplier_diversity",
    "q150_small_quantity_revenue",
    "q151_large_orders",
    "q152_weighted_jaccard",
    "q155_rolling_beta",
    "q156_percentile_cont",
    "q158_bigram_nll",
    "q159_key_skew_profile",
    "q160_snapshot_diff",
    "q161_scd2_intervals",
    "q162_out_of_order",
    "q163_cogrouped_adjust",
    "q166_feature_hashing",
    "q167_knn_eval",
    "q168_ab_test_stats",
    "q169_histogram",
    "q170_embedding_dim_stats",
    "q171_quantile_transform",
    "q172_feature_matrix",
    "q173_rolling_pair_corr",
    "q174_seasonal_decompose",
    "q175_cusum_changepoint",
]


def _ordered(names: list[str]) -> list[str]:
    first = [n for n in _ADJUDICATE_FIRST if n in names]
    rest = [n for n in names if n not in _ADJUDICATE_FIRST]
    return first + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: registry.QUERIES[n] for n in _ordered(list(registry.QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every hash-checkable query."""
    return {n: registry.ORACLES[n] for n in _ordered(list(registry.ORACLES))}
