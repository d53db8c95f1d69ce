"""Scaling-curve probe: time representative queries at sf0.01 and
sf0.1 in one warmed session and report the 10x-data cost ratio.

The ab_measure.py sweep finds ABSOLUTE hotspots at one scale; this
probe finds CURVE SHAPE — an operator whose cost multiplies by much
more than the 10x data factor is super-linear and will not survive the
next 100x, even if its absolute sf0.1 number still looks small.  (This
is how the r5 LOF/MMD theta joins would have been caught one round
earlier.)

Interpretation at local[32]: with fixed per-query overheads
(planning, job scheduling, tiny-stage latency) a perfectly linear
operator shows a ratio WELL BELOW 10 — overhead dominates at sf0.01.
Ratios around 10 mean scan-bound linear work; the flag threshold is
deliberately above it.

Usage: python tools/scaling_probe.py [name-prefix ...]
Prints one line per query plus a JSON summary; exits 1 if any ratio
exceeds FLAG_RATIO.
"""

import json
import sys

from _harness import run, select, session, warm

SF_SMALL = "/root/testdata/sf0.01"
SF_BIG = "/root/testdata/sf0.1"
FLAG_RATIO = 25.0  # 10x data; >25x time = super-linear red flag

# Known curve shapes, printed but not fatal: the probe's exit code
# flags NEW super-linear kernels, not re-reports of documented ones.
# (q141 left this set in round 8: its blocking key now composes with
# the q45 band hash, and its measured 10x ratio fell x22.7 -> ~x1.1.)
ACKNOWLEDGED: set[str] = set()

# Representative set: the scan/agg headline plus every heavy kernel
# family (pairwise verify, cell/band joins, BLAS kernels, globalrank
# two-pass, explode-heavy text, sketch folds).
DEFAULT = [
    "q01_pricing_summary",
    "q10_region_revenue",
    "q25_daily_close_stats",
    "q44_ngram_jaccard_pairs",
    "q45_minhash_lsh_pairs",
    "q51_embedding_near_dup",
    "q52_bucketed_ann",
    "q101_semdedup",
    "q141_edit_distance_pairs",
    "q164_pagerank",
    "q210_pca_power_iteration",
    "q249_bpe_train",
    "q280_interval_coverage",
    "q314_kcore_decomposition",
    "q315_poisson_bootstrap",
    "q333_woe_iv_binning",
    "q344_dsir_weights",
    "q348_lof_outliers",
    "q351_mmd_two_sample",
    "q365_adamic_adar",
    "q367_span_dedup",
    "q378_ccnet_buckets",
    "q386_embedding_drift",
    "q415_bloom_empirical",
]


def main() -> int:
    spark = session("scaling-probe")
    prefixes = sys.argv[1:]
    names = select(prefixes, None if prefixes else DEFAULT)
    warm(spark, SF_SMALL)

    rows = []
    flagged = []
    for name in names:
        # best-of-2 on BOTH sides so warmth is symmetric: several
        # corpus queries memoize shared derivations, and a cold/warm
        # mix fabricates huge ratios (q45's pair set: 1.0s cold,
        # 0.03s memoized) that say nothing about curve shape
        t_small = min(run(spark, name, SF_SMALL).wall for _ in range(2))
        t_big = min(run(spark, name, SF_BIG).wall for _ in range(2))
        ratio = t_big / t_small if t_small > 0 else float("inf")
        mark = ""
        if ratio > FLAG_RATIO:
            mark = (
                " <-- acknowledged (see ACKNOWLEDGED)"
                if name in ACKNOWLEDGED
                else " <-- SUPER-LINEAR?"
            )
        print(
            f"{name}: sf0.01 {t_small:6.2f}s  sf0.1 {t_big:6.2f}s  "
            f"x{ratio:5.1f}{mark}"
        )
        rows.append((name, round(t_small, 3), round(t_big, 3), round(ratio, 2)))
        if ratio > FLAG_RATIO and name not in ACKNOWLEDGED:
            flagged.append(name)
    print(
        json.dumps(
            {
                "metric": "scaling_ratio_10x",
                "flag_ratio": FLAG_RATIO,
                "flagged": flagged,
                "rows": rows,
            }
        )
    )
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
