"""Gate replay under a HOSTILE session: the factory confs a user's
cluster might not have — JVM default timezone America/New_York, 200
shuffle partitions, no adaptive tuning — to prove query correctness
does not depend on crypto_prediction_etl_spark.session.get_spark's
defaults (the one conf correctness genuinely needs, UTC session time
zone + nanos handling, is applied by sources.readers.table and the
session builder on purpose and asserted here to survive hostility).

Usage:
  python tools/hostile_replay.py [name-prefix ...]     (no args = full catalog)
  python tools/hostile_replay.py --sample N SALT       (sampled cadence)
  python tools/hostile_replay.py --codegen-off [...]   (interpreted eval)
  python tools/hostile_replay.py --tiny-parallelism [...] (local[2], 1 partition)
  python tools/hostile_replay.py --arrow-tiny-batch [...] (7-row Arrow batches)
  python tools/hostile_replay.py --ansi-off [...]      (legacy non-ANSI eval)
  python tools/hostile_replay.py --low-memory [...]    (2 GiB driver heap)
  python tools/hostile_replay.py --tiny-scan-splits [...] (1 MiB scan tasks)
  python tools/hostile_replay.py --persist-pins [...]  (recomputable persist pins)

Every query is compared through tests.oracle.compare_query, the same
driver-faithful rule as tier-1 and tools/driver_replay.py; the run ends
with a JSON verdict line that names the axes (and the sample).

--codegen-off additionally disables whole-stage codegen (and forces
NO_CODEGEN expression evaluation), exercising Spark's interpreted
expression path — results must be identical because every query's
float discipline (portable rounding grids, integer-cents sums) leaves
no room for codegen-vs-interpreted drift; a mismatch here would mean a
query depends on a codegen-specific evaluation order.

The --sample mode (VERDICT r4 item 8) draws a deterministic
pseudo-random N-query subset keyed by SALT (use the round tag, e.g.
"r5"), so successive rounds cover different slices of the catalog
while staying reproducible, and ALWAYS adds the partition-count-
sensitive global-rank family (q153/q154/q237/q247/q254) — hostile
shuffle.partitions=200 is exactly the knob that family's range
partitioning must be invariant to.
"""
import hashlib
import os
import sys

from _harness import select

ALWAYS = [
    "q153_curriculum_shards",
    "q154_systematic_sample",
    "q237_weighted_reservoir",
    "q247_auc_roc",
    "q254_clustering_effectiveness",
    # r6: the record-grain ntile/sweep class routed through
    # with_global_ntile / with_global_row_stats (VERDICT r5 item 2)
    "q236_rfm_segments",
    "q248_gain_deciles",
    "q257_stratified_effect",
    "q267_concurrency_sweep",
    "q280_interval_coverage",
    "q285_simpson_detector",
    "q301_fair_share",
    "q333_woe_iv_binning",
    # r6 second batch: offenders the window audit found beyond the
    # VERDICT-named 8 (global lag, skyline excl-max, histogram ranks)
    "q75_bm25_scoring",
    "q243_skyline",
    "q255_encoding_advisor",
    "q264_zipf_fit",
    "q289_rec_coverage_bias",
    "q298_cache_planner",
    "q407_vocab_coverage",
]

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod  # noqa: E402  (registers the catalog)
from tests.oracle import replay  # noqa: E402

# Axis notes:
# --tiny-parallelism (round 8): the OTHER extreme from the 200-partition
# axis — local[2] with ONE shuffle partition. Every exchange collapses
# to a single task, range partitioners get a single bucket, AQE has
# nothing to coalesce: any query whose result silently leans on
# partition COUNT (spark_partition_id arithmetic, per-partition offsets,
# coalesce-dependent ordering) diverges here.
# --arrow-tiny-batch (round 9): cap Arrow transfer at 7 records per
# batch so every mapInPandas / pandas_udf input arrives as MANY small
# batches instead of one per partition. At 100 TB batches always split
# (the default cap is 10k records); a kernel that aggregates inside one
# batch and forgets to combine across the iterator (mapInPandas), or
# that assumes batch boundaries align with group boundaries, diverges
# here. applyInPandas/GROUPED_AGG still see whole groups by contract —
# Spark reassembles them — so this axis isolates the iterator-protocol
# kernels specifically, the nine indicator kernels included: their
# `_per_id` runner cuts batches at id boundaries and carries the open
# id's rows into the next batch.
# --ansi-off (round 9): Spark 4 enables ANSI SQL mode by default, and
# every result in this repo was adjudicated under it.  A migrated or
# legacy-configured cluster flips spark.sql.ansi.enabled=false, which
# silently changes evaluation semantics (casts return null instead of
# erroring, int overflow wraps, element_at of a missing key returns
# null) — exactly the class of config drift a user hits moving jobs
# between clusters.  The catalog must be ANSI-INDEPENDENT: portable
# hash/rounding discipline, try_-variant accessors, and no reliance on
# error-vs-null behavior anywhere; a divergence here means a query's
# result depends on the ANSI flag and would differ between clusters.
# --low-memory (round 9): 2 GiB driver heap instead of this host's
# 128 GiB luxury.  Real clusters give an executor 8-16 GiB; a kernel
# that only works because everything fits in memory (unspillable
# collect_list state, an oversized broadcast, a pinned frame that
# must hold in RAM) surfaces here as OOM or a wrong-after-spill
# result.  Results must be IDENTICAL: Spark's sort/agg/join operators
# spill to disk by design, and the catalog's pinned localCheckpoint
# frames are MEMORY_AND_DISK.  (Only meaningful in a fresh process —
# driver memory is fixed at JVM launch.)
# --tiny-scan-splits (round 9): maxPartitionBytes=1 MiB + zero file
# open cost, so every parquet file shatters into many scan tasks with
# arbitrary split boundaries — the shape a different cluster's block
# size / file layout produces.  Any query whose result leans on
# file-order or split-local state (a first()/limit without order, a
# partition-id-derived value, an accumulator-style kernel) diverges;
# results must be scan-split-invariant.
#
# --persist-pins (round 10): run every query with
# SPARK_GRAFT_PIN_MODE=persist, replacing the repo's eager
# localCheckpoint reuse pins with recomputable
# persist(MEMORY_AND_DISK) + count (crypto_prediction_etl_spark/
# pinning.pin_frame).  This is the fault-tolerant posture a long
# cluster job would run (localCheckpoint blocks die with their
# executor); results must be IDENTICAL because a pin is a pure
# materialization of a deterministic frame — a divergence would mean
# some query's result depends on lineage truncation (e.g. leans on a
# frozen nondeterministic value outside the designated globalrank
# freeze, which deliberately stays localCheckpoint in both modes).
#
# Flags parse order-independently in one loop (r9's positional chain
# silently treated a re-ordered flag as a query-name prefix, running
# the replay WITHOUT the requested axis); any unrecognized ``--``
# argument is an error, never a prefix.
#
# Session confs each axis adds; --tiny-parallelism also swaps the
# master and partition count below, --persist-pins the pin mode.
_AXIS_CONFS: dict[str, dict[str, str]] = {
    "--codegen-off": {
        "spark.sql.codegen.wholeStage": "false",
        "spark.sql.codegen.factoryMode": "NO_CODEGEN",
    },
    "--tiny-parallelism": {},
    "--arrow-tiny-batch": {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"},
    "--ansi-off": {"spark.sql.ansi.enabled": "false"},
    "--low-memory": {"spark.driver.memory": "2g"},
    "--tiny-scan-splits": {
        "spark.sql.files.maxPartitionBytes": "1m",
        "spark.sql.files.openCostInBytes": "0",
    },
    "--persist-pins": {},
}
_FLAGS = dict.fromkeys(_AXIS_CONFS, False)
_sample_k: int | None = None
_sample_salt = "r0"
_positional: list[str] = []
_argv = sys.argv[1:]
_i = 0
while _i < len(_argv):
    _a = _argv[_i]
    if _a in _FLAGS:
        _FLAGS[_a] = True
    elif _a == "--sample":
        if _i + 1 >= len(_argv):
            sys.exit("--sample requires N [SALT]")
        _sample_k = int(_argv[_i + 1])
        _i += 1
        if _i + 1 < len(_argv) and not _argv[_i + 1].startswith("--"):
            _sample_salt = _argv[_i + 1]
            _i += 1
    elif _a.startswith("--"):
        sys.exit(f"unrecognized flag: {_a} (known: {sorted(_FLAGS)} --sample)")
    else:
        _positional.append(_a)
    _i += 1
axes = [f for f, on in _FLAGS.items() if on]
tiny = _FLAGS["--tiny-parallelism"]
if _FLAGS["--persist-pins"]:
    # pin_mode() reads the env per pin, so setting it before the
    # catalog builds is sufficient — no session conf involved
    os.environ["SPARK_GRAFT_PIN_MODE"] = "persist"

builder = (
    SparkSession.builder.master("local[2]" if tiny else "local[8]")
    .appName("hostile-replay")
    .config("spark.driver.extraJavaOptions", "-Duser.timezone=America/New_York")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "1" if tiny else "200")
    .config("spark.sql.adaptive.enabled", "false")
    .config(
        "spark.sql.legacy.parquet.nanosAsLong", "true"
    )  # hard requirement of the testdata, documented in readers.table
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
)
for axis in axes:
    for key, value in _AXIS_CONFS[axis].items():
        builder = builder.config(key, value)
spark = builder.getOrCreate()

SF = "/root/testdata/sf0.01"
all_names = list(entrymod.oracle_sql())
tags = {"metric": "hostile_replay", "axes": axes}
if _sample_k is not None:
    ranked = sorted(
        all_names,
        key=lambda n: hashlib.md5(f"{_sample_salt}:{n}".encode()).hexdigest(),
    )
    names = sorted(set(ranked[:_sample_k]) | set(ALWAYS))
    tags["sample"] = [_sample_k, _sample_salt]
else:
    names = select(_positional, all_names)
sys.exit(replay(spark, SF, names, **tags))
