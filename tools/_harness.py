"""The one place that decides how a catalog query is set up, warmed and
timed, so ``bench.py`` and every tool under ``tools/`` measure the same
query the same way. It also puts the repo root (``REPO``) on
``sys.path``.

Scale: the timing tools (``bench.py``, ``ab_measure.py``,
``explain_dump.py``) run at ``$SPARK_GRAFT_SF_DIR``, else ``SF_DIR``'s
sf0.1; the plan audits (``window_audit.py``, ``plan_dup_audit.py``) at
``$SPARK_GRAFT_SF_DIR``, else ``AUDIT_SF_DIR``'s sf0.01. The oracle replays
(``driver_replay.py``, ``hostile_replay.py``) ignore the variable and gate
at sf0.01 (``driver_replay.py --sf DIR`` replays at another scale);
``plan_fingerprint.py`` pins tier-1's sf0.001.
"""

from __future__ import annotations

import os
import sys
import time
from typing import NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from crypto_prediction_etl_spark.plans import registry  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
AUDIT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def session(app: str):
    """Register the catalog and build the engine session at log level ERROR."""
    from crypto_prediction_etl_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def select(prefixes, names=None) -> list[str]:
    """The entries of ``names`` (default: the sorted registry) that start
    with one of ``prefixes``, in their given order; no prefixes = all."""
    prefixes = tuple(prefixes)
    if names is None:
        registry.load_all()
        names = sorted(registry.QUERIES)
    return [n for n in names if not prefixes or n.startswith(prefixes)]


def _noop(df) -> None:
    # full plan runs, nothing is collected to the driver
    df.write.format("noop").mode("overwrite").save()


def warm(spark, sf_dir: str) -> None:
    """The one-time warmers every timing session runs first."""
    # warm the JVM/codegen path so per-query numbers measure the plan,
    # not first-call classloading
    run(spark, "q01_pricing_summary", sf_dir)

    # warm the Python worker pool (fork + numpy/pandas import + Arrow
    # serde setup, ~100ms per worker) so the first pandas-kernel query
    # measures its plan, not interpreter startup; workers are reused
    # for the rest of the session (spark.python.worker.reuse)
    def _identity(batches):
        for b in batches:
            yield b

    _noop(spark.range(0, 256, 1, 256).mapInPandas(_identity, schema="id long"))
    # warm the localCheckpoint machinery (block-manager write path +
    # codegen classloading, ~3.5s one-time) used by the materialized
    # dedup intermediates
    spark.range(32).localCheckpoint(eager=True)


class Timing(NamedTuple):
    """Seconds for one query run: ``wall`` = ``build`` + ``execute``."""

    wall: float
    build: float  # the Python builder, incl. any jobs it runs eagerly
    execute: float  # planning and running the built plan


def run(spark, name: str, sf_dir: str) -> Timing:
    """Build ``name`` and execute it through the noop sink."""
    t0 = time.monotonic()
    df = registry.QUERIES[name](spark, sf_dir)
    t1 = time.monotonic()
    _noop(df)
    t2 = time.monotonic()
    return Timing(round(t2 - t0, 3), round(t1 - t0, 3), round(t2 - t1, 3))


def steal() -> int:
    """Cumulative host steal time in jiffies (``/proc/stat``): a pass with
    heavy steal is co-tenant noise, not plan cost."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])
