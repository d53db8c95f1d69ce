"""Steal-aware targeted timing: run named queries N passes through the
noop sink at $SPARK_GRAFT_SF_DIR, recording wall seconds AND the host
steal-time delta per pass (this runner shares hardware with co-tenants;
a pass with heavy steal is regime noise, not plan cost — r11 verdict).

Prints one line per pass:  <query> pass<i> <sec>s steal=<jiffies>
and a final JSON {query: best_clean_sec} using the min over passes,
annotated with that pass's steal.

Usage: python tools/ab_measure.py [-n PASSES] qname [qname ...]
"""
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from crypto_prediction_etl_spark.plans import registry  # noqa: E402
from crypto_prediction_etl_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def steal() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def main() -> int:
    args = sys.argv[1:]
    passes = 3
    if args and args[0] == "-n":
        passes = int(args[1])
        args = args[2:]
    registry.load_all()
    spark = get_spark("ab-measure")
    spark.sparkContext.setLogLevel("ERROR")
    names = [n for n in sorted(registry.QUERIES) if n.startswith(tuple(args))]
    # warmers (same as timing_sweep/bench)
    registry.QUERIES["q01_pricing_summary"](spark, SF).write.format(
        "noop"
    ).mode("overwrite").save()

    def _identity(batches):
        for b in batches:
            yield b

    spark.range(0, 256, 1, 256).mapInPandas(_identity, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(32).localCheckpoint(eager=True)

    out = {}
    for name in names:
        best, best_steal = None, None
        for i in range(passes):
            s0 = steal()
            t0 = time.monotonic()
            registry.QUERIES[name](spark, SF).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = round(time.monotonic() - t0, 3)
            ds = steal() - s0
            print(f"{name} pass{i} {dt}s steal={ds}", flush=True)
            if best is None or dt < best:
                best, best_steal = dt, ds
        out[name] = {"sec": best, "steal": best_steal}
    print(json.dumps({"sf_dir": SF, "best": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
