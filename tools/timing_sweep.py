"""Full-catalog timing sweep: run every registered query to completion
(noop sink) at $SPARK_GRAFT_SF_DIR (default sf0.1) and print per-query
seconds, slowest first.

This is the hotspot finder, not the bench: BENCH numbers come from
bench.py's fixed panels; this sweep exists to catch operators whose
cost curve bends at 10x data (the r5 LOF/MMD discoveries: all-pairs
theta joins invisible at sf0.01, 75-143 s at sf0.1).

Usage: python tools/timing_sweep.py [name-prefix ...]
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


def main() -> int:
    registry.load_all()
    spark = get_spark("timing-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    prefixes = tuple(sys.argv[1:])
    names = [
        n for n in sorted(registry.QUERIES)
        if not prefixes or n.startswith(prefixes)
    ]
    # warm codegen + python worker pool + checkpoint machinery
    registry.QUERIES["q01_pricing_summary"](spark, SF).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(32).localCheckpoint(eager=True)

    out: dict[str, float] = {}
    for name in names:
        t0 = time.monotonic()
        try:
            registry.QUERIES[name](spark, SF).write.format("noop").mode(
                "overwrite"
            ).save()
            out[name] = round(time.monotonic() - t0, 2)
        except Exception as exc:  # noqa: BLE001
            print(f"ERR {name}: {type(exc).__name__}: {str(exc)[:120]}")
            out[name] = -1.0
        print(f"{out[name]:8.2f}  {name}", flush=True)
    ranked = sorted(out.items(), key=lambda kv: -kv[1])
    print("\n=== slowest 25 ===")
    for n, s in ranked[:25]:
        print(f"{s:8.2f}  {n}")
    print(json.dumps({"sf_dir": SF, "total": round(sum(max(s, 0) for s in out.values()), 1)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
