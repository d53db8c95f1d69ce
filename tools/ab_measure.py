"""Steal-aware query timing: run queries N passes through the noop sink
at $SPARK_GRAFT_SF_DIR, recording wall seconds, its build/execute split
AND the host steal-time delta per pass (this runner shares hardware with
co-tenants; a pass with heavy steal is regime noise, not plan cost —
r11 verdict).

With no prefixes it times the whole catalog: ``-n 1`` is the hotspot
sweep, which exists to catch operators whose cost curve bends at 10x
data (the r5 LOF/MMD discoveries: all-pairs theta joins invisible at
sf0.01, 75-143 s at sf0.1). BENCH numbers come from bench.py's fixed
panels, not from here.

Prints one line per pass:
  <query> pass<i> <sec>s build=<sec>s exec=<sec>s steal=<jiffies>
(``ERR <query>: ...`` and -1 for a query that fails; the run goes on),
then the slowest 25 and a final JSON {query: best_clean_sec} using the
min over passes, annotated with that pass's steal.

Usage: python tools/ab_measure.py [-n PASSES] [name-prefix ...]
"""
import json
import sys

from _harness import SF_DIR, run, select, session, steal, warm


def main() -> int:
    args = sys.argv[1:]
    passes = 3
    if args and args[0] == "-n":
        passes = int(args[1])
        args = args[2:]
    spark = session("ab-measure")
    names = select(args)
    warm(spark, SF_DIR)

    out = {}
    for name in names:
        best, best_steal = None, None
        for i in range(passes):
            s0 = steal()
            try:
                t = run(spark, name, SF_DIR)
            except Exception as exc:  # noqa: BLE001
                print(f"ERR {name}: {type(exc).__name__}: {str(exc)[:120]}")
                best, best_steal = -1.0, None
                break
            ds = steal() - s0
            print(
                f"{name} pass{i} {t.wall}s build={t.build}s exec={t.execute}s"
                f" steal={ds}",
                flush=True,
            )
            if best is None or t.wall < best:
                best, best_steal = t.wall, ds
        out[name] = {"sec": best, "steal": best_steal}
    print("\n=== slowest 25 ===")
    for n, r in sorted(out.items(), key=lambda kv: -kv[1]["sec"])[:25]:
        print(f"{r['sec']:8.2f}  {n}")
    print(json.dumps({"sf_dir": SF_DIR, "best": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
