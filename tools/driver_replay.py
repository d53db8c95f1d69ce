"""Driver-replica: import the public contract and run the full gate.

Round-5 upgrade (VERDICT r4 item 1): canonicalize through pandas
exactly like the round driver — `toPandas()` on the Spark side,
`.df()` on the DuckDB side, a frame-sort probe (list columns -> ERR),
and value normalization at the pandas level (HUGEINT->float64 drift
-> FAIL).  The old `str(value)`-on-raw-fetch comparison was blind to
both classes (q154/q157, r4).  Shared logic lives in tools/_canon.py.

Usage: python tools/driver_replay.py [--sf DIR] [name-prefix ...]
"""
import os
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)

import duckdb

import __spark_entry__ as entrymod
from _canon import compare_frames, frame_lines
from crypto_prediction_etl_spark.session import get_spark

SF = "/root/testdata/sf0.01"
# --sf DIR: replay the SAME exact gate at another scale. sf0.001 is the
# sparse-data hostility axis (round 8): empty groups, zero-row join
# sides, single-element windows — edge shapes sf0.01 never exercises.
# Both engines read the same parquet, so any mismatch is a genuine
# cross-engine edge-case bug, not a data artifact.
if sys.argv[1:2] == ["--sf"]:
    SF = sys.argv[2]
    del sys.argv[1:3]
spark = get_spark("driver-replay")

# 1. smoke: entry()
df = entrymod.entry(spark)
rows = df.collect()
print(f"SMOKE entry(): {len(rows)} rows, schema={[f.name for f in df.schema]}")
assert len(rows) > 0

# 2. correctness gate replica: pandas-canonical value-hash per query
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

qs, oracles = entrymod.queries(), entrymod.oracle_sql()
# Optional name-prefix filter (delta checks after touching a few
# plans: `python tools/driver_replay.py q267 q280`); no args = full
# gate, the only form that counts as the round-close verification.
prefixes = tuple(sys.argv[1:])
if prefixes:
    qs = {n: f for n, f in qs.items() if n.startswith(prefixes)}
n_pass = n_fail = 0
failed: list[str] = []
for name, fn in sorted(qs.items()):
    t0 = time.time()
    try:
        spdf = fn(spark, SF).toPandas()
        if name in oracles:
            dpdf = con.execute(oracles[name]).df()
            verdict, detail = compare_frames(spdf, dpdf)
        else:
            verdict, detail = "ROWS-ONLY", ""
    except Exception as exc:
        verdict, detail = "ERR", f"{type(exc).__name__}: {exc}"
    ok = verdict == "PASS"
    n_pass += ok
    if verdict in ("FAIL", "ERR"):
        n_fail += 1
        failed.append(name)
    extra = f"  [{detail}]" if detail else ""
    nrows = len(spdf) if verdict != "ERR" else -1
    print(f"{verdict} {name}: {nrows} rows ({time.time()-t0:.1f}s){extra}")
    if verdict == "FAIL" and detail == "hash mismatch":
        smap, dmap = set(frame_lines(spdf)), set(frame_lines(dpdf))
        for line in sorted(smap - dmap)[:3]:
            print(f"  spark-only: {line}")
        for line in sorted(dmap - smap)[:3]:
            print(f"  duck-only:  {line}")
print(f"\n{n_pass} pass, {n_fail} fail, {len(qs)} queries")
# Machine-parsable close-claim line (VERDICT r7 item 8): future rounds
# diff this mechanically instead of grepping prose logs.
import json  # noqa: E402

print(json.dumps({
    "metric": "driver_replay",
    "pass": n_pass,
    "fail": n_fail,
    "total": len(qs),
    "failed": failed,
    "sf_dir": SF,
}))
sys.exit(1 if n_fail else 0)
