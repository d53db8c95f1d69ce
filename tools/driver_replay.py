"""Driver-replica: import the public contract and run the full gate.

Runs the `entry()` smoke, then compares every registered query with its
DuckDB oracle through `tests.oracle.compare_query`, the driver-faithful
pandas canonicalization that tier-1 and `tools/hostile_replay.py` share.
Prints one verdict line per query and ends with a JSON verdict line.

Usage: python tools/driver_replay.py [--sf DIR] [name-prefix ...]
"""
import sys

from _harness import select, session

import __spark_entry__ as entrymod
from tests.oracle import replay

SF = "/root/testdata/sf0.01"
# --sf DIR: replay the SAME exact gate at another scale. sf0.001 is the
# sparse-data hostility axis (round 8): empty groups, zero-row join
# sides, single-element windows — edge shapes sf0.01 never exercises.
# Both engines read the same parquet, so any mismatch is a genuine
# cross-engine edge-case bug, not a data artifact.
if sys.argv[1:2] == ["--sf"]:
    SF = sys.argv[2]
    del sys.argv[1:3]
spark = session("driver-replay")

# 1. smoke: entry()
df = entrymod.entry(spark)
rows = df.collect()
print(f"SMOKE entry(): {len(rows)} rows, schema={[f.name for f in df.schema]}")
assert len(rows) > 0

# 2. correctness gate replica. Optional name-prefix filter (delta
# checks after touching a few plans: `python tools/driver_replay.py
# q267 q280`); no args = full gate, the only form that counts as the
# round-close verification.
names = select(sys.argv[1:], sorted(entrymod.queries()))
sys.exit(replay(spark, SF, names, metric="driver_replay"))
