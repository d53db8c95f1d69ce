"""Plan-fingerprint ledger: machine-detect "driver verdict is stale".

VERDICT r8 item 3: re-adjudication picks were curated by hand from
memory of which rounds touched which plans — q141's r7 slip ("no
driver verdict yet" when it had an r3 one on a superseded plan) shows
the failure mode.  This tool records a normalized fingerprint per
query; any query whose CURRENT fingerprint differs from the one
recorded at its last driver verdict is flagged for re-adjudication,
and tier-1's ``test_oracle_parity[name]`` fails if such a query is
absent from ``__spark_entry__._ADJUDICATE_FIRST``.

Fingerprint = md5 over
  * the normalized ANALYZED plan of the query at the ledger sf_dir
    (expression ids and lambda variables renumbered in
    first-appearance order, data paths folded to <SF>, partition counts
    equal to the session's defaultParallelism folded to <PAR> — so the
    hash is stable across sessions, hosts, build order, and memo
    warmth: a memo-reused LogicalRDD and a freshly checkpointed one
    normalize to the same string), plus
  * the query's DuckDB oracle SQL text (an oracle re-derivation — as
    in q141 r8 — also invalidates a verdict).

The ANALYZED (pre-optimizer) plan is used on purpose: it is the
deterministic product of the repo's builder code — exactly what a
repo edit changes — and is independent of AQE, physical strategy
picks, and optimizer-internal nondeterminism (RewriteDistinctAggregates
assigns grouping-set gid branches in unstable order, observed on
q214).  Optimizer behavior shifts come from Spark version bumps, not
repo edits, and are out of scope for verdict staleness.  A change
hidden ENTIRELY behind a localCheckpoint that alters neither the
final plan nor the oracle is invisible here — but such a change
either alters results (caught by tools/driver_replay.py) or is
perf-only.

The ledger is recorded at ``SF_DIR``, tier-1's sf0.001, so the parity
test checks the frames it builds.  Scale matters: q55_kmeans_clusters,
q56_ivf_ann, q101_semdedup, q249_bpe_train and q384_conformal_coverage
put values computed from the input into the plan, so their fingerprints
differ between scales (the other 415 are equal at sf0.001 and sf0.01).

Ledger protocol (PLAN_FINGERPRINTS.json):
  * ``--bootstrap [name ...]`` records the named queries (default: all)
    at ``SF_DIR`` and stamps the ledger with it; a recorded entry keeps
    its ``verdict_round``.  To move the ledger's scale, check at the
    old one, then bootstrap the five scale-dependent builders.
  * at each round START, after the driver wrote CORRECTNESS_r{N}:
    ``python tools/plan_fingerprint.py --update`` refreshes exactly
    the entries whose latest green verdict round is NEWER than the
    recorded one (the driver adjudicated the round-close tree, which
    is the tree at next round start — so the current fingerprint IS
    the at-verdict fingerprint) plus any new/unrecorded names.
  * plain run = check mode: prints drift, exit 1 if a drifted query
    is not staged for re-adjudication.  Check and update exit 1 at
    once when the ledger's ``sf_dir`` is not ``SF_DIR``.

Usage:
  python tools/plan_fingerprint.py [--bootstrap | --update] [name ...]
"""

import hashlib
import json
import os
import re
import sys

from _harness import REPO, registry, session
from make_window import green_verdict_rounds

LEDGER = os.path.join(REPO, "PLAN_FINGERPRINTS.json")
SF_DIR = "/root/testdata/sf0.001"

_EXPR_ID = re.compile(r"#(\d+)")
_PATH = re.compile(r"/root/testdata/\S+")
_PLAN_ID = re.compile(r"plan_id=\d+")
# higher-order-function variables carry a session-global counter
# ("lambda x_1#14L" vs "lambda x_2#14L" for the same code)
_LAMBDA_VAR = re.compile(r"\blambda ([A-Za-z]\w*?)_\d+")
# partition counts a builder takes from defaultParallelism, i.e. the
# host's core count: ``df.repartition(par)`` and ``spark.range(n)``
_PAR_COUNT = r"(Repartition |splits=Some\(){}\b"


def normalize_plan(plan: str, par: int | None = None) -> str:
    """Session-independent canonical form of a plan string; ``par`` is
    the session's defaultParallelism."""
    if par is not None:
        plan = re.sub(_PAR_COUNT.format(par), r"\1<PAR>", plan)
    plan = _PATH.sub("<SF>", plan)
    plan = _PLAN_ID.sub("plan_id=N", plan)
    plan = _LAMBDA_VAR.sub(r"lambda \1_N", plan)
    seen: dict[str, str] = {}

    def renumber(m: re.Match) -> str:
        raw = m.group(1)
        if raw not in seen:
            seen[raw] = str(len(seen))
        return "#" + seen[raw]

    return _EXPR_ID.sub(renumber, plan)


def frame_fingerprint(df, name: str) -> str:
    """Fingerprint of ``df``, the built frame of query ``name``."""
    plan = df._jdf.queryExecution().analyzed().toString()
    blob = (
        normalize_plan(plan, df.sparkSession.sparkContext.defaultParallelism)
        + "\n==oracle==\n"
        + registry.ORACLES.get(name, "")
    )
    return hashlib.md5(blob.encode()).hexdigest()


def fingerprint(spark, name: str) -> str:
    return frame_fingerprint(registry.QUERIES[name](spark, SF_DIR), name)


def drift(fps: dict[str, str], entries: dict, staged) -> tuple[list, list]:
    """``(drifted, unstaged)``: the names in ``fps`` whose fingerprint
    differs from their ledger entry, and those of them not ``staged``
    for re-adjudication.  A name without an entry is not drift."""
    drifted = sorted(
        n for n, fp in fps.items() if n in entries and entries[n]["fp"] != fp
    )
    return drifted, [n for n in drifted if n not in staged]


def load_ledger() -> dict:
    if not os.path.exists(LEDGER):
        return {"sf_dir": SF_DIR, "entries": {}}
    with open(LEDGER) as f:
        return json.load(f)


def compute_all(spark, names=None) -> dict[str, str]:
    names = list(names or registry.QUERIES)
    fps = {}
    for i, n in enumerate(names):
        fps[n] = fingerprint(spark, n)
        if (i + 1) % 50 == 0:
            print(f"  fingerprinted {i + 1}/{len(names)}", file=sys.stderr)
    return fps


def main() -> int:
    mode = "check"
    argv = sys.argv[1:]
    if argv and argv[0] in ("--bootstrap", "--update"):
        mode = argv[0][2:]
        argv = argv[1:]

    ledger = load_ledger()
    entries = ledger["entries"]
    line = {"metric": "plan_fingerprint", "mode": mode, "sf_dir": SF_DIR}
    if mode != "bootstrap" and ledger["sf_dir"] != SF_DIR:
        line["error"] = f"ledger recorded at {ledger['sf_dir']}"
        print(json.dumps(line))
        return 1

    spark = session("plan-fingerprint")

    names = argv or list(registry.QUERIES)
    fps = compute_all(spark, names)
    verdict_rounds = green_verdict_rounds(REPO)

    import __spark_entry__ as entry_mod

    drifted, unstaged_drift = drift(fps, entries, entry_mod._ADJUDICATE_FIRST)
    missing = sorted(n for n in names if n not in entries)

    if mode in ("bootstrap", "update"):
        for n in names:
            rec = entries.get(n)
            if rec is None or (
                mode == "update"
                and (verdict_rounds.get(n) or 0) > (rec["verdict_round"] or 0)
            ):
                entries[n] = {"fp": fps[n], "verdict_round": verdict_rounds.get(n)}
            elif mode == "bootstrap":
                rec["fp"] = fps[n]
        ledger["sf_dir"] = SF_DIR
        with open(LEDGER, "w") as f:
            json.dump(ledger, f, indent=1, sort_keys=True)
            f.write("\n")

    line.update(
        checked=len(names),
        drifted=drifted,
        unstaged_drift=unstaged_drift,
        missing_from_ledger=len(missing),
    )
    print(json.dumps(line))
    return 1 if mode == "check" and unstaged_drift else 0


if __name__ == "__main__":
    sys.exit(main())
