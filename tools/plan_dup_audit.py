"""Duplicate-subtree audit: find queries whose physical plan computes
the same heavy subtree more than once.

q141 (r8) and q365 (r9) shared a failure shape: a frame referenced by
both sides of a self-join differs only in projection/alias, so
Catalyst plans its ENTIRE upstream (scan + join + distinct +
aggregation) once per side with zero exchange reuse — q365 showed 8
parquet scans and 14 HashAggregates for a query that needs 2 scans
and 3 aggs.  Locally that is noise; at 100 TB it multiplies the most
expensive stages of the job.  Both were found by hand.  This tool
finds the shape mechanically across the whole catalog:

  * build each query's df (at ``--sf DIR``, else $SPARK_GRAFT_SF_DIR,
    else sf0.01), EXECUTE it, and take the FINAL adaptive plan
    (``isFinalPlan=true`` section).  Executing matters:
    AQE performs exchange reuse at runtime (q44's duplicated sizes
    broadcast shows ReusedExchange only in the final plan), so the
    initial physical plan over-reports duplicates.  In the final plan
    a runtime-reused exchange prints as a one-line ReusedExchange
    reference with no subtree, so any duplicated subtree that SURVIVES
    into the final plan is work AQE really ran more than once;
  * reconstruct the operator tree from the indentation grammar
    (``+-``/``:-`` markers, 3 columns per level);
  * normalize each node (exprIds/plan_ids/codegen-stage-ids/paths
    folded) and hash every subtree bottom-up;
  * report subtrees that occur >= 2 times and contain real work
    (aggregate / join / file scan / generate / window) over
    >= MIN_NODES nodes.

Duplicates are not automatically bugs: a scalar-subquery bound scans
its table independently of the main scan (different work), and a
1-row broadcast scalar duplicated per branch costs nothing — hence
the MIN_NODES floor and the work-operator requirement, and hence this
is an AUDIT (ranked worklist for a human) not a gate.  Fixes follow
the repo convention: pin the shared frame with
``localCheckpoint(eager=True)`` (the "write it once, then join it"
production shape), which also requires staging the query for
re-adjudication (tools/plan_fingerprint.py flags it).

Usage:
  python tools/plan_dup_audit.py [name-prefix ...]   (no args = full catalog)
  python tools/plan_dup_audit.py --min-nodes 6 q14
  python tools/plan_dup_audit.py --sf /root/testdata/sf0.1
    (AQE's reuse and broadcast decisions are data-size-dependent, so a
    duplicate reused at sf0.01 can go un-reused at sf0.1 — audit both)
"""

import hashlib
import json
import re
import sys

from _harness import AUDIT_SF_DIR, registry, select, session

MIN_NODES = 4
# operators that represent real distributed work; a duplicated subtree
# must contain at least one to be reported
_WORK = ("HashAggregate", "SortAggregate", "ObjectHashAggregate",
         "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
         "FileScan", "Generate", "Window")

_NORM_SUBS = (
    (re.compile(r"#\d+[A-Za-z]*"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"\[id=#?\d+\]"), "[id=N]"),
    # fold the sf dir but KEEP the table file name — a count(*) scan
    # reads zero columns, so without the basename six different
    # tables' scans normalize identical (q04 false positive)
    (re.compile(r"/root/testdata/[^/\s]+/([^/\s,\]]+)"), r"<SF>/\1"),
    (re.compile(r"\blambda ([A-Za-z]\w*?)_\d+"), r"lambda \1_N"),
    (re.compile(r"InMemoryFileIndex\([^)]*\)\[([^]]*)\]"), r"IDX[\1]"),
)

_FINAL = "== Final Plan =="
_INITIAL = "== Initial Plan =="


def final_section(plan: str) -> str:
    """Cut an executed AdaptiveSparkPlan string down to the final plan
    (its toString includes the initial plan below a marker)."""
    if _FINAL in plan:
        plan = plan.split(_FINAL, 1)[1]
    if _INITIAL in plan:
        plan = plan.split(_INITIAL, 1)[0]
    return plan


def _normalize(line: str) -> str:
    for pat, rep in _NORM_SUBS:
        line = pat.sub(rep, line)
    return line.strip()


def parse_tree(plan: str):
    """Return list of (depth, text) from a Spark plan string.

    Depth is derived uniformly from the structural prefix width: the
    indentation grammar is 3-char groups — continuation fills (three
    spaces or ``:`` + two spaces) followed by at most one branch
    marker ``+- `` / ``:- `` — so depth = number of consumed groups.  This parents AQE
    continuation lines (``   ResultQueryStage``, no marker) one level
    ABOVE their ``   +- `` children instead of alongside them (the r9
    auditor's special-cased heuristic mis-parented those subtrees)."""
    out = []
    for raw in plan.splitlines():
        if not raw.strip():
            continue
        depth, pos = 0, 0
        while raw[pos : pos + 3] in ("   ", ":  "):
            pos += 3
            depth += 1
        if raw[pos : pos + 3] in ("+- ", ":- "):
            pos += 3
            depth += 1
        out.append((depth, raw[pos:]))
    return out


def subtree_hashes(nodes):
    """Bottom-up subtree hashing. Returns (info, children): a list of
    dicts per node {hash, size, head, has_work, reused, pinned_leaves}
    and the child-index lists (for descendant suppression)."""
    n = len(nodes)
    info = [None] * n
    # children of node i: subsequent nodes with depth == d+1 until a
    # node with depth <= d
    stack = []  # (index, depth)
    children = [[] for _ in range(n)]
    for i, (d, _) in enumerate(nodes):
        while stack and stack[-1][1] >= d:
            stack.pop()
        if stack:
            children[stack[-1][0]].append(i)
        stack.append((i, d))
    reused = [False] * n
    for i in range(n):
        if "ReusedExchange" in nodes[i][1] or "ReusedSubquery" in nodes[i][1]:
            for j in children[i]:
                reused[j] = True
    # propagate reused flag downward
    for i in range(n):
        if reused[i]:
            for j in children[i]:
                reused[j] = True
    for i in range(n - 1, -1, -1):
        txt = _normalize(nodes[i][1])
        child_hashes = [info[j]["hash"] for j in children[i]]
        h = hashlib.md5(
            (txt + "|" + ",".join(child_hashes)).encode()
        ).hexdigest()
        info[i] = {
            "hash": h,
            "size": 1 + sum(info[j]["size"] for j in children[i]),
            "head": txt[:110],
            "has_work": any(w in nodes[i][1] for w in _WORK)
            or any(info[j]["has_work"] for j in children[i]),
            "reused": reused[i],
            # caveat flag: ExistingRDD leaves carry no identity in plan
            # text, so two scans of DIFFERENT pinned states (e.g. one
            # per iteration of a checkpointed loop) normalize identical
            # — a finding over pinned leaves may be a false positive
            "pinned_leaves": "ExistingRDD" in nodes[i][1]
            or any(info[j]["pinned_leaves"] for j in children[i]),
        }
    return info, children


def audit_query(df, min_nodes: int):
    df.collect()  # drive AQE to the final plan (runtime reuse applied)
    plan = final_section(df._jdf.queryExecution().executedPlan().toString())
    nodes = parse_tree(plan)
    info, children = subtree_hashes(nodes)
    by_hash = {}
    for i, rec in enumerate(info):
        by_hash.setdefault(rec["hash"], []).append(i)
    findings = []
    covered = set()  # node indices inside an already-reported duplicate

    def cover(root: int) -> None:
        stack = [root]
        while stack:
            i = stack.pop()
            if i in covered:
                continue
            covered.add(i)
            stack.extend(children[i])

    # report ALL maximal duplicated subtrees: iterate largest-first and
    # suppress any hash whose every occurrence lies inside an
    # already-reported duplicate (those are duplicated only as part of
    # their parent) — a query with several independent duplicates now
    # yields several findings (the r9 auditor broke after the first)
    for _, idxs in sorted(
        by_hash.items(), key=lambda kv: -info[kv[1][0]]["size"]
    ):
        if len(idxs) < 2:
            continue
        r = info[idxs[0]]
        if r["size"] < min_nodes or not r["has_work"]:
            continue
        if all(info[i]["reused"] for i in idxs[1:]):
            continue
        if all(i in covered for i in idxs):
            continue
        findings.append(
            {
                "count": len(idxs),
                "size": r["size"],
                "head": r["head"],
                "pinned_leaves": r["pinned_leaves"],
            }
        )
        for i in idxs:
            cover(i)
    return findings


def main() -> int:
    args = sys.argv[1:]
    min_nodes = MIN_NODES
    sf_dir = AUDIT_SF_DIR
    while args[:1] in (["--min-nodes"], ["--sf"]):
        if args[0] == "--min-nodes":
            min_nodes = int(args[1])
        else:
            sf_dir = args[1]
        args = args[2:]
    spark = session("plan-dup-audit")
    names = select(args)
    rows = []
    errs = 0
    for name in names:
        try:
            df = registry.QUERIES[name](spark, sf_dir)
            for f in audit_query(df, min_nodes):
                rows.append({"query": name, **f})
        except Exception as e:  # noqa: BLE001
            errs += 1
            print(f"ERR {name}: {type(e).__name__} {str(e)[:120]}",
                  file=sys.stderr)
    rows.sort(key=lambda r: -(r["count"] * r["size"]))
    for r in rows:
        print(json.dumps(r))
    print(
        json.dumps(
            {
                "metric": "plan_dup_audit",
                "sf_dir": sf_dir,
                "queries_checked": len(names),
                "flagged": len(rows),
                "errors": errs,
                "min_nodes": min_nodes,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
