"""Catalog-wide partition-less-window inventory.

The class VERDICT r4/r5 flagged twice: a window with an ORDER BY and
no PARTITION BY plans as a SINGLE-partition window — one task holds
every input row, the classic scale-killer when the frame is
proportional to the data.  This tool walks every registered query's
executed plan, extracts each ``windowspecdefinition`` whose argument
list carries no partition column, and prints them grouped by query so
the allowlist in tests/test_oracle_parity.py (the enforcement half,
run per query by ``test_oracle_parity[name]``) is an audited
inventory, not a guess.

Spec-string classification: inside ``windowspecdefinition(...)``,
partition columns are top-level args WITHOUT a sort marker; order
columns carry ``ASC``/``DESC``; the frame is the trailing
``specifiedwindowframe(...)``.  A spec is partition-less iff every
non-frame top-level arg is a sort spec.

Usage: python tools/window_audit.py [name-prefix ...]
  (at $SPARK_GRAFT_SF_DIR, else sf0.01)
"""

import contextlib
import re
import sys

from _harness import AUDIT_SF_DIR, registry, select, session

_MARK = "windowspecdefinition("

# Operators that bound a window's input to a constant number of rows
# regardless of data size: Spark rewrites partition-less rank+filter
# patterns into TakeOrderedAndProject / WindowGroupLimit (distributed
# partial top-k), and explicit limits do the same.
_BOUNDED = re.compile(
    r"TakeOrderedAndProject|WindowGroupLimit|CollectLimit|GlobalLimit"
    r"|LocalLimit"
)


def _top_level_args(s: str) -> list[str]:
    """Split a balanced-paren argument string on top-level commas."""
    args, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        args.append("".join(cur).strip())
    return args


def _spec_bodies(plan: str) -> list[str]:
    """Extract every full windowspecdefinition(...) argument string."""
    out = []
    i = 0
    while True:
        i = plan.find(_MARK, i)
        if i < 0:
            return out
        j = i + len(_MARK)
        depth = 1
        k = j
        while depth and k < len(plan):
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
            k += 1
        out.append(plan[j : k - 1])
        i = k


# A sort-order arg RENDERS with its direction and null ordering at the
# very end ("expr ASC NULLS FIRST"); anchoring there keeps a
# partition-by EXPRESSION whose rendered form merely contains " ASC"
# somewhere inside (a literal, a nested sort) from being misread as an
# order column and the spec skipped by the guard.
_SORT_MARKER = re.compile(r" (ASC|DESC) NULLS (FIRST|LAST)$")


def partitionless_specs(plan: str) -> list[str]:
    """Return the partition-less windowspecdefinition bodies of a plan."""
    found = []
    for body in _spec_bodies(plan):
        args = _top_level_args(body)
        non_frame = [
            a for a in args if not a.startswith("specifiedwindowframe(")
        ]
        if all(_SORT_MARKER.search(a) for a in non_frame):
            found.append(body)
    return found


def normalize_spec(body: str) -> str:
    """Spec body with expression ids stripped — stable across runs, so
    the test allowlist can pin the FULL spec (order columns, direction,
    frame), not just the first order-column name."""
    return re.sub(r"#\d+L?", "", body)


def subject(body: str) -> str:
    """Normalized first-order-column name of a partition-less spec
    ('' when the spec is order-less, i.e. whole-frame)."""
    args = _top_level_args(body)
    non_frame = [a for a in args if not a.startswith("specifiedwindowframe(")]
    if not non_frame:
        return ""
    return non_frame[0].split("#")[0].strip()


def _depth(line: str) -> int:
    m = re.search(r"(\+\-|\:\-)", line)
    return m.start() if m else -1


def _unbounded_partitionless_bodies(plan: str) -> list[str]:
    """Raw spec bodies of partition-less windows whose input subtree
    carries no limit-like bound — the single-task-window scale
    hazards.  The globalrank offsets pass (ordered by ``_gr_pid``,
    O(partitions) rows by construction) is excluded."""
    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        if "Window " not in ln:
            continue
        specs = partitionless_specs(ln)
        if not specs:
            continue
        d = max(_depth(ln), 0)
        sub = []
        for l2 in lines[i + 1 :]:
            d2 = _depth(l2)
            if 0 <= d2 <= d:
                break
            sub.append(l2)
        if _BOUNDED.search("\n".join(sub)):
            continue
        for body in specs:
            # the operators' own O(partitions) offset passes order by
            # the partition id — bounded by construction
            if subject(body) not in ("_gr_pid", "_gl_pid"):
                out.append(body)
    return out


def unbounded_partitionless(plan: str) -> list[str]:
    """First-order-column subjects of the unbounded partition-less
    windows (CLI display form)."""
    return [subject(b) for b in _unbounded_partitionless_bodies(plan)]


def unbounded_partitionless_specs(plan: str) -> list[str]:
    """Normalized FULL spec bodies of the unbounded partition-less
    windows — what the test allowlist pins (see normalize_spec)."""
    return [
        normalize_spec(b) for b in _unbounded_partitionless_bodies(plan)
    ]


@contextlib.contextmanager
def capture_checkpoint_plans(store: list):
    """Spy on DataFrame.localCheckpoint so plan subtrees PINNED behind
    a checkpoint (which the final executedPlan shows only as
    ``Scan ExistingRDD``) still reach plan audits.  Each call appends
    the pre-checkpoint executed plan string to ``store``."""
    from pyspark.sql import DataFrame

    orig = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        store.append(
            self._jdf.queryExecution().executedPlan().toString()
        )
        return orig(self, *args, **kwargs)

    DataFrame.localCheckpoint = spy
    try:
        yield
    finally:
        DataFrame.localCheckpoint = orig


def main() -> int:
    spark = session("window-audit")
    names = select(sys.argv[1:])
    hits = 0
    for name in names:
        pinned: list[str] = []
        try:
            with capture_checkpoint_plans(pinned):
                plan = (
                    registry.QUERIES[name](spark, AUDIT_SF_DIR)
                    ._jdf.queryExecution()
                    .executedPlan()
                    .toString()
                )
        except Exception as exc:  # pragma: no cover - inventory tool
            print(f"ERR  {name}: {type(exc).__name__}: {exc}")
            continue
        subs = sorted(
            {
                s or "<whole-frame>"
                for p in [plan, *pinned]
                for s in unbounded_partitionless(p)
            }
        )
        if subs:
            hits += 1
            print(f"{name}: {', '.join(subs)}")
    print(
        f"-- {hits}/{len(names)} queries carry unbounded partition-less"
        " windows (incl. checkpoint-pinned subplans)"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
