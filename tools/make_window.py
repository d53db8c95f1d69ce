"""Emit the next round's ``_ADJUDICATE_FIRST`` list mechanically.

The round driver adjudicates the first 50 ``queries()`` entries, so
each round rotates ``__spark_entry__._ADJUDICATE_FIRST`` to the oldest
never-adjudicated names.  Hand-copying 50 names invites typos (a name
not in the registry silently falls out of ``_ordered`` and the driver
adjudicates something unplanned); this tool derives the list from the
registry and the CORRECTNESS history instead.

Usage:
  python tools/make_window.py [pick ...]

Never-adjudicated = registered queries with no GREEN verdict
(rows_match & hash_match & err null) in any CORRECTNESS_r*.json,
numeric order.  If fewer than 50 remain, the window is topped up with
the ``pick`` arguments (re-adjudication candidates, in the order
given) — extras beyond 50 are reported and dropped.  Output is a
ready-to-paste python list plus a JSON summary line.

``--fill-oldest`` (round 10+, VERDICT r8 item 6): once the ledger is
closed (every query has a green verdict) the window becomes a
freshness rotation — after never-adjudicated names and explicit picks,
remaining slots fill with the queries whose LATEST green verdict is
oldest (ties broken numerically), so verdict age is bounded
mechanically and rotation never stalls on hand-curated lists.
"""

import glob
import json
import os
import re
import sys

from _harness import REPO, registry

WINDOW = 50


def green_verdict_rounds(repo: str) -> dict[str, int]:
    """name -> highest CORRECTNESS round with a green verdict."""
    out: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            payload = json.load(f)
        entries = payload.get("queries", payload)
        if not isinstance(entries, dict):
            continue
        for k, v in entries.items():
            if (
                isinstance(v, dict)
                and v.get("rows_match") is True
                and v.get("hash_match") is True
                and v.get("err") is None
            ):
                out[k] = max(out.get(k, 0), rnd)
    return out


def green_adjudicated(repo: str) -> set[str]:
    return set(green_verdict_rounds(repo))


def main() -> None:
    registry.load_all()
    names = set(registry.QUERIES)
    args = sys.argv[1:]
    fill_oldest = "--fill-oldest" in args
    picks = [a for a in args if a != "--fill-oldest"]
    bad = [p for p in picks if p not in names]
    if bad:
        sys.exit(f"unknown pick(s), not in registry: {bad}")
    rounds = green_verdict_rounds(REPO)
    done = set(rounds)

    def qnum(n: str) -> int:
        return int(re.match(r"q(\d+)", n).group(1))

    never = sorted((n for n in names if n not in done), key=qnum)
    window = never[:WINDOW]
    for p in picks:
        if len(window) >= WINDOW:
            print(f"# dropped (window full): {p}")
            continue
        if p in window:
            continue
        window.append(p)
    if fill_oldest:
        by_age = sorted(
            (n for n in names if n in done and n not in window),
            key=lambda n: (rounds[n], qnum(n)),
        )
        window.extend(by_age[: WINDOW - len(window)])
    print("_ADJUDICATE_FIRST = [")
    for n in window:
        print(f'    "{n}",')
    print("]")
    print(
        json.dumps(
            {
                "metric": "make_window",
                "window": len(window),
                "never_adjudicated_total": len(never),
                "never_in_window": len([n for n in window if n in never]),
                "picks_used": [p for p in picks if p in window],
                "fill_oldest": fill_oldest,
                "oldest_fill_rounds": sorted(
                    {rounds[n] for n in window if n in done}
                )
                if fill_oldest
                else None,
            }
        )
    )


if __name__ == "__main__":
    main()
