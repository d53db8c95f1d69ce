"""Dump .explain("formatted") for named queries to plans/<tag>/<q>.txt.

Usage: python tools/explain_dump.py <tag> <query> [query ...]
  tag is e.g. "before" or "after"; files land in plans/<tag>/.

The dump captures the INITIAL adaptive plan (AdaptiveSparkPlan
isFinalPlan=false) — join strategies, exchange placement, pushed
filters and Python-eval nodes are all visible there, which is what the
plan-shape claims in OPTIMIZATION_r12.md reference.
"""
import os
import sys

from _harness import REPO, SF_DIR, registry, session


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]
    spark = session("explain-dump")
    out = os.path.join(REPO, "plans", tag)
    os.makedirs(out, exist_ok=True)
    for name in names:
        df = registry.QUERIES[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out, f"{name}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
