"""Dump .explain("formatted") for named queries to plans/r13/<q>_<tag>.txt.

Usage: python tools/explain_dump.py <tag> <query> [query ...]
  tag is e.g. "before" or "after"; files land in plans/r13/.

The dump captures the INITIAL adaptive plan (AdaptiveSparkPlan
isFinalPlan=false) — join strategies, exchange placement, pushed
filters and Python-eval nodes are all visible there, which is what the
plan-shape claims in OPTIMIZATION_r12.md reference.
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from crypto_prediction_etl_spark.plans import registry  # noqa: E402
from crypto_prediction_etl_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(REPO, "plans", "r13")


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]
    registry.load_all()
    spark = get_spark("explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)
    for name in names:
        df = registry.QUERIES[name](spark, SF)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
