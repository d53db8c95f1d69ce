"""Every registered query must match its DuckDB oracle row-for-row.

This mirrors the driver's correctness gate (CORRECTNESS_r{N}.json) so
regressions surface locally before a round ends.  ``test_oracle_parity``
builds each query ONCE and runs every per-query contract on that frame,
in this order:

1. **Plan guard** (``plan_offenders``): the executed plan, taken before
   anything executes, and every subplan pinned behind a
   ``localCheckpoint`` carry no ``CartesianProduct``, no row-at-a-time
   Python UDF (``BatchEvalPython``) and no unbounded partition-less
   window outside ``_PARTITIONLESS_WINDOW_ALLOWED``.
2. **Spark type ban**: no Array/Map/Struct/Decimal output column.
3. **Oracle type ban**: no HUGEINT/list/STRUCT/MAP/DECIMAL in the
   oracle's ``DESCRIBE`` types.
4. **Parity** through ``tests.oracle.compare_query``.
5. **Plan-fingerprint drift**: a fingerprint that differs from
   PLAN_FINGERPRINTS.json needs the query staged in
   ``__spark_entry__._ADJUDICATE_FIRST`` (``tools/plan_fingerprint.py``).
   The ledger is at tier-1's sf0.001; under a ``SPARK_GRAFT_TEST_SF_DIR``
   at another scale, only the tool checks drift.

The type bans are the r4 lesson (q154/q157/q200/q265): the driver
round-trips both sides through pandas before sorting and hashing, so
DuckDB HUGEINT silently becomes float64 (hash drift vs Spark's int64)
and list/struct/map columns crash the frame sort (ERR).  FLOAT stays
allowed: q65 emits float32 on both sides and has been driver-green
since r2; the float32->float64 widening is identical on both sides.
"""

from __future__ import annotations

import pytest
from __spark_entry__ import _ADJUDICATE_FIRST
from plan_fingerprint import drift, frame_fingerprint, load_ledger
from pyspark.sql import types as T
from window_audit import capture_checkpoint_plans, unbounded_partitionless_specs

from crypto_prediction_etl_spark.plans import registry

from .oracle import compare_query

registry.load_all()
_LEDGER = load_ledger()

# Partition-less windows over frames that are BOUNDED by semantics,
# not by a limit operator the mechanical audit can see.  Every entry
# is a human-audited tiny/sub-linear frame WITH its worst-case row
# bound stated, pinned by the FULL normalized spec body (order
# columns + directions + frame, expr-ids stripped — see
# tools/window_audit.normalize_spec), so a future window in the same
# query that merely shares an order-column NAME, or a frame change,
# fails the guard instead of slipping through.  Anything NOT listed
# that plans an unbounded partition-less window fails the catalog
# guard — the structural close of the single-task-window class
# VERDICT r4/r5 flagged.
_ROWS_CUM = "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())"
_ROWS_ALL = (
    "specifiedwindowframe(RowFrame, unboundedpreceding$(), unboundedfollowing$())"
)
_PARTITIONLESS_WINDOW_ALLOWED = {
    # calendar DAY grain: rows = distinct days <= ~366 * corpus years
    # (grows with lifetime, not data size)
    "q107_cumulative_uniques": {f"day ASC NULLS FIRST, {_ROWS_CUM}"},
    # decile table: exactly 10 rows by construction
    "q248_gain_deciles": {
        f"decile ASC NULLS FIRST, {_ROWS_CUM}",
        f"decile ASC NULLS FIRST, {_ROWS_ALL}",
    },
    # stratum table: exactly 3 rows (tertile cut)
    "q257_stratified_effect": {_ROWS_ALL},
    # distinct tenure DAYS: <= ~366 * corpus years (lifetime grain)
    "q259_km_survival": {
        f"days ASC NULLS FIRST, {_ROWS_CUM}",
        "days ASC NULLS FIRST, specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), -1)",
    },
    # planner config grid: bands in divisors(16) x thresholds = O(10)
    "q270_lsh_planner": {
        f"_w0 ASC NULLS FIRST, b ASC NULLS FIRST, {_ROWS_CUM}"
    },
    # calendar MONTH grain: <= 12 * corpus years
    "q300_momentum_backtest": {f"mon ASC NULLS FIRST, {_ROWS_CUM}"},
    # hypothesis table: one row per tested event_type (~5)
    "q310_holm_correction": {
        f"_w0 DESC NULLS LAST, id ASC NULLS FIRST, {_ROWS_CUM}",
        f"rk ASC NULLS FIRST, {_ROWS_CUM}",
    },
    # contingency cells: |status| x |priority| <= 15 rows
    "q341_chi_square": {_ROWS_ALL},
    # label table: one row per embedding label (~10) — the modularity
    # fold is post-aggregate (q355 scalar law).  Flagged only since
    # r12: pinning the shared _edges feeder collapsed the kNN kernel
    # subtree (whose WindowGroupLimit markers previously tripped the
    # _BOUNDED exclusion) into a LogicalRDD leaf, exposing the
    # always-present window to the guard.
    "q372_label_modularity": {_ROWS_ALL},
    # hypothesis table: one row per tested event_type (~5)
    "q355_bh_fdr": {
        f"_w0 DESC NULLS LAST, id ASC NULLS FIRST, {_ROWS_CUM}"
    },
    # calendar HOUR grain: <= 8784 * corpus years (lifetime grain)
    "q413_slo_burn_rate": {
        "h ASC NULLS FIRST, specifiedwindowframe(RowFrame, -5, "
        "currentrow$())"
    },
    # token-frequency curve: exactly 8 threshold points
    "q418_coverage_knee": {
        f"cnt DESC NULLS LAST, tok ASC NULLS FIRST, {_ROWS_CUM}"
    },
}


_BANNED_SPARK = (T.ArrayType, T.MapType, T.StructType, T.DecimalType)
_BANNED_DUCK = ("HUGEINT", "[]", "STRUCT", "MAP", "DECIMAL")


def plan_offenders(name: str, plans) -> list[str]:
    """Catalog-wide anti-pattern guard over one query's plan strings:
    a CartesianProduct, a row-at-a-time Python UDF (BatchEvalPython) or
    an unbounded partition-less window outside the audited allowlist.
    Scalar-subquery broadcasts plan as BroadcastNestedLoopJoin over
    1-row frames and pool-bounded theta joins (q232's 20x20 MMR pool)
    also avoid CartesianProduct, so the cartesian/python slate needs no
    allowlist — any new offender is a scale bug on arrival."""
    allowed = _PARTITIONLESS_WINDOW_ALLOWED.get(name, set())
    offenders = []
    for p in plans:
        if "CartesianProduct" in p:
            offenders.append("CartesianProduct")
        if "BatchEvalPython" in p:
            offenders.append("BatchEvalPython")
        stray = set(unbounded_partitionless_specs(p)) - allowed
        if stray:
            offenders.append(f"partition-less window {stray}")
    return offenders


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_oracle_parity(spark, duck, sf_dir, name):
    pinned: list[str] = []
    with capture_checkpoint_plans(pinned):
        df = registry.QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    offenders = plan_offenders(name, [plan, *pinned])
    assert not offenders, f"{name}: {offenders}"

    bad = [
        (f.name, f.dataType.simpleString())
        for f in df.schema.fields
        if isinstance(f.dataType, _BANNED_SPARK)
    ]
    assert not bad, f"{name}: Spark output types {bad}"
    desc = duck.execute(f"DESCRIBE ({registry.ORACLES[name]})").fetchall()
    bad = [(c, t) for c, t, *_ in desc if any(k in t for k in _BANNED_DUCK)]
    assert not bad, f"{name}: oracle output types {bad}"

    verdict, detail, _ = compare_query(df, duck, name)
    assert verdict == "PASS", f"{name}: {verdict} {detail}"

    ledger = _LEDGER["entries"] if _LEDGER["sf_dir"] == sf_dir else {}
    _, unstaged = drift({name: frame_fingerprint(df, name)}, ledger, _ADJUDICATE_FIRST)
    assert not unstaged, (
        "plan or oracle changed since last recorded fingerprint but the "
        f"query is not staged for re-adjudication: {unstaged} — "
        "add it to __spark_entry__._ADJUDICATE_FIRST (or, if the change "
        "lands in the same round as its pending verdict, run "
        "`python tools/plan_fingerprint.py --update`)"
    )


def test_plan_guard_flags_each_offender(spark):
    """Mutation test OF THE GUARD: a cross join with broadcast off, a
    row-at-a-time UDF and an unpartitioned ``row_number`` each give one
    offender, and the same window under a name whose allowlist pins its
    spec gives none.  If this test fails, a green catalog means nothing."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def offenders(df, name="q000_probe"):
        return plan_offenders(
            name, [df._jdf.queryExecution().executedPlan().toString()]
        )

    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        cross = spark.range(3).crossJoin(spark.range(3).withColumnRenamed("id", "j"))
        assert offenders(cross) == ["CartesianProduct"]
    finally:
        spark.conf.set(conf, old)

    plus_one = F.udf(lambda x: x + 1, "long", useArrow=False)
    assert offenders(spark.range(3).select(plus_one("id"))) == ["BatchEvalPython"]

    days = spark.range(3).withColumnRenamed("id", "day")
    ranked = days.withColumn("rn", F.row_number().over(Window.orderBy("day")))
    found = offenders(ranked)
    assert len(found) == 1 and found[0].startswith("partition-less window"), found
    assert offenders(ranked, "q107_cumulative_uniques") == []


def test_adjudication_window_names_resolve():
    """Every name in the driver-facing rotation must exist in the
    registry — a typo would silently drop a query from the driver's
    50-row adjudication window."""
    import __spark_entry__ as entry

    missing = [
        n for n in entry._ADJUDICATE_FIRST if n not in registry.QUERIES
    ]
    assert not missing, missing
    # the driver adjudicates exactly 50: a short list wastes verdict
    # slots, a long one silently postpones its tail
    assert len(entry._ADJUDICATE_FIRST) == 50
    assert len(set(entry._ADJUDICATE_FIRST)) == 50
    # and the first 50 oracle-backed entries are exactly the rotation head
    ordered = list(entry.oracle_sql())
    assert ordered[: len(entry._ADJUDICATE_FIRST)] == [
        n for n in entry._ADJUDICATE_FIRST if n in registry.ORACLES
    ]


def test_adjudication_window_drains_never_adjudicated_first():
    """make_window contract, pinned as a durable invariant (r9): every
    registered query that has NO green driver verdict yet must occupy
    the leading window slots in numeric order (capped at 50) — a
    hand-edit that bumps a never-adjudicated name for a pet pick would
    silently postpone first-ever verdicts, the scarcest resource.
    Once the ledger closes (no never-adjudicated names) this holds
    vacuously and the window becomes a pure freshness/re-adjudication
    rotation."""
    import re as _re

    import __spark_entry__ as entry
    from make_window import green_adjudicated

    from .conftest import REPO_ROOT

    done = green_adjudicated(REPO_ROOT)
    never = sorted(
        (n for n in registry.QUERIES if n not in done),
        key=lambda n: int(_re.match(r"q(\d+)", n).group(1)),
    )
    expect_head = never[:50]
    assert entry._ADJUDICATE_FIRST[: len(expect_head)] == expect_head


def test_registry_hygiene():
    """Catalog-wide contracts: every registered query is documented
    (the docstring carries the design rationale the repo is graded
    on), every oracle references only pre-registered driver views,
    and names follow the qNNN_snake convention."""
    import re

    from crypto_prediction_etl_spark.sources.readers import TESTDATA_TABLES

    name_re = re.compile(r"^q\d+[a-z]?_[a-z0-9_]+$")
    for name, fn in registry.QUERIES.items():
        assert name_re.match(name), name
        assert fn.__doc__ and len(fn.__doc__) > 80, f"{name}: missing/thin docstring"
    known = set(TESTDATA_TABLES)
    # crude FROM/JOIN target scan; CTE names resolve before tables so
    # only unknown bare identifiers that are ALSO not CTEs would flag
    for name, sql in registry.ORACLES.items():
        ctes = set(
            re.findall(
                r"(\w+)(?:\s*\([^)]*\))?\s+AS(?:\s+MATERIALIZED)?\s*\(", sql
            )
        )
        # negative lookahead skips EXTRACT(unit FROM col) pseudo-FROMs
        targets = set(
            re.findall(r"(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)\b(?!\s*\))", sql)
        )
        unknown = {
            t
            for t in targets
            if t not in known and t not in {c.lower() for c in ctes}
            and t not in ("unnest", "range", "generate_series", "lateral")
        }
        assert not unknown, (name, unknown)


def test_gate_detects_perturbations(spark, duck, sf_dir):
    """Mutation test OF THE GATE: the pandas-canonicalization compare
    (tests.oracle.compare_frames — the driver mirror tier-1 and every
    replay gate use) must flag a value nudge below the rounding grid's
    neighbor, a dropped row, a renamed column, an unsortable list
    column, an integer column re-typed as float64 (the HUGEINT drift)
    and a 5e-7 relative nudge.  The last two passed the old raw-row
    ``math.isclose(rel=1e-6)`` comparator.  If this test fails, green
    replays mean nothing."""
    from crypto_prediction_etl_spark.plans.registry import ORACLES, QUERIES

    from .oracle import compare_frames

    name = "q01_pricing_summary"
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    ddf = duck.execute(ORACLES[name]).df()
    assert compare_frames(sdf, ddf)[0] == "PASS"

    nudged = sdf.copy()
    num_cols = [c for c in nudged.columns if nudged[c].dtype == "float64"]
    nudged.loc[0, num_cols[0]] += 1e-3
    assert compare_frames(nudged, ddf)[0] == "FAIL"

    assert compare_frames(sdf.iloc[:-1], ddf)[0] == "FAIL"

    renamed = sdf.rename(columns={sdf.columns[0]: "zz_renamed"})
    assert compare_frames(renamed, ddf)[0] == "FAIL"

    listy = sdf.copy()
    listy[listy.columns[0]] = [[1, 2]] * len(listy)
    assert compare_frames(listy, ddf)[0] in ("ERR", "FAIL")

    int_col = next(c for c in sdf.columns if sdf[c].dtype.kind == "i")
    floated = sdf.astype({int_col: "float64"})
    assert (floated[int_col] == sdf[int_col]).all()
    assert compare_frames(floated, ddf)[0] == "FAIL"

    col = next(c for c in num_cols if sdf.loc[0, c] != 0)
    drifted = sdf.copy()
    drifted.loc[0, col] *= 1 + 5e-7
    old, new = sdf.loc[0, col], drifted.loc[0, col]
    assert 0 < abs(new - old) <= 1e-6 * abs(old)
    assert compare_frames(drifted, ddf)[0] == "FAIL"


def _code_referenced_query_names(src: str) -> set[str]:
    """Query names referenced by CODE in a test-suite source string.

    ADVICE r7: a name in a comment/docstring ("the q45 composition")
    must not count as an independent cross-check.  Comments and
    docstrings are stripped first; only registry lookups, run-helper
    calls, name literals at call/list positions, and test-function
    names count."""
    import re

    code_ref = re.compile(
        r"""(?:
              QUERIES\[\s*["'](q\d+[a-z]?_[a-z0-9_]+)["']\s*\]   # registry lookup
            | ORACLES\[\s*["'](q\d+[a-z]?_[a-z0-9_]+)["']\s*\]
            | _run\(\s*["'](q\d+[a-z]?_[a-z0-9_]+)["']           # local run helpers
            | run_query\(\s*[^,]+,\s*["'](q\d+[a-z]?_[a-z0-9_]+)["']
            | spark_result\(\s*["'](q\d+[a-z]?_[a-z0-9_]+)["']
            | ["'](q\d+[a-z]?_[a-z0-9_]+)["']\s*[,)\]]           # name literal in a call/list
            | def\s+test_(q\d+[a-z]?_[a-z0-9_]+)                 # test fn named after query
        )""",
        re.VERBOSE,
    )
    src = re.sub(r'"""(?:[^"\\]|\\.|"(?!""))*"""', "", src, flags=re.S)
    src = re.sub(r"'''(?:[^'\\]|\\.|'(?!''))*'''", "", src, flags=re.S)
    src = re.sub(r"#[^\n]*", "", src)
    names: set[str] = set()
    for m in code_ref.finditer(src):
        names |= {g for g in m.groups() if g}
    return names


def test_code_reference_matcher_ignores_prose():
    """Mutation self-test for the ADVICE-r7 hardening: names that
    appear ONLY in comments or docstrings must not register, while
    every code-reference form must."""
    snippet = '''
"""Docstring mentioning q900_prose_only and the q901_doc_note trick."""
# comment referencing q902_comment_only
def test_q903_fn_name(spark):
    df = QUERIES["q904_lookup"](spark, sf)
    sql = ORACLES['q905_oracle']
    r = _run("q906_helper")
    rows = run_query(spark, "q907_run")
    s = spark_result("q908_sr")
    batch = ["q909_list_member", "q910_list_member"]
'''
    got = _code_referenced_query_names(snippet)
    # ADVICE r8: compare FULL names — the old 5-char-prefix vs
    # 6-char-slice intersection was vacuously empty, so a matcher
    # regression that counted prose mentions could never fail here.
    prose_only = {n for n in got if n.startswith(("q900_", "q901_", "q902_"))}
    assert not prose_only, prose_only
    for want in [
        "q903_fn_name",
        "q904_lookup",
        "q905_oracle",
        "q906_helper",
        "q907_run",
        "q908_sr",
        "q909_list_member",
        "q910_list_member",
    ]:
        assert want in got, want


def test_every_query_has_independent_check_or_driver_verdict():
    """Verification-discipline guard (VERDICT r6 item 2 made
    permanent): every registered query must be EITHER driver-
    adjudicated (a GREEN CORRECTNESS_r*.json verdict exists) OR named
    in at least one independent cross-check suite (the numpy/pandas
    mirror and invariant files) — oracle parity alone is never a
    query's only check.  A future catalog addition that ships with
    neither fails here instead of waiting rounds for its driver
    verdict."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    adjudicated: set[str] = set()
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        with open(path) as f:
            payload = json.load(f)
        entries = payload.get("queries", payload)
        if not isinstance(entries, dict):
            continue
        for k, v in entries.items():
            # ADVICE r7: key presence is not a verdict — only a GREEN
            # entry (rows+hash match, no error) counts as adjudicated.
            # A red or errored verdict must not satisfy this guard.
            if (
                k.startswith("q")
                and isinstance(v, dict)
                and v.get("rows_match") is True
                and v.get("hash_match") is True
                and v.get("err") is None
            ):
                adjudicated.add(k)
    check_files = [
        "test_indicators_pandas.py",
        "test_golden_indicators.py",
        "test_properties.py",
        "test_r5_finance_pandas.py",
        "test_continuation_pandas.py",
        "test_r6_tail_pandas.py",
        "test_r7_hash_mirrors.py",
        "test_r8_mirrors.py",
    ]
    checked: set[str] = set()
    for fn in check_files:
        with open(os.path.join(repo, "tests", fn)) as f:
            checked |= _code_referenced_query_names(f.read())
    uncovered = sorted(
        n for n in registry.QUERIES if n not in adjudicated and n not in checked
    )
    assert not uncovered, (
        "queries with neither a driver verdict nor an independent "
        f"cross-check: {uncovered}"
    )
