"""Every registered query with an oracle must match DuckDB row-for-row.

This mirrors the driver's correctness gate (CORRECTNESS_r{N}.json) so
regressions surface locally before a round ends.
"""

from __future__ import annotations

import pytest

from crypto_prediction_etl_spark.plans import registry

from .oracle import compare_query

registry.load_all()
NAMES = sorted(registry.ORACLES)


@pytest.mark.parametrize("name", NAMES)
def test_oracle_parity(spark, duck, sf_dir, name):
    verdict, detail, _ = compare_query(spark, duck, sf_dir, name)
    assert verdict == "PASS", f"{name}: {verdict} {detail}"


def test_all_queries_return_rows(spark, sf_dir):
    for name, fn in registry.QUERIES.items():
        df = fn(spark, sf_dir)
        assert df.columns, name
        assert df.count() >= 0, name


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
    import os
    import re as _re
    import sys

    import __spark_entry__ as entry

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools = os.path.join(repo, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from make_window import green_adjudicated

    done = green_adjudicated(repo)
    never = sorted(
        (n for n in registry.QUERIES if n not in done),
        key=lambda n: int(_re.match(r"q(\d+)", n).group(1)),
    )
    expect_head = never[:50]
    assert entry._ADJUDICATE_FIRST[: len(expect_head)] == expect_head


def test_output_schemas_survive_driver_canonicalization(spark, duck, sf_dir):
    """No query output may carry a type the driver's pandas
    canonicalization mangles (r4 lesson: q154/q157/q200/q265).

    The driver round-trips both sides through pandas before sorting
    and hashing: DuckDB HUGEINT silently becomes float64 (hash drift
    vs Spark's int64), and list/struct/map columns crash the frame
    sort (ERR).  So: oracle result types must contain no
    HUGEINT/LIST/STRUCT/MAP/DECIMAL, Spark schemas no
    Array/Map/Struct/Decimal.  (FLOAT stays allowed — q65 emits
    float32 on both sides and has been driver-green since r2; the
    float32->float64 widening is identical on both sides.)
    DuckDB types come from DESCRIBE, which plans without executing.
    """
    from pyspark.sql import types as T

    import __spark_entry__ as entry

    banned_spark = (T.ArrayType, T.MapType, T.StructType, T.DecimalType)
    offenders = []
    spark_cols: dict[str, list[str]] = {}
    for name, fn in registry.QUERIES.items():
        df = fn(spark, sf_dir)
        spark_cols[name] = df.columns
        for f in df.schema.fields:
            if isinstance(f.dataType, banned_spark):
                offenders.append((name, f.name, f.dataType.simpleString()))
    assert not offenders, offenders

    banned_duck = ("HUGEINT", "[]", "STRUCT", "MAP", "DECIMAL")
    bad = []
    name_drift = []
    for name, sql in entry.oracle_sql().items():
        desc = duck.execute(f"DESCRIBE ({sql})").fetchall()
        for col, typ, *_ in desc:
            if any(k in typ for k in banned_duck):
                bad.append((name, col, typ))
        # alias drift between the Spark plan and the oracle is a
        # guaranteed driver schema-FAIL; catch it without executing
        dcols = sorted(d[0] for d in desc)
        if dcols != sorted(spark_cols[name]):
            name_drift.append((name, sorted(spark_cols[name]), dcols))
    assert not bad, bad
    assert not name_drift, name_drift


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
