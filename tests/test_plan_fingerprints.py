"""Plan-fingerprint ledger guard (VERDICT r8 item 3).

A driver verdict certifies ONE plan+oracle pair.  When a later round
rewrites a query's plan (globalrank routing r6, allow_ties r7, q141's
band composition r8) the old verdict is stale — historically the
re-adjudication picks were curated by hand from memory, and q141's r7
slip shows how that fails.  PLAN_FINGERPRINTS.json records, per query,
the normalized analyzed-plan + oracle hash current at its last green
driver verdict (see tools/plan_fingerprint.py for the protocol and
for why the ANALYZED plan — the deterministic product of the builder
code — is the right level); this test recomputes every fingerprint
and fails if a drifted query is not staged for re-adjudication in
``__spark_entry__._ADJUDICATE_FIRST``.

The full-catalog recompute costs ~2-3 min (it builds every query at
the ledger's sf_dir; eager checkpoints run their pin jobs), the one
catalog rebuild in tier-1 besides ``test_oracle_parity`` — the price of making
"verdict is stale" machine-detected instead of hand-remembered.
"""

import json

import pytest

from crypto_prediction_etl_spark.plans import registry

registry.load_all()

from plan_fingerprint import (  # noqa: E402
    LEDGER,
    SF_DIR,
    fingerprint,
    normalize_plan,
)


def test_normalize_plan_is_session_independent():
    """Same plan modulo exprIds / paths / plan_id => same normal form;
    a structural difference must survive normalization."""
    a = "Join Inner, (doc_id#123L = doc_id#456L) <SF> plan_id=77"
    b = "Join Inner, (doc_id#9L = doc_id#2L) /root/testdata/sf0.01/x plan_id=3"
    assert normalize_plan(a) == normalize_plan(b)
    c = "Join LeftOuter, (doc_id#123L = doc_id#456L) <SF> plan_id=77"
    assert normalize_plan(a) != normalize_plan(c)
    # renumbering is first-appearance order, not value order
    assert normalize_plan("x#50 y#3 x#50") == "x#0 y#1 x#0"
    # HOF lambda variables carry a session-global counter
    assert normalize_plan("lambda x_1#14L * 8") == normalize_plan(
        "lambda x_7#2L * 8"
    )
    # a partition count equal to the session's parallelism is the host's
    # core count, folded; any other count is the builder's and must stay
    for plan in ("Repartition {}, true", "Range (0, 16, step=1, splits=Some({}))"):
        assert normalize_plan(plan.format(4), 4) == normalize_plan(
            plan.format(32), 32
        )
        assert normalize_plan(plan.format(8), 4) != normalize_plan(
            plan.format(16), 4
        )
        assert normalize_plan(plan.format(8), 4) != normalize_plan(
            plan.format(4), 4
        )


def test_ledger_covers_every_registered_query():
    with open(LEDGER) as f:
        ledger = json.load(f)
    entries = ledger["entries"]
    missing = sorted(set(registry.QUERIES) - set(entries))
    stale = sorted(set(entries) - set(registry.QUERIES))
    assert not missing, f"queries missing from PLAN_FINGERPRINTS.json: {missing}"
    assert not stale, f"ledger entries for unregistered queries: {stale}"
    assert ledger["sf_dir"] == SF_DIR


def test_plan_drift_is_staged_for_readjudication(spark):
    """Every query whose current fingerprint differs from the ledger
    must be in _ADJUDICATE_FIRST (it gets a fresh driver verdict at
    round end, after which --update re-records it)."""
    import __spark_entry__ as entry

    with open(LEDGER) as f:
        entries = json.load(f)["entries"]
    staged = set(entry._ADJUDICATE_FIRST)
    unstaged_drift = []
    for name in sorted(registry.QUERIES):
        rec = entries.get(name)
        if rec is None:
            continue  # covered by test_ledger_covers_every_registered_query
        if fingerprint(spark, name) != rec["fp"] and name not in staged:
            unstaged_drift.append(name)
    assert not unstaged_drift, (
        "plan or oracle changed since last recorded fingerprint but the "
        f"query is not staged for re-adjudication: {unstaged_drift} — "
        "add it to __spark_entry__._ADJUDICATE_FIRST (or, if the change "
        "lands in the same round as its pending verdict, run "
        "`python tools/plan_fingerprint.py --update`)"
    )


@pytest.mark.parametrize("name", ["q141_edit_distance_pairs"])
def test_fingerprint_stable_across_rebuilds(spark, name):
    """Memo warmth / build order must not move the hash (the ledger
    would otherwise flap between sessions)."""
    assert fingerprint(spark, name) == fingerprint(spark, name)


def test_fingerprint_moves_on_plan_change(spark, monkeypatch):
    """Mutation self-test: a real plan edit must move the hash —
    otherwise the drift guard is vacuous."""
    name = "q01_pricing_summary"
    base = fingerprint(spark, name)
    orig = registry.QUERIES[name]
    monkeypatch.setitem(
        registry.QUERIES, name, lambda s, d: orig(s, d).limit(999_999)
    )
    assert fingerprint(spark, name) != base


def test_fingerprint_moves_on_oracle_change(spark, monkeypatch):
    """An oracle re-derivation (q141 r8 shape) must also move the
    hash: the verdict certifies the plan+oracle PAIR."""
    name = "q01_pricing_summary"
    base = fingerprint(spark, name)
    monkeypatch.setitem(
        registry.ORACLES, name, registry.ORACLES[name] + "\n-- re-derived"
    )
    assert fingerprint(spark, name) != base
