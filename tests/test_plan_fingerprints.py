"""Plan-fingerprint ledger guard (VERDICT r8 item 3).

A driver verdict certifies ONE plan+oracle pair.  When a later round
rewrites a query's plan (globalrank routing r6, allow_ties r7, q141's
band composition r8) the old verdict is stale — historically the
re-adjudication picks were curated by hand from memory, and q141's r7
slip shows how that fails.  PLAN_FINGERPRINTS.json records, per query,
the normalized analyzed-plan + oracle hash current at its last green
driver verdict (see tools/plan_fingerprint.py for the protocol and
for why the ANALYZED plan — the deterministic product of the builder
code — is the right level).

The drift check itself runs in ``test_oracle_parity[name]`` on the frame
that test builds, so tier-1 builds the catalog once.  This module checks
the ledger (it covers the catalog, at tier-1's scale) and the
fingerprint (stable across rebuilds, moved by a plan or oracle edit).
"""

import pytest
from plan_fingerprint import drift, fingerprint, load_ledger, normalize_plan

from crypto_prediction_etl_spark.plans import registry

from .conftest import SF_DIR_SMOKE

registry.load_all()


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
    ledger = load_ledger()
    entries = ledger["entries"]
    missing = sorted(set(registry.QUERIES) - set(entries))
    stale = sorted(set(entries) - set(registry.QUERIES))
    assert not missing, f"queries missing from PLAN_FINGERPRINTS.json: {missing}"
    assert not stale, f"ledger entries for unregistered queries: {stale}"
    assert ledger["sf_dir"] == SF_DIR_SMOKE


@pytest.mark.parametrize("name", ["q141_edit_distance_pairs"])
def test_fingerprint_stable_across_rebuilds(spark, name):
    """Memo warmth / build order must not move the hash (the ledger
    would otherwise flap between sessions)."""
    assert fingerprint(spark, name) == fingerprint(spark, name)


def test_fingerprint_moves_on_plan_change(spark, monkeypatch):
    """Mutation self-test: a real plan edit must move the hash, and the
    drift check parity runs (``drift`` against the ledger) must flag the
    edit while the query is unstaged and pass it once it is staged —
    otherwise the drift guard is vacuous."""
    name = "q01_pricing_summary"
    base = fingerprint(spark, name)
    entries = load_ledger()["entries"]
    assert drift({name: base}, entries, ()) == ([], [])
    orig = registry.QUERIES[name]
    monkeypatch.setitem(
        registry.QUERIES, name, lambda s, d: orig(s, d).limit(999_999)
    )
    edited = fingerprint(spark, name)
    assert drift({name: edited}, entries, ()) == ([name], [name])
    assert drift({name: edited}, entries, {name}) == ([name], [])


def test_fingerprint_moves_on_oracle_change(spark, monkeypatch):
    """An oracle re-derivation (q141 r8 shape) must also move the
    hash: the verdict certifies the plan+oracle PAIR."""
    name = "q01_pricing_summary"
    base = fingerprint(spark, name)
    monkeypatch.setitem(
        registry.ORACLES, name, registry.ORACLES[name] + "\n-- re-derived"
    )
    assert fingerprint(spark, name) != base
