"""Name selection in tools/_harness.py, the one query-timing harness
shared by bench.py and the tools (no Spark session needed)."""

from _harness import registry, select


def test_no_prefix_selects_the_sorted_registry():
    assert select(()) == sorted(registry.QUERIES)


def test_prefix_selects_matching_names():
    assert select(("q01",)) == ["q01_pricing_summary"]
    assert select(("q01_", "q02_")) == ["q01_pricing_summary", "q02_filtered_revenue"]


def test_unknown_prefix_selects_nothing():
    assert select(("no_such_query",)) == []


def test_given_names_keep_their_order():
    panel = ["q46_simhash", "q01_pricing_summary", "q10_region_revenue"]
    assert select((), panel) == panel
    assert select(("q46", "q10"), panel) == ["q46_simhash", "q10_region_revenue"]
