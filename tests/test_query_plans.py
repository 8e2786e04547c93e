"""Plan-regression guard over EVERY driver query: no accidental
cartesian products or nested-loop joins sneak in (the brute-force ANN
queries are the only intentional cross joins — broadcast NL against a
tiny query set)."""

import pytest

import __spark_entry__ as entry_mod
from tests.plan_inspect import executed_plan

# intentional cross joins: small broadcast side by construction
# (brute-force ANN against a tiny query set; 1-row broadcast scalar
# aggregates in unigram_logprob (T,V) and high_balance_inactive (avg))
# deliberate 1-row/small broadcast scalars (V totals, thresholds, the
# labeled brute-force ANN baseline) — never data×data cartesians
CROSS_JOIN_OK = {
    "ann_cosine_topk",
    "unigram_logprob",
    "bigram_logprob",
    "high_balance_inactive",
}

QUERIES = entry_mod.queries()
# a renamed query must not silently lose its cross-join assertion
assert CROSS_JOIN_OK <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_accidental_cartesian(spark, name):
    df = QUERIES[name](spark, "/root/testdata/sf0.001")
    plan = executed_plan(df)
    if name in CROSS_JOIN_OK:
        assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
        return
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    assert "BroadcastNestedLoopJoin" not in plan, f"{name} plans a NL join"


def test_bloom_contamination_train_side_never_shuffles(spark):
    # The Bloom screen's scale claim: training grams cross ZERO join
    # exchanges — every probe join is an explicit broadcast hint, so
    # this holds at any scale factor regardless of AQE decisions.
    df = QUERIES["bloom_contamination"](spark, "/root/testdata/sf0.001")
    plan = executed_plan(df)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4  # k=4 probe joins
