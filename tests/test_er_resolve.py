"""The fuzzy join's clone-collapse and guard tripwire
(operators/fuzzy.py fuzzy_blocked_join): collapsing exact-value clones
before verification must give the same edges as the raw join, and the
block-size guard must fail loudly on a hot block and stay silent below
its bound.
"""

import pytest

from impresso_ta.operators.fuzzy import fuzzy_blocked_join


def test_fuzzy_join_clone_collapse_is_output_identical(spark):
    # 4 + 3 clones of two near-identical values: collapse verifies ONE
    # value pair, expansion restores all 12 cross pairs + clone pairs
    left = spark.createDataFrame(
        [(i, "alpha beta") for i in range(4)]
        + [(100 + i, "alpha betas") for i in range(3)],
        "a_key long, a_name string",
    )
    right = left.selectExpr("a_key as b_key", "a_name as b_name")
    collapsed = fuzzy_blocked_join(
        left, right, "a_name", "b_name", max_dist=1, collapse_clones=True
    )
    raw = fuzzy_blocked_join(
        left, right, "a_name", "b_name", max_dist=1, collapse_clones=False
    )
    key = lambda r: (r["a_key"], r["b_key"], r["edit_dist"])
    assert {key(r) for r in collapsed.collect()} == {
        key(r) for r in raw.collect()
    }
    assert collapsed.count() == 49  # (4+3)^2: every pair within dist 1


def test_fuzzy_join_guard_trips_on_hot_block(spark):
    # 8 DISTINCT same-block near-same-length values vs guard bound 5:
    # the (block, length-bucket) key exceeds the bound -> loud failure
    left = spark.createDataFrame(
        [(i, f"hotblock x{i}") for i in range(8)],
        "a_key long, a_name string",
    )
    right = left.selectExpr("a_key as b_key", "a_name as b_name")
    guarded = fuzzy_blocked_join(
        left, right, "a_name", "b_name", max_dist=2, guard_block_size=5
    )
    with pytest.raises(Exception, match="fuzzy_blocked_join"):
        guarded.collect()
    # same data, guard disabled: completes (self-pairs at dist 0)
    ungated = fuzzy_blocked_join(
        left, right, "a_name", "b_name", max_dist=2, guard_block_size=None
    )
    assert ungated.count() >= 8


def test_fuzzy_join_guard_silent_below_bound(spark):
    left = spark.createDataFrame(
        [(1, "golden retriever"), (2, "zebra stripe")],
        "a_key long, a_name string",
    )
    right = spark.createDataFrame(
        [(10, "golden retriver")], "b_key long, b_name string"
    )
    got = fuzzy_blocked_join(
        left, right, "a_name", "b_name", max_dist=2, guard_block_size=5
    ).collect()
    assert {(r["a_key"], r["b_key"], r["edit_dist"]) for r in got} == {
        (1, 10, 1)
    }
