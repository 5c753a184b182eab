"""Entity resolution via clone contraction (operators/er.py) and the
fuzzy join's clone-collapse + guard tripwire (round-9 additions).

The load-bearing claim is OUTPUT IDENTITY: resolve_entities (contract
exact-value clones -> fuzzy-join distinct values -> CC -> expand) must
equal CC over the raw pairwise fuzzy edge set, on a corpus with clones,
cross-value near-matches, unmatched singletons, and a clone group whose
value matches nothing else.
"""

import pytest
from pyspark.sql import functions as F

from impresso_ta.operators.er import resolve_entities
from impresso_ta.operators.fuzzy import fuzzy_blocked_join
from impresso_ta.operators.dedup import connected_components


ROWS = [
    # clone clique 'alpha beta' (3 rows) near 'alpha betas' (2 rows):
    # one cluster of 5, label = min key = 1
    (1, "alpha beta"),
    (2, "alpha beta"),
    (5, "alpha beta"),
    (3, "alpha betas"),
    (8, "alpha betas"),
    # clone pair with NO cross-value neighbor: cluster of 2, label 4
    (4, "zebra stripe"),
    (9, "zebra stripe"),
    # unique value, no neighbor: absent from output
    (6, "completely unrelated"),
    # unique values that match each other: cluster of 2, label 7
    (7, "gamma ray"),
    (10, "gamma rays"),
]


def _raw_cc(spark, df):
    a = df.select(F.col("k").alias("a_key"), F.col("name").alias("a_name"))
    b = df.select(F.col("k").alias("b_key"), F.col("name").alias("b_name"))
    edges = (
        fuzzy_blocked_join(a, b, "a_name", "b_name", max_dist=1)
        .filter(F.col("a_key") < F.col("b_key"))
        .select(F.col("a_key").alias("src"), F.col("b_key").alias("dst"))
    )
    return {
        (r["node"], r["label"])
        for r in connected_components(edges, src="src", dst="dst").collect()
    }


def test_resolve_entities_matches_raw_edge_cc(spark):
    df = spark.createDataFrame(ROWS, "k long, name string")
    got = {
        (r["k"], r["cluster"])
        for r in resolve_entities(df, "k", "name", max_dist=1).collect()
    }
    assert got == _raw_cc(spark, df)
    # and the shape is what the docstring promises
    assert got == {
        (1, 1), (2, 1), (5, 1), (3, 1), (8, 1),   # 5-row merged cluster
        (4, 4), (9, 4),                           # clones only
        (7, 7), (10, 7),                          # fuzzy only
    }  # key 6 (unique, unmatched) absent


def test_resolve_entities_clone_free_corpus(spark):
    # contraction is a no-op pass-through when every value is unique
    df = spark.createDataFrame(
        [(1, "golden retriever"), (2, "golden retriver"), (3, "zebra")],
        "k long, name string",
    )
    got = {
        (r["k"], r["cluster"])
        for r in resolve_entities(df, "k", "name", max_dist=1).collect()
    }
    assert got == {(1, 1), (2, 1)}


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


def test_resolve_entities_null_names_never_cluster(spark):
    # null values: no block key, no edges, excluded from output in both
    # the contracted and the raw form (SQL three-valued equality)
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "alpha beta"), (4, "alpha beta")],
        "k long, name string",
    )
    got = {
        (r["k"], r["cluster"])
        for r in resolve_entities(df, "k", "name", max_dist=1).collect()
    }
    assert got == {(3, 3), (4, 3)}


def test_resolve_entities_no_matches_is_empty(spark):
    df = spark.createDataFrame(
        [(1, "alpha"), (2, "zebra")], "k long, name string"
    )
    assert resolve_entities(df, "k", "name", max_dist=1).count() == 0


def test_resolve_entities_guards_key_shared_across_values(spark):
    """A key appearing with TWO different name values (so it becomes
    the super-node of two distinct value groups) must fail LOUDLY —
    the silent alternative is merging unrelated clusters."""
    import pytest

    df = spark.createDataFrame(
        [(1, "alpha beta"), (1, "zzz different"), (2, "alpha beta"),
         (3, "zzz different")],
        "k long, name string",
    )
    with pytest.raises(Exception, match="resolve_entities.*one name per key"):
        resolve_entities(df, "k", "name", max_dist=1).collect()


def test_resolve_entities_same_key_same_name_rows_ok(spark):
    """Duplicate (key, name) ROWS are legal — the precondition is one
    name per key, not row uniqueness."""
    df = spark.createDataFrame(
        [(1, "alpha beta"), (1, "alpha beta"), (2, "alpha beta")],
        "k long, name string",
    )
    got = {
        (r["k"], r["cluster"])
        for r in resolve_entities(df, "k", "name", max_dist=1).collect()
    }
    assert got == {(1, 1), (2, 1)}
