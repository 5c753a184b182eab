"""The graph-family contract of the package's one connected-components
implementation, dedup.connected_components: min-node labels, self-loops
and duplicate edges ignored, components merged through shared nodes."""

from impresso_ta.operators.dedup import connected_components


def _cc(spark, pairs):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    rows = connected_components(edges, src="src", dst="dst").collect()
    return {r.node: r.label for r in rows}


def test_components_basic(spark):
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 1), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_components_self_loops_and_duplicates_ignored(spark):
    got = _cc(spark, [(5, 5), (1, 2), (2, 1), (1, 2), (7, 7)])
    # pure self-loop nodes carry no edge → absent from the labeling
    assert got == {1: 1, 2: 1}


def test_components_merges_via_shared_node(spark):
    # two stars sharing one leaf collapse into one component
    star_a = [(100, i) for i in range(1, 6)]
    star_b = [(200, i) for i in range(5, 10)]
    got = _cc(spark, star_a + star_b)
    assert set(got.values()) == {1}
    assert got[100] == got[200] == 1
