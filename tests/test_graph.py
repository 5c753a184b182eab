"""Graph operators (operators/graph.py): integer-exact PageRank,
triangle counts and BFS, plus the graph-family contract of the one
connected-components implementation, dedup.connected_components."""

import collections

import pytest

from pyspark.sql import functions as F

from impresso_ta.operators.dedup import connected_components
from impresso_ta.operators.graph import PAGERANK_SCALE, pagerank


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


def _pagerank_mirror(edge_list, iterations, scale=PAGERANK_SCALE):
    e = sorted(set(edge_list))
    nodes = sorted({x for p in e for x in p})
    base = scale // len(nodes)
    tel = (15 * base) // 100
    out = collections.Counter(s for s, _ in e)
    r = {n: base for n in nodes}
    for _ in range(iterations):
        s = collections.Counter()
        for u, v in e:
            s[v] += r[u] // out[u]
        r = {n: tel + (85 * s.get(n, 0)) // 100 for n in nodes}
    return r


@pytest.mark.parametrize("iterations", [1, 4])
def test_pagerank_matches_integer_mirror(spark, iterations):
    edge_list = [(1, 2), (2, 3), (3, 1), (4, 1), (4, 2), (5, 4), (1, 3)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        r.node: r.rank_scaled
        for r in pagerank(edges, iterations=iterations).collect()
    }
    assert got == _pagerank_mirror(edge_list, iterations)


def test_pagerank_dangling_node_keeps_teleport_only(spark):
    # node 3 has no out-edges (dangling), node 4 no in-edges: 4's rank
    # after any iteration is exactly the teleport term.
    edges = spark.createDataFrame([(1, 3), (2, 3), (4, 1)], "src long, dst long")
    got = {r.node: r.rank_scaled for r in pagerank(edges, iterations=2).collect()}
    mirror = _pagerank_mirror([(1, 3), (2, 3), (4, 1)], 2)
    assert got == mirror
    base = PAGERANK_SCALE // 4
    assert got[4] == (15 * base) // 100


def test_pagerank_deterministic_across_partitionings(spark):
    edge_list = [(i % 7, (i * 3) % 7 + 10) for i in range(40)]
    edges1 = spark.createDataFrame(edge_list, "src long, dst long")
    edges2 = edges1.repartition(13, "dst")
    a = sorted(pagerank(edges1, iterations=3).collect())
    b = sorted(pagerank(edges2, iterations=3).collect())
    assert a == b


def _tri(spark, pairs):
    from impresso_ta.operators.graph import triangle_counts

    edges = spark.createDataFrame(pairs, "src long, dst long")
    return {r.node: r.n_triangles for r in triangle_counts(edges).collect()}


def test_triangles_k4_complete_graph(spark):
    # K4: every node is in C(3,2)=3 triangles, 4 triangles total
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    got = _tri(spark, k4)
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangles_none_in_bipartite_or_tree(spark):
    assert _tri(spark, [(1, 10), (2, 10), (1, 20), (2, 20)]) == {}
    assert _tri(spark, [(1, 2), (2, 3), (3, 4)]) == {}


def test_triangles_direction_duplicates_self_loops_ignored(spark):
    # triangle given with mixed directions, dup edges, and a self loop
    got = _tri(spark, [(1, 2), (2, 1), (3, 2), (1, 3), (3, 3), (1, 2)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangles_shared_edge(spark):
    # two triangles sharing edge (1,2): 1 and 2 in both, 3/4 in one
    got = _tri(spark, [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)])
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}


def test_bfs_distances_levels_and_bound(spark):
    from impresso_ta.operators.graph import bfs_distances

    # path 0-1-2-3-4-5 plus a branch 2-10
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (2, 10)],
        "src long, dst long",
    )
    sources = spark.createDataFrame([(0,)], "node long")
    got = {
        r.node: r.dist
        for r in bfs_distances(edges, sources, max_hops=3).collect()
    }
    # nodes 4, 5 are beyond 3 hops → absent
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 10: 3}


def test_bfs_multi_source_takes_minimum(spark):
    from impresso_ta.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    sources = spark.createDataFrame([(0,), (4,)], "node long")
    got = {
        r.node: r.dist
        for r in bfs_distances(edges, sources, max_hops=4).collect()
    }
    assert got == {0: 0, 4: 0, 1: 1, 3: 1, 2: 2}


def test_bfs_short_circuits_on_exhausted_component(spark):
    from impresso_ta.operators.graph import bfs_distances

    # triangle exhausted in 1 hop; far chain unreachable
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (50, 51)], "src long, dst long"
    )
    sources = spark.createDataFrame([(0,)], "node long")
    got = {
        r.node: r.dist
        for r in bfs_distances(edges, sources, max_hops=40).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1}
