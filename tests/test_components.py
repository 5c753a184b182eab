"""Connected-components dedup clustering (operators/dedup.py).

Every node must carry its component's minimum id, whatever the
component's diameter: a chain a-b-c-d is the case a round-bounded label
propagation gets wrong.
"""

import random

import pytest
from pyspark.sql import functions as F

from impresso_ta.operators import dedup


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def test_chain_converges_to_single_component(spark):
    # 0-1-2-3-4-5 chain: diameter 5, forces several propagation rounds.
    pairs = _pairs(spark, [(i, i + 1) for i in range(5)])
    comp = dedup.connected_components(pairs).collect()
    assert {r["node"] for r in comp} == set(range(6))
    assert {r["label"] for r in comp} == {0}


def test_two_components_and_representatives(spark):
    pairs = _pairs(spark, [(10, 11), (11, 12), (20, 21)])
    out = {r["doc_id"]: r for r in dedup.dedup_clusters(pairs).collect()}
    assert out[10]["component"] == 10 and out[12]["component"] == 10
    assert out[20]["component"] == 20 and out[21]["component"] == 20
    assert out[10]["cluster_size"] == 3 and out[21]["cluster_size"] == 2
    assert out[10]["is_rep"] and out[20]["is_rep"]
    assert not out[11]["is_rep"] and not out[21]["is_rep"]


def test_edge_direction_irrelevant(spark):
    # Reversed edges give identical components (symmetrization).
    fwd = dedup.connected_components(_pairs(spark, [(1, 2), (3, 2)]))
    rev = dedup.connected_components(_pairs(spark, [(2, 1), (2, 3)]))
    assert sorted(map(tuple, fwd.collect())) == sorted(map(tuple, rev.collect()))


def test_dedup_survivors_keeps_reps_and_singletons(spark):
    from impresso_ta.operators.dedup import dedup_survivors

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    # clusters {1,2,3} and {5,6}; 4 and 7 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    kept = sorted(
        r["doc_id"] for r in dedup_survivors(docs, pairs).collect()
    )
    assert kept == [1, 4, 5, 7]


def test_long_chain_gets_one_label(spark):
    # a 150-node path whose min id sits at one end: the label must travel
    # 149 hops, far more than any fixed round budget of a propagation
    pairs = _pairs(spark, [(i + 1, i) for i in reversed(range(149))])
    comp = dedup.connected_components(pairs).collect()
    assert len(comp) == 150
    assert {r["label"] for r in comp} == {0}


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _random_graph(rng):
    """Isolated pairs, stars, cliques and chains over shuffled ids, a few
    bridges between them, then duplicated and reversed edges."""
    ids = rng.sample(range(1, 10**12), 80)
    edges, groups = [], []
    while len(ids) >= 2:
        part = [ids.pop() for _ in range(min(rng.randint(2, 9), len(ids)))]
        kind = rng.choice(["pair", "star", "clique", "chain"])
        if kind == "pair" or len(part) == 2:
            edges.append((part[0], part[1]))
        elif kind == "star":
            edges += [(part[0], x) for x in part[1:]]
        elif kind == "clique":
            edges += [(x, y) for i, x in enumerate(part) for y in part[i + 1 :]]
        else:
            edges += list(zip(part, part[1:]))
        groups.append(part)
    for _ in range(rng.randint(0, 3)):
        g, h = rng.sample(groups, 2)
        edges.append((rng.choice(g), rng.choice(h)))
    edges += rng.sample(edges, len(edges) // 4)
    edges = [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]
    rng.shuffle(edges)
    return edges


def test_components_match_python_union_find(spark):
    for seed in range(30):
        edges = _random_graph(random.Random(seed))
        got = {
            r["node"]: r["label"]
            for r in dedup.connected_components(_pairs(spark, edges)).collect()
        }
        assert got == _union_find(edges), f"seed {seed}"


def test_edge_ceiling_raises(spark, monkeypatch):
    monkeypatch.setattr(dedup, "MAX_COMPONENT_EDGES", 4)
    at_ceiling = _pairs(spark, [(1, 2), (2, 3), (3, 4), (5, 6)])
    assert len(dedup.connected_components(at_ceiling).collect()) == 6
    over = _pairs(spark, [(1, 2), (2, 3), (3, 4), (5, 6), (7, 8)])
    with pytest.raises(ValueError, match="more than 4 edges"):
        dedup.connected_components(over)
    with pytest.raises(ValueError, match="more than 4 edges"):
        dedup.dedup_clusters(over)
