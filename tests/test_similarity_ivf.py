"""IVF index: assignment, Lloyd refinement (vs a numpy reference), and
probe-search recall against the exact brute-force top-k."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from impresso_ta.operators.similarity import (
    cosine_topk,
    ivf_assign,
    ivf_refine,
    ivf_topk,
)


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    return df, {int(r["vec_id"]): np.array(r["embedding"], dtype=np.float64) for r in df.collect()}


def _np_cos(a, b):
    return round(float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))), 4)


def _np_assign(vecs, centroids):
    out = {}
    for vid, v in vecs.items():
        best = max(centroids, key=lambda c: (_np_cos(v, c[1]), -c[0]))
        out[vid] = best[0]
    return out


def test_ivf_assign_matches_numpy(emb):
    df, vecs = emb
    seeds = [(vid, list(vecs[vid])) for vid in sorted(vecs)[:4]]
    got = {
        int(r["vec_id"]): int(r["cell"])
        for r in ivf_assign(df, seeds).collect()
    }
    want = _np_assign(vecs, [(c, np.array(v)) for c, v in seeds])
    assert got == want


def test_ivf_refine_matches_numpy_means(emb):
    df, vecs = emb
    seeds = [(vid, list(vecs[vid])) for vid in sorted(vecs)[:4]]
    assigned = ivf_assign(df, seeds)
    refined = dict(ivf_refine(assigned))
    cells = _np_assign(vecs, [(c, np.array(v)) for c, v in seeds])
    for cell in refined:
        members = [vecs[vid] for vid, c in cells.items() if c == cell]
        want = np.round(np.mean(members, axis=0), 6)
        np.testing.assert_allclose(refined[cell], want, atol=1e-6)


def test_ivf_refine_converges(emb):
    """Within-cell mean cosine must not decrease over a Lloyd step."""
    df, vecs = emb
    seeds = [(vid, list(vecs[vid])) for vid in sorted(vecs)[:4]]

    def mean_cos(centroids):
        cells = _np_assign(vecs, [(c, np.array(v)) for c, v in centroids])
        return np.mean(
            [_np_cos(vecs[vid], dict(centroids)[c]) for vid, c in cells.items()]
        )

    refined = [(c, np.array(v)) for c, v in ivf_refine(ivf_assign(df, seeds))]
    assert mean_cos(refined) >= mean_cos([(c, np.array(v)) for c, v in seeds]) - 1e-9


def test_ivf_topk_recall_vs_exact(emb):
    """nprobe=nlist probes every cell → IVF == exact brute force."""
    df, _ = emb
    queries = df.filter(F.col("vec_id") % 53 == 0)
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(df, queries, k=3).collect()
    }
    full = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(df, queries, nlist=4, nprobe=4, k=3).collect()
    }
    assert full == exact

    # partial probe: every result must still be drawn from probed cells,
    # ranked consistently, k per query
    part = ivf_topk(df, queries, nlist=4, nprobe=2, k=3, refine_iters=1)
    rows = part.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["cosine"]))
    for ranks in per_q.values():
        ranks.sort()
        assert [rk for rk, _ in ranks] == list(range(1, len(ranks) + 1))
        cos = [c for _, c in ranks]
        assert cos == sorted(cos, reverse=True)


def test_ivf_assign_broadcast_parity_nlist128(emb):
    """literal-SQL vs broadcast-relation centroid strategies are
    bit-identical at nlist=128 (above LITERAL_MAX_NLIST, where 'auto'
    picks broadcast); score arithmetic uses the same fold order so the
    rounded cosines — and therefore tie-breaks — agree exactly."""
    df, vecs = emb
    seeds = [(vid, list(vecs[vid])) for vid in sorted(vecs)[:128]]
    lit = {
        int(r["vec_id"]): int(r["cell"])
        for r in ivf_assign(df, seeds, strategy="literal").collect()
    }
    bc = {
        int(r["vec_id"]): int(r["cell"])
        for r in ivf_assign(df, seeds, strategy="auto").collect()
    }
    assert lit == bc
    assert len(set(bc.values())) > 1


def test_ivf_topk_broadcast_parity_nlist128(emb):
    df, vecs = emb
    queries = df.filter(F.col("vec_id") % 53 == 0)
    seeds = [(vid, list(vecs[vid])) for vid in sorted(vecs)[:128]]
    lit = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in ivf_topk(
            df, queries, centroids=seeds, nprobe=4, k=3, strategy="literal"
        ).collect()
    }
    bc = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in ivf_topk(
            df, queries, centroids=seeds, nprobe=4, k=3, strategy="auto"
        ).collect()
    }
    assert lit == bc and len(bc) > 0


def test_multiprobe_lsh_recall_dominates_single_probe(spark):
    from impresso_ta.operators.similarity import (
        lsh_bucketed_topk,
        multiprobe_lsh_topk,
    )
    from pyspark.sql import functions as F

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = df.filter(F.col("vec_id") % 53 == 0)

    def planes(seed, n=3, dims=64):
        return [
            [((seed * 97 + i * dims + j) * 2654435761 % 1000) / 500.0 - 1.0
             for j in range(dims)]
            for i in range(n)
        ]

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(df, queries, k=3).collect()
    }
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucketed_topk(df, queries, planes(1), k=3).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in multiprobe_lsh_topk(
            df, queries, [planes(1), planes(2), planes(3)], k=3
        ).collect()
    }
    # multi-probe recall ≥ single-probe recall vs exact
    assert len(multi & exact) >= len(single & exact)
    # every query keeps ≤ k ranked rows and includes itself (cosine 1.0)
    qids = {r["vec_id"] for r in queries.select("vec_id").collect()}
    assert {q for q, _ in multi} <= qids
    assert all((q, q) in multi for q in {q for q, _ in multi})


def test_recall_queries_monotone(spark):
    """The oracled recall-evaluation queries: recall@3 must not decrease
    as nprobe (IVF) / n_tables (multi-probe LSH) grows, and the query
    itself is always among its own candidates (recall >= 1/3)."""
    from impresso_ta.queries import similarity_ivf_recall, similarity_lsh_recall

    sf = "/root/testdata/sf0.001"
    ivf = {r["nprobe"]: r for r in similarity_ivf_recall(spark, sf).collect()}
    rs = [ivf[p]["recall"] for p in (1, 2, 4)]
    assert rs == sorted(rs)
    assert rs[0] >= 1 / 3 - 1e-9
    assert all(ivf[p]["n_truth"] == ivf[1]["n_truth"] for p in (2, 4))

    lsh = {r["n_tables"]: r for r in similarity_lsh_recall(spark, sf).collect()}
    rs = [lsh[t]["recall"] for t in (1, 2, 3)]
    assert rs == sorted(rs)
    assert rs[0] >= 1 / 3 - 1e-9


def test_hard_negatives_exclude_same_label_and_self(spark):
    from impresso_ta.operators.similarity import hard_negatives

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    out = hard_negatives(emb, qs, k=3).collect()
    labels = {r.vec_id: r.label for r in emb.collect()}
    assert out
    for r in out:
        assert r.neighbor_id != r.query_id
        assert labels[r.neighbor_id] != labels[r.query_id]
        assert 1 <= r.rank <= 3
    # a hard negative is NOT farther than k-th overall different-label
    # neighbor: ranks are dense per query
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_training_triplets_structure_and_margin(spark):
    from impresso_ta.operators.similarity import training_triplets

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    out = training_triplets(emb, qs, k_pos=2, k_neg=2).collect()
    labels = {r.vec_id: r.label for r in emb.collect()}
    assert out
    for r in out:
        assert labels[r.positive_id] == labels[r.anchor_id]
        assert labels[r.negative_id] != labels[r.anchor_id]
        assert r.positive_id != r.anchor_id
        assert round(r.pos_cos - r.neg_cos, 4) == r.margin
    # per anchor: exactly k_pos * k_neg triplets when both sides exist
    from collections import Counter

    per = Counter(r.anchor_id for r in out)
    assert all(v == 4 for v in per.values())


def test_hard_negatives_ivf_full_probe_equals_brute_and_prunes(spark):
    from impresso_ta.operators.similarity import (
        hard_negatives,
        hard_negatives_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    brute = sorted(map(tuple, hard_negatives(emb, qs, k=3).collect()))
    full = sorted(map(tuple, hard_negatives_ivf(
        emb, qs, nlist=4, nprobe=4, k=3).collect()))
    assert brute == full  # exhaustive probe == brute, bit for bit
    pruned = hard_negatives_ivf(emb, qs, nlist=4, nprobe=1, k=3).collect()
    labels = {r.vec_id: r.label for r in emb.collect()}
    # pruning stays label-correct and draws from the exhaustive
    # different-label candidate space (a strict subset of pairs)
    exhaustive_pairs = {
        (r.query_id, r.neighbor_id)
        for r in hard_negatives(emb, qs, k=10**9).collect()
    }
    for r in pruned:
        assert labels[r.neighbor_id] != labels[r.query_id]
        assert (r.query_id, r.neighbor_id) in exhaustive_pairs
    assert len(pruned) <= len(brute)


def test_ivf_topk_indexed_parity_and_partition_pruning(spark, tmp_path):
    """A persisted cell-partitioned index returns bit-identical results
    to inline ivf_topk, and the probe join reaches the parquet scan as
    dynamic partition pruning — probed cells' files are the only ones
    read."""
    from impresso_ta.operators.similarity import (
        ivf_assign,
        ivf_topk,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 97 == 0)
    seeds = [
        (int(r.vec_id), list(r.embedding))
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    inline = sorted(
        map(tuple, ivf_topk(emb, qs, centroids=seeds, nlist=8, nprobe=2,
                            k=3).collect())
    )

    # build the index once at "ingest", persist partitioned by cell
    # through the layout writer (ONE file per cell — a multi-task
    # partitionBy write puts a file from every task into every cell)
    import os

    from impresso_ta.operators.similarity import write_ivf_index

    store = str(tmp_path / "ivf_index")
    write_ivf_index(ivf_assign(emb, seeds), store)
    n_files = sum(
        1 for _r, _d, fs in os.walk(store)
        for f in fs if f.endswith(".parquet")
    )
    assert n_files == 8  # one per cell
    index = spark.read.parquet(store)
    indexed = ivf_topk_indexed(index, qs, seeds, nprobe=2, k=3)
    assert sorted(map(tuple, indexed.collect())) == inline

    # the pruning claim as a METRIC, not a plan string: the store scan
    # must read only the probed cells' files (static cell pruning —
    # the DPP fallback reads everything at nlist > LITERAL_MAX_NLIST,
    # see ivf_topk_indexed's docstring)
    probed = ivf_topk_indexed(index, qs, seeds, nprobe=2, k=3)
    probed.collect()
    jplan = probed._jdf.queryExecution().executedPlan()
    files_read = None
    stack, seen = [jplan], set()
    while stack:
        node = stack.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        name = node.getClass().getSimpleName()
        if "FileSourceScan" in name and "cell" in node.toString():
            o = node.metrics().get("numFiles")
            if o.isDefined():
                files_read = max(files_read or 0, o.get().value())
        try:
            it = node.children().iterator()
            while it.hasNext():
                stack.append(it.next())
        except Exception:
            pass
        for meth in ("finalPhysicalPlan", "executedPlan", "plan", "child"):
            try:
                stack.append(getattr(node, meth)())
            except Exception:
                pass
    assert files_read is not None and files_read < n_files

    # static_prune=False (the corpus-sized-queries path) stays
    # output-identical
    unpruned = ivf_topk_indexed(
        index, qs, seeds, nprobe=2, k=3, static_prune=False
    )
    assert sorted(map(tuple, unpruned.collect())) == inline

    # incremental append with FROZEN centroids composes: new batch rows
    # appear in results when they win
    new_batch = emb.selectExpr(
        "vec_id + 100000 AS vec_id", "embedding", "label"
    ).limit(3)
    ivf_assign(new_batch, seeds).write.mode("append").partitionBy(
        "cell"
    ).parquet(store)
    grown = spark.read.parquet(store)
    assert grown.count() == emb.count() + 3
    out2 = ivf_topk_indexed(grown, qs, seeds, nprobe=8, k=3).collect()
    assert any(r.neighbor_id >= 100000 for r in out2)  # clones tie-break in


def test_hard_negatives_ivf_cell_salt_parity(spark):
    """cell_salt sub-buckets the nlist-bounded join key for parallelism
    — the output row set must be IDENTICAL to the unsalted form (the
    salt only re-partitions the per-cell cross product)."""
    from impresso_ta.operators.similarity import hard_negatives_ivf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    plain = sorted(map(tuple, hard_negatives_ivf(
        emb, qs, nlist=4, nprobe=2, k=3).collect()))
    salted = sorted(map(tuple, hard_negatives_ivf(
        emb, qs, nlist=4, nprobe=2, k=3, cell_salt=8).collect()))
    assert plain == salted


def test_hard_negatives_lsh_label_correct_and_join_parity(spark):
    """LSH-bucketed mining: every pair is different-label and non-self,
    drawn from the exhaustive different-label space; the non-broadcast
    bucket join (the corpus-sized-anchor path) is output-identical."""
    from impresso_ta.operators.similarity import (
        deterministic_plane_sets,
        hard_negatives,
        hard_negatives_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    plane_sets = deterministic_plane_sets(2, 4, 64)
    out = hard_negatives_lsh(emb, qs, plane_sets, k=3).collect()
    labels = {r.vec_id: r.label for r in emb.collect()}
    exhaustive = {
        (r.query_id, r.neighbor_id)
        for r in hard_negatives(emb, qs, k=10**9).collect()
    }
    assert out  # buckets at 4 planes are coarse enough to find pairs
    for r in out:
        assert labels[r.neighbor_id] != labels[r.query_id]
        assert r.neighbor_id != r.query_id
        assert (r.query_id, r.neighbor_id) in exhaustive
    shuffled = hard_negatives_lsh(
        emb, qs, plane_sets, k=3, broadcast_queries=False
    ).collect()
    assert sorted(map(tuple, shuffled)) == sorted(map(tuple, out))


def test_training_triplets_ivf_full_probe_equals_brute_and_prunes(spark):
    """Full probe (nprobe=nlist) is exhaustive — bit-identical to the
    brute training_triplets; pruned probes stay label-correct and draw
    from the exhaustive candidate space."""
    from impresso_ta.operators.similarity import (
        training_triplets,
        training_triplets_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    brute = sorted(map(tuple, training_triplets(
        emb, qs, k_pos=2, k_neg=2).collect()))
    full = sorted(map(tuple, training_triplets_ivf(
        emb, qs, nlist=4, nprobe=4, k_pos=2, k_neg=2).collect()))
    assert brute == full
    pruned = training_triplets_ivf(
        emb, qs, nlist=4, nprobe=1, k_pos=2, k_neg=2
    ).collect()
    labels = {r.vec_id: r.label for r in emb.collect()}
    for r in pruned:
        assert labels[r.positive_id] == labels[r.anchor_id]
        assert labels[r.negative_id] != labels[r.anchor_id]
        assert r.anchor_id not in (r.positive_id, r.negative_id)
        assert r.margin == round(r.pos_cos - r.neg_cos, 4)
    assert len(pruned) <= len(brute)


def test_training_triplets_lsh_full_bucket_equals_brute(spark):
    """A single zero-plane table puts everything in bucket 0 — the
    candidate set is exhaustive, so the LSH miner equals brute
    training_triplets bit-for-bit, in BOTH carve modes and via both
    join strategies; semi-hard cache=False stays output-identical."""
    from impresso_ta.operators.similarity import (
        training_triplets,
        training_triplets_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    for semi in (False, True):
        brute = sorted(map(tuple, training_triplets(
            emb, qs, k_pos=2, k_neg=2, semi_hard=semi).collect()))
        full = sorted(map(tuple, training_triplets_lsh(
            emb, qs, [[]], k_pos=2, k_neg=2, semi_hard=semi).collect()))
        assert brute == full
        shuffled = sorted(map(tuple, training_triplets_lsh(
            emb, qs, [[]], k_pos=2, k_neg=2, semi_hard=semi,
            broadcast_queries=False).collect()))
        assert brute == shuffled
    uncached = sorted(map(tuple, training_triplets_lsh(
        emb, qs, [[]], k_pos=2, k_neg=2, semi_hard=True,
        cache=False).collect()))
    assert uncached == sorted(map(tuple, training_triplets(
        emb, qs, k_pos=2, k_neg=2, semi_hard=True).collect()))


def test_training_triplets_lsh_bucketed_properties(spark):
    """Real plane sets: every triplet is label-correct, non-self, and
    drawn from the exhaustive candidate space (pairs subset of brute's
    unbounded carve); semi-hard keeps margin > 0."""
    from impresso_ta.operators.similarity import (
        deterministic_plane_sets,
        training_triplets,
        training_triplets_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    plane_sets = deterministic_plane_sets(2, 4, 64)
    out = training_triplets_lsh(
        emb, qs, plane_sets, k_pos=2, k_neg=2
    ).collect()
    assert out
    labels = {r.vec_id: r.label for r in emb.collect()}
    exhaustive = training_triplets(
        emb, qs, k_pos=10**9, k_neg=10**9
    ).collect()
    pos_pairs = {(r.anchor_id, r.positive_id) for r in exhaustive}
    neg_pairs = {(r.anchor_id, r.negative_id) for r in exhaustive}
    for r in out:
        assert labels[r.positive_id] == labels[r.anchor_id]
        assert labels[r.negative_id] != labels[r.anchor_id]
        assert r.anchor_id not in (r.positive_id, r.negative_id)
        assert (r.anchor_id, r.positive_id) in pos_pairs
        assert (r.anchor_id, r.negative_id) in neg_pairs
        assert r.margin == round(r.pos_cos - r.neg_cos, 4)
    semi = training_triplets_lsh(
        emb, qs, plane_sets, k_pos=2, k_neg=2, semi_hard=True
    ).collect()
    for r in semi:
        assert r.neg_cos < r.pos_cos and r.margin > 0


def test_mining_contract_guards(spark):
    """Loud-failure contracts: empty plane_sets raise a named error in
    every LSH entry point; cell_salt with broadcast_probes=True raises
    instead of silently ignoring the parallelism knob."""
    import pytest

    from impresso_ta.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    for fn in (
        lambda: sim.hard_negatives_lsh(emb, qs, [], k=3),
        lambda: sim.multiprobe_lsh_topk(emb, qs, [], k=3),
        lambda: sim.training_triplets_lsh(emb, qs, []),
    ):
        with pytest.raises(ValueError, match="plane_sets"):
            fn()
    seeds = [
        (int(r.vec_id), list(r.embedding))
        for r in emb.orderBy("vec_id").limit(4).collect()
    ]
    with pytest.raises(ValueError, match="cell_salt"):
        sim._ivf_probe_rank(
            sim.ivf_assign(emb, seeds), qs, seeds, nprobe=2, k=3,
            id_col="vec_id", vec_col="embedding", round_to=4,
            strategy="literal", cell_salt=4, broadcast_probes=True,
        )


def test_semihard_triplets_band_properties(spark):
    """Semi-hard mode: every emitted negative is strictly easier than
    its positive (margin > 0), yet the hardest such negative is chosen
    — and the IVF form at full probe agrees with brute bit-for-bit."""
    from impresso_ta.operators.similarity import (
        training_triplets,
        training_triplets_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    semi = training_triplets(emb, qs, k_pos=2, k_neg=2, semi_hard=True)
    rows = semi.collect()
    assert rows
    for r in rows:
        assert r.neg_cos < r.pos_cos and r.margin > 0
    # per (anchor, positive): the emitted negatives are the HARDEST of
    # the easier-than-positive band (no skipped harder-but-still-easier
    # candidate) — check against the exhaustive default carve
    full = training_triplets(emb, qs, k_pos=2, k_neg=10**9).collect()
    band = {}
    for r in full:
        if r.neg_cos < r.pos_cos:
            band.setdefault((r.anchor_id, r.positive_id), []).append(
                (-r.neg_cos, r.negative_id)
            )
    for key, cands in band.items():
        want = [nid for _c, nid in sorted(cands)[:2]]
        got = sorted(
            (r for r in rows
             if (r.anchor_id, r.positive_id) == key),
            key=lambda r: (-r.neg_cos, r.negative_id),
        )
        assert [r.negative_id for r in got] == want
    ivf_semi = training_triplets_ivf(
        emb, qs, nlist=4, nprobe=4, k_pos=2, k_neg=2, semi_hard=True
    ).collect()
    assert sorted(map(tuple, ivf_semi)) == sorted(map(tuple, rows))


def test_ivf_store_maintenance_loop(spark, tmp_path):
    """The incremental-store maintenance recipe end-to-end: N appended
    batches with frozen centroids fragment the cells; compact_ivf_index
    plans (content-pruned listing), rewrites ONLY flagged cells via
    dynamic partition overwrite, query results are bit-identical
    before/after, and the probe reads fewer files after."""
    import os

    from impresso_ta.operators.similarity import (
        compact_ivf_index,
        ivf_assign,
        ivf_topk_indexed,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 97 == 0)
    seeds = [
        (int(r.vec_id), list(r.embedding))
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    store = str(tmp_path / "ivf_maint")
    write_ivf_index(ivf_assign(emb, seeds), store)
    base = emb.count()
    for i in range(3):  # three incremental crawls, frozen centroids
        batch = emb.selectExpr(
            f"vec_id + {(i + 1) * 100000} AS vec_id", "embedding", "label"
        ).limit(20)
        ivf_assign(batch, seeds).write.mode("append").partitionBy(
            "cell"
        ).parquet(store)

    def n_files():
        return sum(
            1 for _r, _d, fs in os.walk(store)
            for f in fs if f.endswith(".parquet")
        )

    frag_files = n_files()
    assert frag_files > 8  # the appends fragmented the cells
    grown = spark.read.parquet(store)
    assert grown.count() == base + 60
    before = sorted(map(tuple, ivf_topk_indexed(
        grown, qs, seeds, nprobe=2, k=3).collect()))

    flagged = compact_ivf_index(spark, store)
    assert flagged  # the fragmented cells were planned for rewrite
    assert n_files() < frag_files
    compacted = spark.read.parquet(store)
    assert compacted.count() == base + 60  # row-preserving rewrite
    after_df = ivf_topk_indexed(compacted, qs, seeds, nprobe=2, k=3)
    assert sorted(map(tuple, after_df.collect())) == before

    # the probe over the compacted store reads fewer files: files read
    # <= probed cells + appends' residue (one file per compacted cell)
    probed = ivf_topk_indexed(compacted, qs, seeds, nprobe=2, k=3)
    probed.collect()
    jplan = probed._jdf.queryExecution().executedPlan()
    files_read = None
    stack, seen = [jplan], set()
    while stack:
        node = stack.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        if ("FileSourceScan" in node.getClass().getSimpleName()
                and "cell" in node.toString()):
            o = node.metrics().get("numFiles")
            if o.isDefined():
                files_read = max(files_read or 0, o.get().value())
        try:
            it = node.children().iterator()
            while it.hasNext():
                stack.append(it.next())
        except Exception:
            pass
        for meth in ("finalPhysicalPlan", "executedPlan", "plan", "child"):
            try:
                stack.append(getattr(node, meth)())
            except Exception:
                pass
    assert files_read is not None and files_read <= len(flagged) + 8

    # idempotence: a second maintenance pass finds nothing to do
    assert compact_ivf_index(spark, store) == []
