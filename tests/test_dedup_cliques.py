"""Duplicate-clique scale guards: the survivors form's linear edge
volume and the SemDeDup exact-dup collapse — both must be
output-faithful on corpora where near-dup cliques are large (the
synthetic 100x probe measured the pairwise forms 36-49x superlinear
exactly because of such cliques)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from impresso_ta.operators import dedup


def _clone_corpus(spark, n_base=6, clones=20):
    """n_base distinct long texts, each duplicated `clones` times with a
    distinct two-word prefix (the shape of the sf1 generator's documents)."""
    rows = []
    for b in range(n_base):
        words = " ".join(f"w{b}x{i}" for i in range(60))
        for c in range(clones):
            rows.append((b * clones + c, f"copy {c} " + words))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_survivors_collapses_cliques(spark):
    docs = _clone_corpus(spark)
    out = dedup.minhash_dedup_survivors(docs).collect()
    assert len(out) == 120  # every doc present exactly once
    by_comp = {}
    for r in out:
        by_comp.setdefault(r["component"], []).append(r)
    # each base text forms ONE component of its 20 clones
    assert sorted(len(v) for v in by_comp.values()) == [20] * 6
    for comp, members in by_comp.items():
        ids = sorted(m["doc_id"] for m in members)
        assert comp == ids[0]
        reps = [m for m in members if m["is_rep"]]
        assert [r["doc_id"] for r in reps] == [ids[0]]
        assert all(m["cluster_size"] == 20 for m in members)


def test_minhash_survivors_singletons_kept(spark):
    rows = [(i, " ".join(f"u{i}w{j}" for j in range(50))) for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.minhash_dedup_survivors(docs).collect()
    assert len(out) == 8
    assert all(r["is_rep"] and r["cluster_size"] == 1 for r in out)
    assert all(r["component"] == r["doc_id"] for r in out)


def _vec_corpus(spark, dims=8):
    """Vectors with exact-duplicate groups AND near (not identical)
    neighbours, so the collapse path and the pairwise path both fire."""
    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for g in range(5):
        base = rng.randn(dims)
        base /= np.linalg.norm(base)
        for _ in range(6):  # 6 exact clones
            rows.append((vid, [float(x) for x in base])); vid += 1
        near = base + 0.01 * rng.randn(dims)  # near-dup, not identical
        near /= np.linalg.norm(near)
        rows.append((vid, [float(x) for x in near])); vid += 1
        far = rng.randn(dims)
        far /= np.linalg.norm(far)
        rows.append((vid, [float(x) for x in far])); vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _naive_semantic(df, n_bits, dims, threshold=0.9, round_to=4):
    """The pre-collapse semantics, computed in numpy: assign cells with
    the same md5 hyperplanes, drop any vector with a smaller-id
    cell-mate at rounded cosine >= threshold."""
    import hashlib

    rows = sorted(
        ((r["vec_id"], np.array(r["embedding"], dtype=np.float64))
         for r in df.collect()),
    )
    planes = []
    for k in range(n_bits):
        planes.append([
            (int(hashlib.md5(f"{k}_{d}".encode()).hexdigest()[:6], 16)
             % 2001 - 1000) / 1000.0
            for d in range(dims)
        ])
    planes = np.array(planes)

    def cell(v):
        c = 0
        for k in range(n_bits):
            if round(float(planes[k] @ v), round_to) >= 0:
                c |= 1 << k
        return c

    cells = {vid: cell(v) for vid, v in rows}
    keep = {}
    for vid, v in rows:
        dropped = False
        for wid, w in rows:
            if wid >= vid or cells[wid] != cells[vid]:
                continue
            cos = float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w)))
            if round(cos, round_to) >= threshold:
                dropped = True
                break
        keep[vid] = not dropped
    return cells, keep


@pytest.mark.parametrize("n_probes", [1, 2])
def test_semantic_collapse_is_output_identical(spark, n_probes):
    df = _vec_corpus(spark)
    got = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in dedup.semantic_dedup_lsh(
            df, n_bits=2, dims=8, threshold=0.9, n_probes=n_probes
        ).collect()
    }
    cells, keep = _naive_semantic(df, n_bits=2, dims=8)
    assert set(got) == set(cells)
    for vid in cells:
        assert got[vid][0] == cells[vid], vid
        if n_probes == 1:
            assert got[vid][1] == keep[vid], vid
        else:
            # multiprobe may only drop MORE (extra probe collisions),
            # and every exact clone must still be dropped
            if not keep[vid]:
                assert got[vid][1] is False, vid
    # exactly one survivor per exact-clone group regardless of probes
    for g in range(5):
        clone_ids = range(g * 8, g * 8 + 6)
        keeps = [got[v][1] for v in clone_ids]
        assert keeps.count(True) == 1 and keeps[0] is True


def test_collapse_reduces_pairwise_volume(spark):
    """The collapse's point: with a k-clique of identical embeddings the
    pairwise join sees ONE representative, not k — assert the rep/clone
    split directly."""
    df = _vec_corpus(spark)
    assigned = df.withColumn(
        "cell", dedup.hyperplane_cells(F.col("embedding"), 2, 8)
    )
    reps, clones = dedup._collapse_exact_dups(assigned, "vec_id", "embedding")
    assert reps.count() == 5 * 3  # one rep per clone-group + near + far
    assert clones.count() == 5 * 5  # the other 5 clones of each group
    assert clones.filter(F.col("keep")).count() == 0


def test_pipeline_minhash_survivors_method(spark):
    from impresso_ta.operators.pipeline import prepare_corpus

    docs = _clone_corpus(spark, n_base=4, clones=10).withColumn(
        "lang", F.lit("fr")
    )
    res = prepare_corpus(
        docs,
        c4=False,
        gopher=False,
        line_spans=None,
        doc_dedup=True,
        doc_dedup_method="minhash_survivors",
    )
    kept = sorted(r["doc_id"] for r in res.docs.collect())
    res.unpersist()
    # one survivor (the min id) per 10-clone group
    assert kept == [0, 10, 20, 30]


def test_pipeline_unknown_dedup_method_raises(spark):
    from impresso_ta.operators.pipeline import prepare_corpus

    docs = _clone_corpus(spark, n_base=1, clones=2)
    with pytest.raises(ValueError, match="doc_dedup_method"):
        prepare_corpus(
            docs, c4=False, gopher=False, line_spans=None,
            doc_dedup=True, doc_dedup_method="nope",
        )


def test_minhash_pairs_bucket_cap(spark):
    """max_bucket_size bounds the candidate join: a clique bigger than
    the cap vanishes from the pair set (its dups belong to the
    survivors/exact forms), while pairs in small buckets are untouched."""
    # two 3-cliques of byte-identical texts: identical signatures, so
    # every band bucket holds a whole clique
    rows = [
        (b * 3 + c, " ".join(f"w{b}x{i}" for i in range(60)))
        for b in range(2)
        for c in range(3)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    n_un = uncapped.count()
    assert n_un == 2 * 3  # each identical-clique: all 3 pairs, j=1.0
    # every bucket holds a full 3-clique > cap → no candidates at all
    capped = dedup.minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=2)
    assert capped.count() == 0
    # cap above the clique size: identical to uncapped (same md5 hashes)
    wide = dedup.minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=16)
    assert wide.count() == n_un


def test_collapse_exempts_degenerate_vectors(spark):
    """NULL-cosine semantics: clones of all-zero embeddings are NEVER
    dropped by the pairwise rule (cosine(0,0)=0/0=NULL), so the exact-dup
    collapse must not drop them either."""
    rows = [
        (0, [0.0] * 8),
        (1, [0.0] * 8),   # zero-vector clone: must stay kept
        (2, [1.0] + [0.0] * 7),
        (3, [1.0] + [0.0] * 7),  # real clone: min id survives
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: r["keep"]
        for r in dedup.semantic_dedup_lsh(
            df, n_bits=1, dims=8, threshold=0.9
        ).collect()
    }
    assert got[0] is True and got[1] is True  # degenerate: both kept
    assert got[2] is True and got[3] is False  # real clone collapsed


def test_minhash_lsh_pairs_guard_trips_on_clone_cliques(spark):
    """The raw pairs form fails loudly (naming the fixes) when a band
    bucket exceeds guard_bucket_size — the clone-heavy failure mode the
    100x probe recorded; below the bound output is unchanged."""
    import pytest

    from impresso_ta.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "the same cloned boilerplate page text " * 4) for i in range(10)],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="quadratic in clique size"):
        minhash_lsh_pairs(docs, guard_bucket_size=5).collect()
    pairs = minhash_lsh_pairs(docs, guard_bucket_size=50).collect()
    assert len(pairs) == 45  # 10-clique -> C(10,2) true pairs
    assert all(r["jaccard"] == 1.0 for r in pairs)


def test_minhash_guard_suppressed_by_explicit_cap(spark):
    """Setting max_bucket_size IS the explicit acceptance of larger
    buckets — the tripwire must not re-raise under it, so the error
    message's own 'set max_bucket_size' remedy actually works even for
    caps above guard_bucket_size (round-8 review)."""
    from impresso_ta.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "the same cloned boilerplate page text " * 4) for i in range(10)],
        "doc_id long, text string",
    )
    # cap ABOVE the guard: previously raised anyway; now the cap rules
    pairs = minhash_lsh_pairs(
        docs, guard_bucket_size=5, max_bucket_size=20
    ).collect()
    assert len(pairs) == 45
    # cap BELOW the clique size still prunes the buckets quietly
    assert (
        minhash_lsh_pairs(
            docs, guard_bucket_size=5, max_bucket_size=3
        ).count()
        == 0
    )
