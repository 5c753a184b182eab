"""Duplicate-clique scale guards: the survivors form's linear edge
volume must be output-faithful on corpora where near-dup cliques are
large (the synthetic 100x probe measured the pairwise forms 36-49x
superlinear exactly because of such cliques)."""

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
