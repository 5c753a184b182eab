"""Banded-state perceptual-hash probe: probing a persisted band table
must match a brute-force cross comparison, and its plan must band only
the new side — the accepted store enters as a plain scan."""

from impresso_ta.operators.multimodal import (
    phash_bands,
    phash_probe_pairs,
)


def test_phash_probe_matches_brute_force_cross(spark):
    rows_ex = [("e0", 0x0123456789ABCDEF), ("e1", 0x0123456789ABCD00)]
    rows_new = [
        ("n0", 0x0123456789ABCDEE),  # hamming 1 vs e0
        ("n1", 0x7777777777777777),  # far from both
    ]
    ex = spark.createDataFrame(rows_ex, "media_id string, phash long")
    new = spark.createDataFrame(rows_new, "media_id string, phash long")
    state = phash_bands(ex)
    got = {
        (r["media_new"], r["media_ex"], r["hamming"])
        for r in phash_probe_pairs(new, state, max_hamming=3).collect()
    }
    # brute force in python
    import itertools

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    want = {
        (n, e, ham(hn, he))
        for (n, hn), (e, he) in itertools.product(rows_new, rows_ex)
        if ham(hn, he) <= 3
    }
    assert got == want


def test_phash_probe_plan_bands_new_side_only(spark, tmp_path):
    ex = spark.createDataFrame(
        [(f"e{i}", i * 7919) for i in range(50)],
        "media_id string, phash long",
    )
    phash_bands(ex).write.parquet(str(tmp_path / "bands"))
    state = spark.read.parquet(str(tmp_path / "bands"))
    new = spark.createDataFrame(
        [("n0", 12345)], "media_id string, phash long"
    )
    plan = (
        phash_probe_pairs(new, state, max_hamming=3)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # exactly one explode: the new side's band fan-out; the state is a
    # plain scan of its already-banded rows
    assert plan.count("Generate") == 1
