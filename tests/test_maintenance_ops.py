"""Diagnostics operators: key-skew profiling (skew.py), weighted
sampling (corpus.py) and column profiling (validate.py)."""

import pytest

from impresso_ta.operators.corpus import weighted_sample
from impresso_ta.operators.skew import profile_key_skew


def test_profile_key_skew_counts_and_ranks(spark):
    rows = [("hot",)] * 70 + [("warm",)] * 20 + [("cold",)] * 10
    df = spark.createDataFrame(rows, "k string")
    got = profile_key_skew(df, "k", n_partitions=4, top_k=2).collect()
    assert [(r.key, r.n_rows, r.rank) for r in got] == [
        ("hot", 70, 1),
        ("warm", 20, 2),
    ]
    assert got[0].share_ppm == 70 * 1_000_000 // 100
    assert all(0 <= r.hash_partition < 4 for r in got)


def test_profile_key_skew_tie_break_on_key(spark):
    df = spark.createDataFrame([("b",), ("a",)], "k string")
    got = profile_key_skew(df, "k", top_k=2).collect()
    assert [r.key for r in got] == ["a", "b"]


def test_weighted_sample_bias_and_determinism(spark):
    # 500 rows, half weight 1, half weight 1000: heavy rows dominate
    rows = [(i, 1000 if i % 2 == 0 else 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got1 = weighted_sample(df, "doc_id", "w", n=50).collect()
    got2 = weighted_sample(df.repartition(7), "doc_id", "w", n=50).collect()
    assert got1 == got2  # partitioning-invariant
    heavy = sum(1 for r in got1 if r.doc_id % 2 == 0)
    assert heavy >= 45  # ~1000:1 odds per slot
    assert len(got1) == 50
    # priorities really are the n smallest
    all_pri = weighted_sample(df, "doc_id", "w", n=500).collect()
    assert [r.doc_id for r in got1] == [r.doc_id for r in all_pri[:50]]


def test_weighted_sample_rejects_nonpositive_weight(spark):
    df = spark.createDataFrame([(1, 5), (2, 0)], "doc_id long, w long")
    with pytest.raises(Exception, match="weights must be positive"):
        weighted_sample(df, "doc_id", "w", n=2).collect()
    with pytest.raises(ValueError):
        weighted_sample(df, "doc_id", "w", n=0)


def test_profile_columns_counts(spark):
    from impresso_ta.operators.validate import profile_columns

    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("b", 3), (None, 3)],
        "s string, x int",
    )
    got = {r.column: r for r in profile_columns(df, ["s", "x"]).collect()}
    assert (got["s"].n_rows, got["s"].n_null, got["s"].n_distinct) == (4, 1, 2)
    assert (got["s"].min_val, got["s"].max_val) == ("a", "b")
    assert (got["x"].n_rows, got["x"].n_null, got["x"].n_distinct) == (4, 1, 2)
    assert (got["x"].min_val, got["x"].max_val) == ("1", "3")
