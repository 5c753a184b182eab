"""Driver-side guards must fail FAST and actionably: a bad argument
raises ``ValueError`` before any Spark job runs, under ``python -O``
too (no bare ``assert``)."""

from __future__ import annotations

import pytest

from impresso_ta.operators.corpus import bloom_filter_build
from impresso_ta.operators.minhash_arrow import minhash_signatures_arrow


@pytest.mark.parametrize(
    "call, match",
    [
        (
            lambda docs: minhash_signatures_arrow(
                docs, "doc_id", "text", k=3, num_perm=16385
            ),
            "num_perm",
        ),
        (lambda docs: bloom_filter_build(docs, m_bits=100), "m_bits"),
    ],
    ids=["minhash_num_perm_int64", "bloom_m_bits_multiple_of_64"],
)
def test_argument_guard_raises_before_any_job(spark, call, match):
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    sc = spark.sparkContext
    group = "argument-guard"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=match):
            call(docs)
    finally:
        sc.setJobGroup(None, None)
        # the status tracker is fed by the asynchronous listener bus
        spark._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_warm_python_workers_runs(spark):
    from impresso_ta.session import warm_python_workers

    warm_python_workers(spark)          # default partition count
    warm_python_workers(spark, partitions=2)
