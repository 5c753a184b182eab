"""r13: the Arrow fast paths that ship a collected frame in the task
closure must fail FAST and actionably when that frame is over-bound,
instead of OOMing the driver (VERDICT r12 "What's wrong" #2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from impresso_ta.operators.cosine_arrow import brute_scored_arrow


def test_brute_scored_arrow_query_guard(spark):
    emb = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="max_query_rows"):
        brute_scored_arrow(emb, emb, max_query_rows=3)
    # under the bound: plan builds fine (no action needed)
    brute_scored_arrow(emb, emb, max_query_rows=100)


def test_warm_python_workers_runs(spark):
    from impresso_ta.session import warm_python_workers

    warm_python_workers(spark)          # default partition count
    warm_python_workers(spark, partitions=2)
