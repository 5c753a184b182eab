"""Partitioning utilities shared by the compute-heavy operators."""

from __future__ import annotations

from pyspark.sql import DataFrame

# physical scan operators of files (DataSource V1 and V2)
_FILE_SCANS = ("FileSourceScanExec", "BatchScanExec")


def _is_bare_file_scan(df: DataFrame) -> bool:
    """Whether ``df``'s physical plan is file scans under narrow
    operators only. An adaptive (AQE) plan, a cached relation or an
    exchange anywhere answers False: counting such a plan's partitions
    runs its shuffle stages or fills its cache as Spark jobs."""
    nodes = [df._jdf.queryExecution().executedPlan()]
    while nodes:
        node = nodes.pop()
        name = node.getClass().getSimpleName()
        kids = node.children()
        if kids.size() == 0:
            if name not in _FILE_SCANS:
                return False
        elif "Exchange" in name:
            return False
        nodes.extend(kids.apply(i) for i in range(kids.size()))
    return True


def spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin a file scan across the cluster when it yields fewer
    partitions than cores.

    Parquet parallelism is bounded by ROW GROUPS, not byte splits — a
    small single-row-group file pins every narrow transform fused onto
    its scan (shingle md5, tokenization, 64-dim dot products) to ONE
    core no matter what ``maxPartitionBytes`` says. When the downstream
    work per row dwarfs the row (explodes, per-centroid scoring), paying
    one shuffle of the raw rows to unlock N-way compute is the right
    trade — measured 3× on the sf0.1 shingle explode. At 100 TB the
    scan already has ~10⁶ splits and this is an explicit no-op.

    Never starts a Spark job: any other plan (shuffled, cached, local
    rows) is returned unchanged, since a shuffle already spreads its
    output over ``spark.sql.shuffle.partitions``.
    """
    if not _is_bare_file_scan(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
