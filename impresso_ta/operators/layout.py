"""Data-layout optimization: Z-order (Morton) keys for multi-dimension
data skipping.

At 100 TB the cheapest query is the one that never reads the bytes:
parquet row-group min/max statistics prune scans, but only if the
file layout clusters the filtered columns. Sorting by ONE column
clusters that column alone; interleaving the bits of several columns
(the Z-order curve, as used by Delta/Iceberg OPTIMIZE ZORDER) bounds
the per-row-group min/max spread of EVERY participating column, so
selective filters on any of them skip most row groups.

The key computation is a pure row-local bit-interleave in whole-stage
codegen (zero shuffle); the write path adds one range-repartition on
the key (the same exchange any global sort pays). Extends the
reference's year-partitioned layout (A1 package groupby, ref
core.py:618-660) to multi-dimensional locality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def minmax_scale_to_int(col: Column, lo: float, hi: float, bits: int = 16) -> Column:
    """Affine-scale a bounded numeric column onto [0, 2^bits): the
    Z-order ingredient for non-integer / unbounded inputs. lo/hi come
    from domain knowledge or a stats pass; values outside clamp."""
    scaled = (col.cast("double") - F.lit(lo)) / F.lit(float(hi - lo))
    clamped = F.least(F.greatest(scaled, F.lit(0.0)), F.lit(1.0))
    return F.floor(clamped * F.lit((1 << bits) - 1)).cast("long")


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Morton interleave of ``len(cols)`` non-negative int columns
    (each < 2^bits) into one long: bit b of column i lands at position
    b * n_cols + i. Pure literal expression tree — no UDF, no shuffle."""
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a long")
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            key = key + F.shiftleft(bit, b * n + i)
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[Column],
    bits: int = 16,
    n_files: int = 8,
) -> None:
    """Write parquet clustered along the Z-curve of ``cols``: one
    range-exchange on the interleaved key, sort within partitions, key
    dropped before write. Row-group min/max stats of every
    participating column are then tight per file, so selective filters
    on any of them prune at scan time."""
    keyed = df.withColumn("_zkey", zorder_key(cols, bits))
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def compaction_plan(
    listing: DataFrame,
    partition_cols: list[str],
    size_col: str = "bytes",
    target_bytes: int = 128 * 1024 * 1024,
    small_threshold_pct: int = 50,
) -> DataFrame:
    """Small-file compaction planner — the maintenance pass a 100 TB
    lake needs continuously (streaming sinks and per-issue writers
    emit KB–MB files; scans then pay per-file open/seek latency and
    the driver pays per-file listing memory).

    Input: a file listing (path + size + partition columns) — e.g.
    from a `binaryFile` scan with the content column PRUNED, so no
    file byte is read. Output: one
    row per partition with the merge decision, all integer
    arithmetic (engine-exact):

      n_files, total_bytes,
      n_small_files    — files under small_threshold_pct% of target
      target_files     — ceil(total_bytes / target_bytes), min 1
      files_to_merge   — n_files - target_files when compaction wins,
                         else 0
      needs_compaction — true iff files_to_merge > 0 AND the partition
                         actually has small files (an already-compacted
                         partition of target-sized files is left alone)

    The plan is one map-side-combined groupBy over the listing —
    METADATA-sized work; executing the plan is a separate
    repartition-and-rewrite per flagged partition. Integer ceil is
    (total + target - 1) div target.
    """
    small = F.lit(target_bytes * small_threshold_pct)
    sz = F.col(size_col).cast("long")
    agg = (
        listing.groupBy(*[F.col(c) for c in partition_cols])
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(sz).alias("total_bytes"),
            F.sum(
                F.when(sz * 100 < small, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_small_files"),
        )
    )
    target_files = F.greatest(
        F.lit(1).cast("long"),
        F.expr(f"(total_bytes + {target_bytes} - 1) div {target_bytes}"),
    )
    plan = agg.select(
        *partition_cols,
        "n_files",
        "total_bytes",
        "n_small_files",
        target_files.alias("target_files"),
    ).select(
        "*",
        F.greatest(
            F.lit(0).cast("long"), F.col("n_files") - F.col("target_files")
        ).alias("files_to_merge"),
    )
    return plan.select(
        "*",
        (
            (F.col("files_to_merge") > 0) & (F.col("n_small_files") > 0)
        ).alias("needs_compaction"),
    )
