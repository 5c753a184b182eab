"""Partitioned sinks + manifest stats (SURVEY S10-S16, A2).

The reference packages issues per (alias, year) and pages per issue into
bz2 jsonl archives with FileLock-guarded concurrent appends
(ref: core.py:530-655). Spark's commit protocol makes the locks
unnecessary: one writer per output partition, atomic rename on commit.
The (alias, year) layout is preserved as ``partitionBy`` columns — which
also gives partition pruning on read (the reference's per-year file
naming was exactly that, by hand).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _with_partition_cols(df: DataFrame) -> DataFrame:
    # alias / year derived from the canonical id by anchoring on the date
    # component — works for issue (5 parts), page/record/CI (6 parts) and
    # multi-dash aliases alike.
    alias = F.regexp_extract(
        F.col("id"), r"^(.*?)-\d{4}-\d{2}-\d{2}-", 1
    )
    year = F.regexp_extract(F.col("id"), r"-(\d{4})-\d{2}-\d{2}-", 1).cast(
        "int"
    )
    return df.withColumn("alias", alias).withColumn("year", year)


def write_issues(
    issues_df: DataFrame, out_dir: str, fmt: str = "json", mode: str = "overwrite"
) -> None:
    """S12: issues partitioned by (alias, year); bz2 jsonl for parity with
    the reference packaging, parquet for the internal store."""
    df = _with_partition_cols(issues_df)
    writer = df.write.partitionBy("alias", "year").mode(mode)
    if fmt == "json":
        writer.json(out_dir, compression="bzip2")
    else:
        writer.parquet(out_dir)


def write_pages(
    pages_df: DataFrame, out_dir: str, fmt: str = "json", mode: str = "overwrite"
) -> None:
    """S11: pages partitioned by (alias, year). The reference additionally
    groups one bz2 per issue (core.py:530-573); at scale per-issue files
    are pathological (millions of tiny objects), so the engine's unit is
    the (alias, year) partition — the issue id column preserves the
    grouping logically."""
    df = _with_partition_cols(pages_df)
    writer = df.write.partitionBy("alias", "year").mode(mode)
    if fmt == "json":
        writer.json(out_dir, compression="bzip2")
    else:
        writer.parquet(out_dir)


def write_rebuilt(
    rebuilt_df: DataFrame, out_dir: str, fmt: str = "json", mode: str = "overwrite"
) -> None:
    """S14 (ref: rebuilder.py:60-97): rebuilt CIs per (alias, year)."""
    write_issues(rebuilt_df, out_dir, fmt=fmt, mode=mode)


def write_errors(errors_df: DataFrame, out_path: str, mode: str = "overwrite") -> None:
    """S15 failed-log sink (ref: core.py:54-88): one text line per failure,
    ``{canonical_path}: {error}`` formatting preserved."""
    (
        errors_df.select(
            F.concat_ws(": ", F.col("canonical_path"), F.col("error")).alias(
                "value"
            )
        ).write.mode(mode).text(out_path)
    )


def manifest_stats(issues_df: DataFrame) -> DataFrame:
    """S16/A2 manifest counts per (alias, year): issues, content items,
    pages, images — replaces impresso_essentials' DataManifest aggregation
    (used at ref core.py:419-426)."""
    df = _with_partition_cols(issues_df)
    return df.groupBy("alias", "year").agg(
        F.count("*").alias("n_issues"),
        F.sum(F.size(F.coalesce(F.col("i"), F.array()))).alias("n_content_items"),
        F.sum(F.size(F.coalesce(F.col("pp"), F.array()))).alias("n_pages"),
        F.sum(
            F.size(
                F.filter(
                    F.coalesce(F.col("i"), F.array()),
                    lambda ci: ci["m"]["tp"] == "image",
                )
            )
        ).alias("n_images"),
    )


def write_training_shards(
    docs: DataFrame,
    out_path: str,
    n_shards: int = 64,
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Export the corpus as N deterministic training shards.

    Rows land in shard directories (``shard=K/``) ordered by their
    hash-shuffled ``pos`` (operators/corpus.py training_shards), so a
    trainer streaming shard files in order sees a reproducible global
    shuffle. ``repartition(shard)`` aligns the write with the assignment
    — one shuffle total — and ``sortWithinPartitions`` orders rows
    inside each file without a global sort.
    """
    from impresso_ta.operators.corpus import training_shards

    assigned = training_shards(docs, n_shards, id_col=id_col)
    (
        docs.join(assigned, id_col)
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.partitionBy("shard")
        .mode(mode)
        .parquet(out_path)
    )
