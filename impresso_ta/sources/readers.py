"""Canonical store readers (SURVEY S7/S8).

The reference fetches issues and pages object-by-object from S3 inside
workers (ref: rebuilders/helpers.py:80-173). Here a canonical store is
just a path (local, s3a://, ...) read with the fixed schemas — Catalyst
prunes columns and pushes partition filters into the listing, replacing
the hand-rolled per-issue fetch loop with one distributed scan + the J2
join in the rebuild pipeline.

Both jsonl(.bz2) — the reference's packaging — and parquet are supported;
parquet is the engine-internal format (columnar pruning at 100 TB),
jsonl.bz2 the interchange/parity format (bz2 is splittable on read).
Issues and audio records are read with their fixed schemas in either
format; jsonl pages stay JSON text (``id``, ``js``) until the rebuild
assembly parses each line once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impresso_ta.schemas import AUDIO_RECORD_SCHEMA, ISSUE_SCHEMA, PAGE_SCHEMA


def _is_parquet_store(path: str) -> bool:
    if ".parquet" in path:
        return True
    import glob
    import os

    if not os.path.isdir(path):
        return False
    return bool(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def _read(spark: SparkSession, path: str, schema) -> DataFrame:
    if _is_parquet_store(path):
        return spark.read.schema(schema).parquet(path)
    return spark.read.schema(schema).json(path)


def read_issues(spark: SparkSession, path: str) -> DataFrame:
    """Canonical issues from jsonl(.bz2) or parquet with the fixed schema
    (never inferred — IDs and shapes are contractual)."""
    return _read(spark, path, ISSUE_SCHEMA)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Canonical pages. A parquet store reads typed (PAGE_SCHEMA). A
    jsonl(.bz2) store is read as text: one row per page line, ``id``
    (the line's top-level ``id``) and ``js`` (the raw line). The rebuild
    parses each line once, in its assembly, and repairs the legacy BNF
    line nesting there; a line that is not JSON has a null ``id`` and
    joins no issue."""
    if _is_parquet_store(path):
        return _read(spark, path, PAGE_SCHEMA)
    # json_tuple, not get_json_object: as a generator it stays below the
    # rebuild's isnotnull(id) filter, which would otherwise be pushed
    # down as a second parse of every line
    return spark.read.text(path).select(
        F.json_tuple("value", "id").alias("id"),
        F.col("value").alias("js"),
    )


def read_audio_records(spark: SparkSession, path: str) -> DataFrame:
    return _read(spark, path, AUDIO_RECORD_SCHEMA)

