"""Ordering-sensitive operators (SURVEY W1-W4) as engine APIs.

The reference computes reading order in Python after sorting CI dicts
(ref: utils.py:139-158 ``get_reading_order``: sort by (first page, item
number), store dense rank in ``m.ro``). Here it's a window over an
explicitly total order — determinism is an engine invariant (stable IDs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def assign_reading_order(issues_df: DataFrame) -> DataFrame:
    """W1: recompute ``m.ro`` for every content item of every issue:
    rank by (first page number, CI number) — without exploding the issue
    row (array sort + in-place transform keeps it one map, no shuffle).
    """
    def sort_key(ci):
        first_page = F.coalesce(
            F.element_at(F.array_sort(ci["m"]["pp"]), 1), F.lit(10**9)
        )
        ci_num = F.regexp_extract(ci["m"]["id"], r"i(\d{4})$", 1).cast("int")
        return F.struct(first_page.alias("p"), ci_num.alias("n"))

    sorted_cis = F.array_sort(
        F.transform(
            F.coalesce(F.col("i"), F.array()),
            lambda ci: F.struct(sort_key(ci).alias("k"), ci.alias("ci")),
        )
    )
    renumbered = F.transform(
        sorted_cis,
        lambda entry, idx: entry["ci"].withField("m.ro", idx + 1),
    )
    return issues_df.withColumn("i", renumbered)


def debounce(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    min_gap_seconds: int = 60,
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Drop rapid-fire repeats: keep a row only if it arrives more than
    ``min_gap_seconds`` after the PREVIOUS row of the same key (first
    row per key always kept).

    This is the lag-based form — each row is judged against its
    immediate predecessor, not against the last KEPT row (that chained
    suppression is a running state; the lag form is the stateless
    one-window batch primitive, and the two agree whenever bursts are shorter
    than the gap). ONE window shuffle; ``tie_cols`` (default: nothing)
    break equal-timestamp ordering deterministically — pass the log
    sequence column when timestamps can collide.
    """
    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in (tie_cols or [])
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    # integer-micros gap (no float; the NTZ→TIMESTAMP cast is a no-op on
    # plain timestamps and pins the comparison to micros either way)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev = F.lag(us).over(w)
    gap_ok = prev.isNull() | (
        us - prev > F.lit(int(min_gap_seconds) * 1_000_000)
    )
    return df.select("*", gap_ok.alias("_keep")).where("_keep").drop("_keep")
