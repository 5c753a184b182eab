"""Change-data-capture materialization: latest-wins snapshots and SCD2
history from an append-only change log.

The reference's incremental story is file-level (F3 skips already-
imported issues); a 100 TB lake also needs ROW-level incrementality:
an upsert/delete log lands continuously,
and consumers want either the current snapshot (latest version of every
key, deletes applied) or the full slowly-changing-dimension history
(every version with its validity interval) — Delta/Iceberg's MERGE and
SCD2 patterns, expressed as plain deterministic DataFrame ops so they
work on any parquet lake.

Both operators are ONE window shuffle on the key (per-key change
history is small by construction — it's one entity's versions — so no
salting is needed; a pathological single-key log is a data bug, not a
plan bug). Ties on the version timestamp are broken by a caller-named
monotonic column (the log sequence number), never by arrival order, so
results are engine/partitioning-immune and DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def latest_snapshot(
    log: DataFrame,
    keys: list[str],
    version_cols: list[str],
    op_col: str | None = None,
    delete_value: str = "delete",
) -> DataFrame:
    """Materialize the current snapshot from a change log: the highest-
    (version_cols) row per key wins; if ``op_col`` is given, keys whose
    winning row is a delete are dropped entirely.

    Equivalent to Delta's ``MERGE`` replayed over the full log, but
    expressed as one window (rank over key ordered by version desc) —
    the shape AQE can re-plan and the oracle can mirror exactly.
    """
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in version_cols]
    )
    ranked = log.select("*", F.row_number().over(w).alias("_rk"))
    latest = ranked.where(F.col("_rk") == 1).drop("_rk")
    if op_col is not None:
        latest = latest.where(F.col(op_col) != delete_value)
    return latest


def scd2_history(
    log: DataFrame,
    keys: list[str],
    version_cols: list[str],
) -> DataFrame:
    """Slowly-changing-dimension (type 2) history: every log row becomes
    a version with ``valid_from`` = its own version columns and
    ``valid_to`` = the NEXT version's first version column (null for the
    current row, which also gets ``is_current = true``).

    One window on the key (lead over version order). Downstream
    point-in-time joins become ordinary range joins on
    [valid_from, valid_to).

    Tie semantics: intervals are built from ``version_cols[0]`` ONLY.
    Versions that tie on the first version column (distinct only in a
    tiebreaker — e.g. same micros-truncated ts, different event id) get
    ZERO-WIDTH ``[valid_from, valid_to)`` intervals for all but the
    last of the tied run; a half-open containment probe then matches
    only the last — the same winner a latest-wins snapshot at that
    instant picks. If each tied version must instead keep a visible
    interval, make ``version_cols[0]`` unique upstream (e.g. a composed
    sort key column).
    """
    for c in ("valid_from", "valid_to", "is_current"):
        if c in log.columns:
            raise ValueError(
                f"scd2_history: input already has a {c!r} column — the "
                "output would carry duplicate names; rename or drop it"
            )
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc() for c in version_cols]
    )
    first_v = version_cols[0]
    return log.select(
        "*",
        F.col(first_v).alias("valid_from"),
        F.lead(F.col(first_v)).over(w).alias("valid_to"),
    ).select(
        "*", F.col("valid_to").isNull().alias("is_current")
    )
