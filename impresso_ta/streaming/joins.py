"""Stream-stream event-time interval join (attribution).

The one Structured Streaming join shape that needs BOTH sides to be
unbounded: attribute each effect event (click / purchase / conversion)
to the cause events (view / impression) of the same key that happened
at most ``max_lag`` earlier. Batch and streaming share one code path —
the same function builds the batch twin the oracle checks and the
streaming query the tests drain, so the semantics cannot drift.

Scale shape: the join is EQUI on the key column (user/session) with the
time bound as a residual range predicate — batch compiles to a shuffled
hash/sort-merge join on the key (never a broadcast-nested-loop over
time), streaming to a StreamingSymmetricHashJoin whose per-key state is
bounded by ``watermark + max_lag``: rows older than the watermark minus
the lag window are evicted from the state store every trigger, so state
size tracks the event RATE, not the stream's lifetime. MEASURED
(PLANS.md §11): 10x rate -> 10.0x peak
state rows; 4x stream length at fixed rate -> identical peak and final
state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attribution_join(
    cause: DataFrame,
    effect: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    id_col: str = "event_id",
    max_lag: str = "30 minutes",
    watermark: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join every effect row to the cause rows of the same ``key_col``
    with ``cause.ts < effect.ts <= cause.ts + max_lag``.

    Pass ``watermark`` (e.g. ``"2 hours"``) when both inputs are
    streaming: it is applied to BOTH sides before the join, which is
    what lets Spark evict join state (inner stream-stream joins without
    a watermark + time bound keep all rows forever). Batch callers
    leave it None — the plan is then a plain key-equi join with the
    range condition as residual.

    ``how="left_outer"`` additionally keeps every cause row that never
    found an effect (views that never converted — the funnel-loss
    rows), with null effect columns. In streaming, matched rows still
    emit immediately; an UNMATCHED cause emits only once its join
    state EXPIRES — the null verdict can't be issued while a matching
    effect could still arrive. Expiry is driven by the GLOBAL
    watermark, the MIN over both sides' event-time columns, so a
    finite stream flushes its unmatched rows only after BOTH sides see
    data past cause_ts + lag; availableNow appends a final no-data
    batch that re-runs eviction with the advanced watermark, so the
    flush lands within the same drain (see the recovery test).

    Output: key, cause_id, effect_id, both timestamps, and the exact
    integer ``lag_us`` (microseconds; exact, so results hash
    identically across engines — no float time arithmetic; null for
    unmatched outer rows).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be 'inner' or 'left_outer', got {how!r}")
    c = cause.select(
        F.col(key_col),
        F.col(id_col).alias("cause_id"),
        F.col(time_col).alias("cause_ts"),
    )
    e = effect.select(
        F.col(key_col).alias("_effect_key"),
        F.col(id_col).alias("effect_id"),
        F.col(time_col).alias("effect_ts"),
    )
    if watermark is not None:
        # watermarks are only defined on instant TIMESTAMPs; parquet
        # wall-clock NTZ columns are cast here (session tz) so batch
        # and streaming callers hand in the same frames. The ORIGINAL
        # wall-clock values ride along untouched: lag_us is computed
        # from them, not the cast columns — in a non-UTC session a
        # cause/effect pair spanning a DST transition would otherwise
        # differ from the batch twin by the offset change.
        c = c.withColumn("_cause_ts_wall", F.col("cause_ts")).withColumn(
            "cause_ts", F.col("cause_ts").cast("timestamp")
        ).withWatermark("cause_ts", watermark)
        e = e.withColumn("_effect_ts_wall", F.col("effect_ts")).withColumn(
            "effect_ts", F.col("effect_ts").cast("timestamp")
        ).withWatermark("effect_ts", watermark)
        lag_cols = ("_cause_ts_wall", "_effect_ts_wall")
    else:
        lag_cols = ("cause_ts", "effect_ts")
    cond = (
        (c[key_col] == e["_effect_key"])
        & (e["effect_ts"] > c["cause_ts"])
        & (
            e["effect_ts"]
            <= c["cause_ts"] + F.expr(f"INTERVAL {max_lag}")
        )
    )
    return (
        c.join(e, cond, how)
        .select(
            key_col,
            "cause_id",
            "effect_id",
            "cause_ts",
            "effect_ts",
            # wall-time microsecond difference: exact integer (hashes
            # identically across engines) and NTZ-safe in BOTH paths —
            # the watermark path diffs the untouched wall-clock copies,
            # never the session-tz-cast join columns
            F.expr(
                f"timestampdiff(MICROSECOND, {lag_cols[0]}, {lag_cols[1]})"
            ).alias("lag_us"),
        )
    )
