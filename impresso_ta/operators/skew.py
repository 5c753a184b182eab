"""Skew-mitigation operators: salted aggregation and salted broadcast-ish
joins for hot keys.

AQE's skew-join splitting (enabled in session defaults) handles skewed
JOINS at runtime, but a skewed AGGREGATION key — one (alias, year) of a
major daily ≫ median (SURVEY §7 risk 4), or a stop-shingle in dedup —
still funnels every row of the hot key through one reducer. The classic
fix is salting: spread each key over ``n_salts`` sub-keys, partially
aggregate, then combine the partials in a second (tiny) shuffle.

The salt is DETERMINISTIC — derived from a row column via md5, never
``rand()`` — so plans stay replayable (task retries see the same salt;
results are engine-portable for the DuckDB oracle, which computes the
same answer without salting since salting never changes semantics).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_column(source: Column, n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts): md5 of a high-cardinality row
    column (e.g. the row id). Uniform, replayable on task retry."""
    return (
        F.conv(F.substring(F.md5(source.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % n_salts
    ).cast("int")


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    salt_source: str,
    n_salts: int = 16,
    **aggs: tuple[str, str],
) -> DataFrame:
    """Two-stage aggregation for skewed grouping keys.

    ``aggs`` maps output column name → (function, input column) with
    function ∈ {sum, count, min, max} — the decomposable aggregates whose
    partials combine losslessly (count re-combines as sum; avg callers
    compose sum/count themselves).

    Stage 1 groups by (keys + salt): the hot key's rows spread over
    ``n_salts`` reducers. Stage 2 re-groups the ≤ n_salts partial rows
    per key — a shuffle of |distinct keys|·n_salts tiny rows. Results are
    identical to a direct groupBy (tested + oracle-checked); use when one
    key holds ≫ 1/shuffle-partitions of the data.
    """
    _COMBINE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    _PARTIAL = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    for fn, _ in aggs.values():
        if fn not in _PARTIAL:
            raise ValueError(f"non-decomposable aggregate: {fn}")

    salted = df.withColumn("_salt", salt_column(F.col(salt_source), n_salts))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[
            _PARTIAL[fn](col).alias(out)
            for out, (fn, col) in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[
            _COMBINE[fn](out).alias(out)
            for out, (fn, _) in aggs.items()
        ]
    )


def topn_per_key_salted(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str | Sequence[str],
    n: int,
    n_salts: int = 16,
    ascending: bool = True,
) -> DataFrame:
    """Exact top-``n`` rows per key without a single-task window over a
    skewable key — the per-domain document cap of RefinedWeb-style
    pipelines (``key=registered domain, order=doc_id, n=cap``), where a
    hot domain holding 10⁸ crawl records would otherwise serialize into
    ONE ``row_number`` window partition.

    Stage 1 windows over (keys + salt): the hot key's rows spread over
    ``n_salts`` tasks, and each salt keeps its local top-n — a superset
    filter (every global top-n row is necessarily in its own salt's
    top-n). Stage 2 re-windows the ≤ n·n_salts survivors per key for
    the exact global rank. Output = the winning input rows plus an
    exact 1-based ``rank``; identical to a direct single window
    (parity-tested), with the hot-key partition bounded by
    ~(rows_of_key/n_salts) in stage 1 and n·n_salts in stage 2.

    ``order_col`` may be one column name or a sequence of them; the
    COMBINATION must be unique within a key so ranks are deterministic
    (a lone hash column collides at ~2^24 rows/key — add the row id as
    a tie-break, e.g. ``["_draw", "doc_id"]``). The full order key also
    seeds the salt, so placement is replayable on task retry.

    When to use (measured, PLANS.md §10): Spark
    3.5's WindowGroupLimit pushdown already group-limits the PLAIN
    single-window form per map partition before its shuffle, bounding
    the hot key's reducer at ~n x map_partitions rows — locally that
    form wins every measured cell, and it is the right default. This
    salted form wins only when n x map_partitions itself exceeds
    single-task capacity (cluster regime: cap 1000 over a 10⁵-split
    scan = 10⁸ rows into one reducer; n_salts divides it) — which is
    exactly the corpus pipeline's ``domain_cap`` design point.
    """
    from pyspark.sql.window import Window

    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)

    def ordv():
        return [
            (F.col(c).asc() if ascending else F.col(c).desc())
            for c in order_cols
        ]

    salted = df.withColumn(
        "_salt",
        salt_column(
            F.concat_ws(
                "\x1f", *[F.col(c).cast("string") for c in order_cols]
            ),
            n_salts,
        ),
    )
    w1 = Window.partitionBy(*key_cols, "_salt").orderBy(*ordv())
    stage1 = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= n)
        .drop("_r1")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*ordv())
    return (
        stage1.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= n)
        .drop("_salt")
    )


def replicated_skew_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_source: str,
    n_salts: int = 16,
) -> DataFrame:
    """Equi-join where ``big`` is heavily skewed on ``key`` and ``small``
    is too large to broadcast outright.

    The big side gets a deterministic salt; the small side is REPLICATED
    n_salts× (explode over the salt range) so every (key, salt) pair
    matches. The shuffle then partitions on (key, salt): the hot key's
    rows land on n_salts reducers instead of one. Same rows as a plain
    join (tested). Prefer ``F.broadcast(small)`` when small fits in
    memory; prefer AQE skew-join when it triggers — this is the explicit
    fallback for when neither does.
    """
    salted_big = big.withColumn(
        "_salt", salt_column(F.col(salt_source), n_salts)
    )
    replicated = small.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>")),
    )
    return salted_big.join(replicated, [key, "_salt"]).drop("_salt")


def profile_key_skew(
    df: DataFrame,
    key: str,
    n_partitions: int = 32,
    top_k: int = 20,
) -> DataFrame:
    """Join/agg-key skew diagnostics: the measurement you run BEFORE
    choosing between a plain shuffle, `salted_agg`, and
    `replicated_skew_join` (SURVEY §7 risk 4 says WHICH keys are hot;
    this op says HOW hot, in one aggregate pass).

    Returns the ``top_k`` heaviest keys with
      n_rows      — exact count
      share_ppm   — exact integer parts-per-million of the table
                    ((n_rows·1e6) div total — no float division, so the
                    oracle matches bit-for-bit)
      hash_partition — the reducer this key lands on under an
                    ``n_partitions``-way deterministic hash shuffle
                    (48-bit md5 mod — an engine-portable stand-in for
                    Spark's murmur3 pmod; two heavy keys sharing a
                    partition compound the straggler)
      rank        — 1-based, count desc, key asc tie-break

    Plan: ONE map-side-combined groupBy(key) (the profile never
    shuffles raw rows — partial counts only), a broadcast one-row
    total, and a TakeOrderedAndProject for the top-k. Cost is
    |distinct keys| regardless of table size.
    """
    from pyspark.sql.window import Window

    counts = df.groupBy(F.col(key).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").alias("_total"))
    pm = F.expr("(n_rows * 1000000) div _total")
    part = (
        F.conv(F.substring(F.md5(F.col("key")), 1, 12), 16, 10).cast("long")
        % n_partitions
    ).cast("int")
    ranked = (
        counts.crossJoin(F.broadcast(total))
        .select(
            "key",
            "n_rows",
            pm.alias("share_ppm"),
            part.alias("hash_partition"),
        )
        .orderBy(F.col("n_rows").desc(), F.col("key"))
        .limit(top_k)
    )
    w = Window.orderBy(F.col("n_rows").desc(), F.col("key"))
    return ranked.select(
        "*", F.row_number().over(w).cast("long").alias("rank")
    )
