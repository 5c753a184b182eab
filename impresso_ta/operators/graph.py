"""Distributed graph operators: PageRank, triangle counts and BFS.

Connected components live in ``dedup.connected_components``, the one
CC in the package: a driver-side union-find over a collected edge list
(the entity-resolution composition in ``er.resolve_entities`` calls it
on its contracted graph).

* ``pagerank`` — fixed-iteration power method kept in EXACT BIGINT
  arithmetic (ranks scaled by 1e12; per-edge contribution is integer
  division ``rank div outdegree``; damping applied as ``(85 * s) div
  100``). Float PageRank sums are order-dependent (double addition is
  non-associative — the same failure class the DSIR/PMI oracles fixed
  with integer scaling); the integer form is bit-identical across
  engines and partitionings, which is what makes a DuckDB oracle
  possible. Each iteration: one shuffle join (edges ⋈ ranks on src,
  AQE-sized) + one map-side-combined groupBy(dst).

* ``triangle_counts`` — degree orientation + wedge closure.

* ``bfs_distances`` — level-synchronous frontier expansion.

Scale posture: per-round state is O(|edges|); intermediate lineage is
truncated each round via ``localCheckpoint`` (a production cluster with
executor churn would set a checkpoint dir and use ``checkpoint``; local
checkpoint avoids an HDFS dependency here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: rank fixed-point scale: 1e12 keeps 12 decimal digits of rank mass in
#: BIGINT with no overflow headroom issues (total mass ≤ 1e12 + n·1e2).
PAGERANK_SCALE = 1_000_000_000_000


def _norm_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Self-loop-free distinct undirected edge set as (u, v) longs."""
    return (
        edges.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    damping_pct: int = 85,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """Fixed-iteration PageRank over the DIRECTED edge set, in exact
    BIGINT fixed-point arithmetic.

    Returns (node BIGINT, rank_scaled BIGINT) where rank_scaled is the
    rank after ``iterations`` power steps, scaled by ``scale``:

        r0(v)   = scale div N
        r_k(v)  = ((100-d)·(scale div N)) div 100
                  + (d · Σ_{u→v} (r_{k-1}(u) div outdeg(u))) div 100

    Every operation is BIGINT division/summation — no float anywhere —
    so the result is independent of partitioning, summation order, and
    engine (the DuckDB oracle unrolls the same recurrence). Dangling
    nodes (no out-edges) simply retain no redistributed mass, the
    standard simplified formulation; total mass decays accordingly and
    ranks remain comparable within a run.

    Plan shape per iteration: edges were pre-joined with outdegree ONCE
    before the loop (that join is re-used every step), so each step is
    one shuffle join (edges ⋈ ranks on src — sort-merge, AQE-sized) and
    one map-side-combined groupBy(dst). Rank state is node-sized, never
    collected; lineage truncated per step with localCheckpoint.
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0).cast("long").alias("rank_scaled"))
    base = scale // n
    teleport = ((100 - damping_pct) * base) // 100
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e_deg = e.join(outdeg, "src").localCheckpoint()  # reused every step
    ranks = nodes.select("node", F.lit(base).cast("long").alias("r"))
    # r13: per-iteration checkpoints are LAZY — the LogicalRDD boundary
    # truncates the logical plan exactly as before (planning stays O(1)
    # per step), but no per-iteration materialization job runs; the
    # consumer's single action computes the chain, caching each marked
    # step's blocks as it goes (iterations jobs -> 0 inside the loop).
    for _ in range(iterations):
        sums = (
            e_deg.join(ranks, e_deg["src"] == ranks["node"])
            .select(
                F.col("dst"),
                F.expr("r div outdeg").alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = (
            nodes.join(sums, nodes["node"] == sums["dst"], "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({damping_pct} * coalesce(s, 0L)) div 100"
                    )
                ).cast("long").alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.col("r").alias("rank_scaled"))


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts (node BIGINT, n_triangles BIGINT; nodes
    in no triangle are absent).

    Algorithm: degree orientation + wedge closure — the join-based
    formulation that survives skew. Orienting every edge from the
    lower-(degree, id) endpoint to the higher bounds every node's
    OUT-degree by ~sqrt(2m), so the wedge self-join (out-neighbors ×
    out-neighbors per pivot) enumerates O(m^1.5) candidates total
    instead of Σ deg² — a celebrity node with 10^7 followers
    contributes ZERO wedges from its in-edges. Each triangle has
    exactly one vertex with out-edges to the other two (the pivot), so
    closing wedges against the undirected edge set counts every
    triangle exactly once, no post-hoc dedup shuffle.

    Plan: degree = one map-side-combined groupBy over both endpoint
    roles; orientation row-local after one join back; wedges = one
    equi-self-join on pivot; closure = one equi-join on the (lo, hi)
    normalized pair; per-node counts = explode the 3 corners + one
    final groupBy. All equi-joins — AQE handles residual skew.
    """
    e = _norm_edges(edges, src, dst)  # u != v, distinct, both directions once
    und = e.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    bidir = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = bidir.groupBy(F.col("a").alias("n")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # orient lower (deg, id) → higher (deg, id)
    with_deg = (
        bidir.join(deg.withColumnRenamed("n", "a"), "a")
        .withColumnRenamed("deg", "deg_a")
        .join(
            deg.withColumnRenamed("n", "b").withColumnRenamed("deg", "deg_b"),
            "b",
        )
    )
    oriented = with_deg.where(
        (F.col("deg_a") < F.col("deg_b"))
        | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b")))
    ).select(F.col("a").alias("pivot"), F.col("b").alias("out"))
    w1 = oriented.select("pivot", F.col("out").alias("x"))
    w2 = oriented.select("pivot", F.col("out").alias("y"))
    wedges = w1.join(w2, "pivot").where(F.col("x") < F.col("y"))
    tri = wedges.join(
        und, (wedges["x"] == und["a"]) & (wedges["y"] == und["b"])
    ).select("pivot", "x", "y")
    corners = (
        tri.select(F.col("pivot").alias("node"))
        .union(tri.select(F.col("x").alias("node")))
        .union(tri.select(F.col("y").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """Minimum hop distance from ANY source node, bounded at
    ``max_hops`` (node BIGINT, dist INT; unreached nodes absent) —
    k-hop neighborhood extraction, the graph-feature primitive
    (influence radius, contamination blast-radius, spam-seed
    proximity).

    Level-synchronous frontier expansion over the undirected edge set:
    each hop is ONE equi-join of the CURRENT frontier against the
    edges plus one anti-join against the already-settled set — cost is
    |frontier|-proportional, never |graph|-proportional, and the loop
    short-circuits when a frontier comes back empty (component
    exhausted before max_hops). Every hop's frontier is
    localCheckpoint-truncated, so lineage stays O(1) per hop. BFS
    levels are exact integers: no rounding discipline needed, the
    oracle (bounded recursive CTE, min hop per node) matches
    bit-for-bit.
    """
    e = _norm_edges(edges, src, dst)
    bidir = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    settled = (
        sources.select(F.col(node_col).cast("long").alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("int").alias("dist"))
        .localCheckpoint()
    )
    frontier = settled.select("node")
    for hop in range(1, max_hops + 1):
        reached = (
            frontier.join(bidir, frontier["node"] == bidir["u"])
            .select(F.col("v").alias("node"))
            .distinct()
        )
        # r13: lazy checkpoint + count() — ONE job per hop computes the
        # frontier, materializes its checkpoint blocks AND answers the
        # emptiness check (the eager form paid checkpoint + take = 2-3
        # jobs/hop); `settled` is lazily checkpointed and its blocks
        # materialize inside the NEXT hop's count (or the consumer).
        fresh = reached.join(settled, "node", "left_anti").select(
            "node", F.lit(hop).cast("int").alias("dist")
        ).localCheckpoint(eager=False)
        if fresh.count() == 0:
            break
        settled = settled.union(fresh).localCheckpoint(eager=False)
        frontier = fresh.select("node")
    return settled
