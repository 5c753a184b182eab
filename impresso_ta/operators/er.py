"""Entity resolution: fuzzy match edges collapsed into entity clusters.

The composition the graph family exists for (generalizing the
reference's FedGaz fuzzy title matching, fedgaz/classes.py:242-345,
from "locate one title" to "cluster all records"): fuzzy_blocked_join
emits approximate-match edges, connected_components collapses them into
transitively-closed clusters with min-id canonical labels.

The scale hazard is CLONE MASS, and it cannot be fixed inside either
building block: a value appearing c times contributes c·(c-1)/2
intra-value match pairs (edit distance 0), so the raw edge set is
quadratic in clone multiplicity even when the fuzzy join itself
verifies on distinct values. Measured on the sf1 bench corpus (200k
rows, 64 distinct names ≈ 31k clones each): the clone-collapsed fuzzy
join finishes in 38 s but emits 313,223,600 raw edges — and connected
components over 313M edges is where the round-8 >9-minute stall
actually lived.

``resolve_entities`` therefore contracts exact-value clones BEFORE edge
generation: one super-node per distinct value (labeled by the MINIMUM
key among its rows), fuzzy edges over the distinct values only, CC on
the contracted graph (64 nodes in the corpus above), then one equi-join
on the value to expand labels back to rows. Cost is linear in rows +
quadratic in DISTINCT near-matches — never in clone multiplicity.

Output-identity proof sketch (vs CC over the raw pairwise edge set):
 1. Components are preserved by the contraction: rows sharing a value
    are always directly connected in the raw graph (distance 0 ≤ k),
    so contracting them cannot merge or split components; a cross-value
    raw edge (a, b) exists iff the same (value(a), value(b)) edge exists
    at super-node level (the predicate depends only on the two values).
 2. Labels are preserved: the super-node id is min(key) over its rows,
    so min over a contracted component = min over the raw component.
 3. The node universe is preserved: a raw row appears in CC-over-raw-
    edges output iff it has ≥1 edge, i.e. iff its value has ≥2 rows
    (intra-value edge) OR its value matches some other value (cross-
    value edge) — exactly the ``_cnt >= 2 OR component IS NOT NULL``
    filter below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from impresso_ta.operators.fuzzy import fuzzy_blocked_join
from impresso_ta.operators.dedup import connected_components


def resolve_entities(
    df: DataFrame,
    key_col: str,
    name_col: str,
    max_dist: int = 1,
    block_expr=None,
    guard_block_size: int | None = 50_000,
) -> DataFrame:
    """Cluster rows whose ``name_col`` values match within ``max_dist``
    edits (transitively), returning (key_col BIGINT, cluster BIGINT)
    where cluster is the minimum key in the row's cluster.

    Rows whose value is unique AND has no fuzzy neighbor are absent —
    the same node-universe contract as ``connected_components`` (edge
    endpoints only); callers union singletons back if needed.

    Plan shape: one groupBy(value) for the contraction, the blocked
    fuzzy join over DISTINCT values (see fuzzy_blocked_join for the
    (block, length-bucket) shuffle key and the guard tripwire — both
    apply here per distinct value), CC over super-nodes, one equi-join
    on the value to label rows. In a clone-heavy corpus the contracted
    side is tiny and AQE broadcasts the label map; in a clone-free
    corpus the contraction is a no-op pass-through and cost matches the
    raw form.

    PRECONDITION: ``key_col`` identifies rows — the same key must not
    appear with two different ``name_col`` values. The contraction uses
    min(key) per value as the super-node id; a key shared across values
    CAN give two distinct value groups the same super-node and silently
    merge their clusters (and the output-identity proof above would no
    longer hold). An in-plan tripwire (count over the super-node id,
    riding the checkpointed contraction — one small exchange over
    |distinct values| rows) fails LOUDLY in exactly that
    cluster-corrupting case: when a shared key is the MIN of two value
    groups. Guard scope, precisely: a key appearing under two names
    WITHOUT being both groups' min does not corrupt any cluster — each
    of its (key, name) rows is labeled with its own name's cluster, so
    the violation surfaces as a duplicate key in the output rather
    than as silently merged clusters; detecting that residual class
    would cost a full count-vs-countDistinct pass over the RAW rows
    per call, which this operator does not impose.
    """
    from pyspark.sql.window import Window

    rep_w = Window.partitionBy("_rep")
    vals = (
        df.groupBy(name_col)
        .agg(
            F.min(F.col(key_col).cast("long")).alias("_rep"),
            F.count(F.lit(1)).alias("_cnt"),
        )
        .withColumn(
            "_guard",
            F.assert_true(
                F.count("*").over(rep_w) <= 1,
                F.concat(
                    F.lit(
                        "resolve_entities: key "
                    ),
                    F.col("_rep").cast("string"),
                    F.lit(
                        f" appears with more than one {name_col} value — "
                        f"{key_col} must identify rows (one name per key), "
                        "or two unrelated value groups would share a "
                        "super-node and be merged into one cluster"
                    ),
                ),
            ),
        )
        .filter(F.col("_guard").isNull())
        .drop("_guard")
        .localCheckpoint()  # reused: edge generation + label expansion
    )
    a = vals.select(F.col("_rep").alias("_ka"), F.col(name_col).alias("_na"))
    b = vals.select(F.col("_rep").alias("_kb"), F.col(name_col).alias("_nb"))
    edges = (
        fuzzy_blocked_join(
            a,
            b,
            "_na",
            "_nb",
            max_dist=max_dist,
            block_expr=block_expr,
            # sides are already distinct values: skip the collapse's two
            # extra exchanges, keep the guard on the same distinct counts
            collapse_clones=False,
            guard_block_size=guard_block_size,
        )
        .filter(F.col("_ka") < F.col("_kb"))
        .select(F.col("_ka").alias("src"), F.col("_kb").alias("dst"))
    )
    comp = connected_components(edges, src="src", dst="dst").select(
        "node", F.col("label").alias("component")
    )
    labeled = (
        vals.join(comp, vals["_rep"] == comp["node"], "left")
        .where((F.col("_cnt") >= 2) | F.col("component").isNotNull())
        .select(
            F.col(name_col).alias("_er_val"),
            F.coalesce("component", "_rep").alias("cluster"),
        )
    )
    return df.join(
        labeled, df[name_col] == labeled["_er_val"]
    ).select(F.col(key_col).cast("long").alias(key_col), "cluster")
