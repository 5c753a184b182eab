"""kNN label classification over embedding columns (``array<float>``).

Each query vector takes the majority label of its k nearest labeled
corpus vectors by cosine similarity — the embedding-classifier
primitive (domain/topic/quality tagging of a corpus from a small
labeled seed set). Dot products stay JVM-side via zip_with + aggregate
(no Python, no UDF); ranking and the vote are windows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from impresso_ta.operators.partitioning import spread_small_input


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ left-to-right in double — JVM higher-order fns, no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (not an ANSI DIVIDE_BY_ZERO error) when
    either vector has zero norm, so a degenerate embedding ranks last
    instead of killing the job."""
    return F.try_divide(_dot(a, b), F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 4,
) -> DataFrame:
    """kNN label assignment: one row per query with its predicted label.

    The label rides along with the corpus scan, so the big side is read
    once, never joined back or shuffled by key: broadcast queries,
    per-query top-k window over (n_queries × corpus) scored rows that
    aggregate down to n_queries × k before the vote. Neighbor order is
    (cosine desc, neighbor id asc); vote tie-breaks are total: (votes
    desc, summed similarity desc, label asc). Similarities are rounded
    before summing, and the sum rounded again, so the vote key is
    engine-portable.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = spread_small_input(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("_label"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        "_label",
        F.round(_cosine(F.col("qv"), F.col("cv")), round_to).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    votes = topk.groupBy("query_id", "_label").agg(
        F.count("*").cast("long").alias("n_votes"),
        F.round(F.sum("cosine"), round_to).alias("sim_sum"),
    )
    vw = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.desc("sim_sum"), F.asc("_label")
    )
    return (
        votes.withColumn("_r", F.row_number().over(vw))
        .filter(F.col("_r") == 1)
        .select(
            "query_id",
            F.col("_label").alias("pred_label"),
            "n_votes",
            "sim_sum",
        )
    )
