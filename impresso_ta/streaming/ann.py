"""Continuous IVF-index ingest as Structured Streaming (SURVEY §2.9
extension; completes the ANN serving story: build → serve → maintain →
**continuously ingest**).

The batch recipe ``ivf_topk_indexed``'s docstring documents — "assign a
NEW batch with the same FROZEN centroids and append to the store" — is
here run as a live stream over a vector drop zone: each micro-batch is
cell-assigned map-side (``ivf_assign`` — no shuffle of the batch beyond
the one-file-per-cell layout repartition) and committed under its OWN
``batch=N`` partition, so a crash-replayed micro-batch overwrites
exactly its own output and the store never holds duplicates (the
``stream_incremental_dedup`` / ``stream_rebuild_solr`` exactly-once
discipline; ref semantics: the reference's incremental mode is a batch
re-run with an anti-join, generic_importer.py:240-249 — checkpointed
file-source offsets replace that skip-list here).

Store layout and its consumers:

- staging layout ``{store}/batch=N/cell=K/part-*.parquet`` — BOTH
  levels are partition columns, so ``ivf_topk_indexed`` serves the
  staging store DIRECTLY: the static cell-pruning filter prunes leaf
  directories on ``cell`` regardless of the extra ``batch`` level
  (metric-tested — numFiles < store total), and results are
  bit-identical to ``ivf_topk`` over the drained corpus because the
  centroids are frozen (parity-tested).
- per-cell file count grows by ≤1 per micro-batch that touches the
  cell. Freshness-critical serving reads the staging store as-is;
  when fragmentation matters more than the last batch's latency,
  :func:`impresso_ta.operators.similarity.publish_ivf_store`
  snapshot-rewrites the staging store into the canonical flat
  one-file-per-cell layout (idempotent full overwrite — the
  crash-safe form without a transaction-log table format), where
  ``compact_ivf_index`` maintenance applies.

At 100 TB the same shape holds: the stream is partitioned by arrival
(file-source offsets), each trigger's work is batch-proportional
(assignment is map-side against an nlist-bounded broadcast/literal
centroid set), and the store's query cost is governed by cell pruning,
not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

VECTOR_SCHEMA = "vec_id long, embedding array<float>, label int"


def stream_ivf_ingest(
    spark: SparkSession,
    in_path: str,
    store_path: str,
    centroids: list[tuple[int, list[float]]],
    checkpoint: str,
    schema: str = VECTOR_SCHEMA,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    max_files_per_trigger: int = 32,
    codebook=None,
):
    """Drain a parquet vector drop zone into a ``batch=N/cell=K``
    staging IVF store with frozen ``centroids``.

    Exactly-once across crashes: each micro-batch writes ONLY
    ``{store_path}/batch={batch_id}`` with ``mode="overwrite"`` — a
    replayed batch id rewrites its own partition idempotently, and a
    half-written partition from a crashed attempt is replaced wholesale
    on replay. ``centroids`` must stay frozen for the store's lifetime
    (the ``ivf_topk_indexed`` contract); re-clustering is a publish-time
    event, not a streaming one.

    ``codebook`` (optional, FROZEN like the centroids) switches the
    staging store to PQ CODES: each micro-batch is assigned AND encoded
    in the same zero-shuffle scan-project (``ivf_pq_index_frame``), so
    the continuously-ingested store carries the measured ~40× bytes
    lever from the first trigger — serve it with
    ``ivf_pq_topk_indexed`` using the same frozen centroids + codebook
    (parity-tested).
    """
    from impresso_ta.operators.pq import ivf_pq_index_frame
    from impresso_ta.operators.similarity import ivf_assign

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        assigned = (
            ivf_pq_index_frame(
                batch, centroids, codebook, id_col=id_col, vec_col=vec_col
            )
            if codebook is not None
            else ivf_assign(batch, centroids, id_col=id_col, vec_col=vec_col)
        )
        (
            assigned.repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{store_path}/batch={batch_id}")
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_path)
    )
    writer = (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
