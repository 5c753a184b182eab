"""Distributed trainable text classifier: logistic regression over
hashed bag-of-words features — the engine-native analogue of the
learned quality filters modern corpus pipelines train (fastText-style
classifiers in CCNet/RefinedWeb, FineWeb-Edu's scored filter): label a
seed set, fit a linear model, score the whole crawl.

Scale shape: features are the same (doc, bucket, count) frame the DSIR
and doc-vector operators use (explode → map-side-combined count on the
uniform md5 bucket key). Full-batch gradient descent, one iteration =
two aggregates over that frame — a doc-keyed margin sum with the
dim-row weight table BROADCAST in, and a bucket-keyed gradient sum —
so the model never exceeds ``dim`` rows, nothing is collected to the
driver, and per-iteration cost is linear in corpus tokens at any
corpus size. Scoring is one broadcast join + one doc-keyed sum.

Determinism: every per-doc and per-bucket quantity is rounded to 9
decimals at each iteration boundary, so the unrolled DuckDB oracle
reproduces the trained weights bit-for-bit at the hash-compare
precision.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sigmoid(m: Column) -> Column:
    return 1.0 / (1.0 + F.exp(-m))


def _term9(prod: Column) -> Column:
    """Scale a margin/gradient addend to an exact BIGINT (×1e9, the
    DSIR fix — corpus.py dsir_log_weights): each per-term PRODUCT is a
    deterministic IEEE double on every engine, but double SUM order is
    not associative — Spark's partial aggregates, the row-local
    array_distinct fold, and DuckDB each add in a different order, so
    round(…,9)/round(…,6) edges could flip between them. Summing the
    per-term longs makes the aggregate order-immune; /1e9 at the end
    restores the 9-decimal value both engines agree on."""
    return F.round(prod * 1e9, 0).cast("long")


def hashed_bucket_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    tf: bool = False,
    engine: str = "arrow",
) -> DataFrame:
    """(id, bucket, c) hashed-unigram counts — the shared feature frame
    (bucket = md5(word) % dim, identical to DSIR / doc-vectors).

    ``tf=True`` length-normalizes: c becomes the bucket's term
    FREQUENCY (count / doc token count, rounded to 9 decimals). Raw
    counts make full-batch GD margins scale with document LENGTH — the
    sigmoid saturates after one step and the model degenerates to a
    near-constant (measured: every sf0.01 doc scored ~0 at lr=1) —
    while tf features bound every margin by max|w|, so training
    actually separates. The normalizing window partitions by the doc
    id (as many keys as rows — no skew).

    ``engine="arrow"`` (default, r12): each document's bucket counts
    (and tf normalization) are assembled in one mapInArrow pass —
    hashlib md5 (== Spark md5) with a per-task word→bucket memo, exact
    int counts, exact c/total division + shortest-repr HALF_UP round —
    collapsing the explode + count shuffle + normalizing window to
    ZERO exchanges (guide §4.2; parity in tests/test_text_arrow.py).
    ``engine="expr"`` keeps the explode/groupBy/window plan."""
    if engine == "arrow":
        return _hashed_bucket_counts_arrow(docs, id_col, text_col, dim, tf)
    from pyspark.sql import Window

    from impresso_ta.operators.dedup import shingle_hash48
    from impresso_ta.operators.partitioning import spread_small_input
    from impresso_ta.operators.text_analysis import tokens

    counts = (
        spread_small_input(docs)
        .select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("word")
        )
        .select(id_col, (shingle_hash48(F.col("word")) % dim).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count("*").alias("c"))
    )
    if not tf:
        return counts
    total = Window.partitionBy(id_col)
    return counts.select(
        id_col,
        "bucket",
        F.round(F.col("c") / F.sum("c").over(total), 9).alias("c"),
    )


def _hashed_bucket_counts_arrow(
    docs: DataFrame, id_col: str, text_col: str, dim: int, tf: bool
) -> DataFrame:
    """Arrow twin of the explode/groupBy/window feature-frame build —
    see :func:`hashed_bucket_counts` (bit parity pinned by tests)."""
    import hashlib
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from impresso_ta.operators.arrowkit import java_tokens
    from impresso_ta.operators.partitioning import spread_small_input

    q9 = Decimal(1).scaleb(-9)
    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("bucket", LongType()),
            StructField("c", DoubleType() if tf else LongType()),
        ]
    )
    arrow_schema = to_arrow_schema(out_schema)
    base = spread_small_input(
        docs.select(F.col(id_col).cast("long").alias(id_col), F.col(text_col))
    )

    def fn(batches):
        memo: dict[str, int] = {}

        def bucket(w: str) -> int:
            b = memo.get(w)
            if b is None:
                if len(memo) > 2_000_000:
                    memo.clear()
                b = (
                    int(hashlib.md5(w.encode("utf-8")).hexdigest()[:12], 16)
                    % dim
                )
                memo[w] = b
            return b

        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            o_id, o_b, o_c = [], [], []
            for i, text in zip(ids, texts):
                if text is None:
                    continue  # explode of NULL tokens emits no rows
                toks = java_tokens(text)
                counts = Counter(bucket(w) for w in toks)
                total = len(toks)
                for b, c in counts.items():
                    o_id.append(i)
                    o_b.append(b)
                    if tf:
                        o_c.append(
                            float(
                                Decimal(repr(c / total)).quantize(
                                    q9, ROUND_HALF_UP
                                )
                            )
                        )
                    else:
                        o_c.append(c)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_id, type=pa.int64()),
                    pa.array(o_b, type=pa.int64()),
                    pa.array(
                        o_c, type=pa.float64() if tf else pa.int64()
                    ),
                ],
                schema=arrow_schema,
            )

    return base.mapInArrow(fn, schema=out_schema)


def lr_hashed_train(
    docs: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    iters: int = 3,
    learn_rate: float = 1.0,
    tf: bool = False,
) -> DataFrame:
    """Fit logistic-regression weights (bucket → w) predicting the
    boolean/0-1 ``label_col`` from hashed-unigram counts, by ``iters``
    full-batch gradient steps from w=0:

        w_b ← w_b + learn_rate · Σ_docs c_db·(y_d − σ(margin_d)) / n

    Returns the dim-row (bucket, w) model. The feature frame is
    persisted once and re-scanned per iteration; the weight table rides
    along as a broadcast — no driver collect at any step. One bounded
    action (a count over the ≤dim-row model) materializes the training
    at the end so every intermediate persist can be released before
    returning — a long-lived session never accumulates feature-frame
    cache from repeated training runs.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    from pyspark import StorageLevel

    # r12: persist the label frame — it is consumed by EVERY iteration's
    # residual join (and the n_row aggregate), and an expensive caller
    # label expression (e.g. the benched interpreted filter+size HOF)
    # otherwise re-evaluates per consumption (~1 s × iters at sf1)
    labeled = docs.select(
        F.col(id_col), F.col(label_col).cast("double").alias("_y")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    db = hashed_bucket_counts(
        docs, id_col=id_col, text_col=text_col, dim=dim, tf=tf
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_row = labeled.agg(F.count("*").cast("double").alias("_n"))

    weights: DataFrame | None = None
    intermediates: list[DataFrame] = []
    for _ in range(iters):
        if weights is None:
            # w = 0 → every margin is 0 → p = 0.5 exactly
            resid = labeled.select(
                id_col, F.round(F.col("_y") - 0.5, 9).alias("_r")
            )
        else:
            margins = (
                db.join(F.broadcast(weights), "bucket")
                .groupBy(id_col)
                .agg(
                    F.round(
                        F.sum(_term9(F.col("c") * F.col("w"))) / 1e9, 9
                    ).alias("_m")
                )
            )
            resid = labeled.join(margins, id_col, "left").select(
                id_col,
                F.round(
                    F.col("_y")
                    - F.round(
                        _sigmoid(F.coalesce(F.col("_m"), F.lit(0.0))), 9
                    ),
                    9,
                ).alias("_r"),
            )
        grad = (
            db.join(resid, id_col)
            .crossJoin(F.broadcast(n_row))
            .groupBy("bucket")
            .agg(
                F.round(
                    F.sum(_term9(F.col("c") * F.col("_r") / F.col("_n")))
                    / 1e9
                    * learn_rate,
                    9,
                ).alias("_g")
            )
        )
        if weights is None:
            weights = grad.select("bucket", F.col("_g").alias("w"))
        else:
            # every training bucket appears in every gradient (resid can
            # be 0 but the (doc,bucket) rows never vanish), so the inner
            # join is total
            weights = weights.join(grad, "bucket").select(
                "bucket",
                F.round(F.col("w") + F.col("_g"), 9).alias("w"),
            )
        weights = weights.persist(StorageLevel.MEMORY_AND_DISK)
        intermediates.append(weights)
    weights.count()  # ≤dim rows: materialize the final model…
    for df in intermediates[:-1]:
        df.unpersist()  # …then drop the per-iteration tables
    db.unpersist()  # and the corpus-sized feature frame
    labeled.unpersist()
    return weights


def lr_hashed_score(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    round_to: int = 6,
    tf: bool = False,
) -> DataFrame:
    """Score docs with a trained (bucket, w) model: adds ``lr_prob``
    (σ of the hashed-feature margin; buckets unseen in training
    contribute 0). ``tf`` must match what the model was trained with.
    One broadcast join + one doc-keyed sum — the crawl-scale path: the
    corpus is scanned once, never joined to itself."""
    db = hashed_bucket_counts(
        docs, id_col=id_col, text_col=text_col, dim=dim, tf=tf
    )
    margins = (
        db.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(_term9(F.col("c") * F.col("w"))) / 1e9, 9
            ).alias("_m")
        )
    )
    return (
        docs.join(margins, id_col, "left")
        .withColumn(
            "lr_prob",
            F.round(_sigmoid(F.coalesce(F.col("_m"), F.lit(0.0))), round_to),
        )
        .drop("_m")
    )


def lr_hashed_score_rowlocal(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    round_to: int = 6,
    tf: bool = True,
) -> DataFrame:
    """Stateless scoring form for STREAMING frames (and any batch frame
    that prefers zero shuffles): ``lr_hashed_score``'s explode →
    groupBy margin is a streaming AGGREGATION — state store + watermark
    — but the model is ≤dim rows, so the whole weight table folds into
    a ONE-ROW map column that crossJoins onto the stream as a
    stream-static broadcast, and the margin is computed row-locally
    with array expressions (bucket the tokens, count per distinct
    bucket, look each bucket up in the map). No shuffle, no state, no
    driver collect; same 9/6-decimal rounding discipline as the batch
    form (parity-tested).

    Per-row cost is O(tokens log tokens): one md5 per token, one sort
    of the bucket array, one linear fold. (The r11 form counted each
    DISTINCT bucket with a filter+size scan over the bucket array —
    O(distinct_buckets × tokens) — and, worse, every one of those ≤dim
    scans embedded its OWN copy of the md5 transform subtree, because
    higher-order-function lambdas are interpreted with no common-
    subexpression elimination: the md5 ran distinct_buckets× per token.
    Measured at sf1 on the train+score benchmark query: 38.9 s → 15.7 s
    isolated, bit-identical margins; the residual is the unchanged
    shared trainer.)
    """
    from impresso_ta.operators.dedup import shingle_hash48
    from impresso_ta.operators.text_analysis import tokens

    wmap_row = weights.agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "w"))
        ).alias("_wmap")
    )
    toks = tokens(F.col(text_col))
    # Materialized as real columns (one Project each) so the md5
    # transform is evaluated ONCE per row: CollapseProject will not
    # inline a non-cheap alias referenced more than once, and the fold
    # below references _bk once and _n per flush.
    sorted_buckets = F.array_sort(
        F.transform(toks, lambda t: shingle_hash48(t) % dim)
    )

    def term9(b: Column, c: Column) -> Column:
        # identical per-bucket term as the r11 form: feat is the
        # 9-rounded tf (or the raw count), the product is scaled to an
        # exact BIGINT (_term9) so the sum is order-immune — which is
        # what licenses folding in sorted-bucket order instead of
        # array_distinct order.
        feat = (
            F.round(c / F.col("_n"), 9) if tf else c.cast("double")
        )
        return _term9(F.coalesce(F.col("_wmap")[b], F.lit(0.0)) * feat)

    # One linear fold over the SORTED bucket array: equal buckets are
    # adjacent, so a (prev, run-count, acc) accumulator flushes each
    # bucket's term exactly once, when the value changes (and once more
    # in finish for the last run). Buckets are non-negative, so -1 is a
    # safe "no previous" sentinel.
    init = F.struct(
        F.lit(-1).cast("long").alias("prev"),
        F.lit(0).cast("long").alias("c"),
        F.lit(0).cast("long").alias("acc"),
    )

    def merge(st: Column, b: Column) -> Column:
        same = st["prev"] == b
        return F.struct(
            b.cast("long").alias("prev"),
            F.when(same, st["c"] + 1).otherwise(F.lit(1).cast("long")).alias("c"),
            F.when(same, st["acc"])
            .otherwise(st["acc"] + term9(st["prev"], st["c"]))
            .alias("acc"),
        )

    def finish(st: Column) -> Column:
        return F.when(
            st["prev"] >= 0, st["acc"] + term9(st["prev"], st["c"])
        ).otherwise(st["acc"])

    # first flush fires with prev == -1, c == 0: feat is 0 (or 0.0/n),
    # so the term is round(w_missing·0·1e9) = 0 — harmless by
    # construction, keeping the merge branch-free.
    margin = F.round(
        F.aggregate(F.col("_bk"), init, merge, finish) / 1e9, 9
    )
    scored = (
        docs.crossJoin(F.broadcast(wmap_row))
        .withColumn("_n", F.size(tokens(F.col(text_col))))
        .withColumn("_bk", sorted_buckets)
        .withColumn(
            "lr_prob",
            F.round(_sigmoid(F.coalesce(margin, F.lit(0.0))), round_to),
        )
    )
    return scored.drop("_wmap", "_n", "_bk")
