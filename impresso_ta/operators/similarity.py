"""Similarity search over embedding columns (``array<float>``).

Generalizes the reference's fuzzy candidate search (SURVEY X11,
ref: fedgaz/classes.py:242-345) to vector similarity:

- ``cosine_topk``: brute-force exact top-k — broadcast the (small) query
  set against the corpus; dot products stay JVM-side via zip_with +
  aggregate (no Python, no UDF), ranking via window.
- ``lsh_bucketed_topk``: random-hyperplane LSH variant — corpus and
  queries hashed into sign-pattern buckets; only same-bucket pairs are
  scored. The scale path: the corpus side shuffles once on bucket id and
  each query probes its bucket — candidate volume ∝ corpus/2^bits.
- ``ivf_assign`` / ``ivf_refine`` / ``ivf_topk``: inverted-file (IVF)
  index — corpus partitioned into Voronoi cells of a small centroid set,
  queries probe only the ``nprobe`` nearest cells. Centroids live on the
  driver and are baked into the plan as literals (the same broadcast
  pattern Spark MLlib KMeans uses), so cell ASSIGNMENT is a pure
  map-side expression: zero shuffle over the corpus. Lloyd refinement is
  one groupBy whose shuffle carries only nlist×dims partial averages.

At 100 TB the corpus side is the big table: all paths avoid shuffling it
by key (broadcast join / bucket-pruned join / literal-centroid argmax)
and prune columns to (id, vector) at the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from impresso_ta.operators.partitioning import spread_small_input


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ left-to-right in double — JVM higher-order fns, no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (not an ANSI DIVIDE_BY_ZERO error) when
    either vector has zero norm — a degenerate embedding then simply
    never crosses any similarity threshold (comparisons with NULL are
    never true), instead of killing the job."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


#: auto-router threshold: corpora whose estimated scan size is below
#: this stay on the JVM expression engine (the Python boundary's FIXED
#: cost dominates tiny pair volumes); above it the Arrow scorer wins
#: (interpreted-lambda cost grows with pair volume, the boundary cost
#: does not). Conf-overridable: spark.impresso_ta.brute.arrowMinBytes.
_AUTO_ARROW_MIN_BYTES = 64 * 1024 * 1024


def _brute_engine_auto(corpus: DataFrame) -> str:
    """Route the brute cosine scorer by the corpus' OPTIMIZER SIZE
    ESTIMATE (plan stats — free, no job; for a parquet scan this is the
    file bytes, ~8 MB at sf1's 20k×64-dim embeddings).

    r13 evidence (interleaved same-session min-of-4, k=3/5-query shape):
    sf0.1 expr 0.507 s vs arrow 0.65, sf1 expr 0.541 vs arrow 0.701 —
    at small-m/small-corpus shapes the JVM form wins by the boundary's
    fixed cost; the r12 §8 arrow wins came from LARGE pair volumes
    (mining shapes with hundreds of queries), whose call sites pass
    ``engine="arrow"`` explicitly. Filters do NOT shrink the estimate
    (no CBO column stats), so the route is conservative toward "arrow"
    exactly when the corpus files are big — the 100 TB posture."""
    try:
        est = int(
            str(corpus._jdf.queryExecution().optimizedPlan().stats()
                .sizeInBytes())
        )
    except Exception:
        return "arrow"
    thr = int(
        corpus.sparkSession.conf.get(
            "spark.impresso_ta.brute.arrowMinBytes",
            str(_AUTO_ARROW_MIN_BYTES),
        )
    )
    return "expr" if est < thr else "arrow"


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    engine: str = "auto",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Broadcast the query set (must be small); corpus is scanned once, never
    shuffled — only the (n_queries × k) result aggregates.
    Deterministic ordering: (cosine desc, neighbor id asc).

    ``engine="auto"`` (default, r13): route by the corpus' estimated
    scan size (:func:`_brute_engine_auto`) — ``expr`` below ~64 MB
    (conf-overridable), ``arrow`` above. Both engines are bit-identical
    (tests/test_cosine_arrow.py), so the route can never change a
    result, only its plan. ``engine="arrow"`` forces the r12
    ``cosine_arrow.brute_scored_arrow`` numpy scorer (the right call
    when the QUERY set is large — pair volume is corpus×queries and
    the estimate only sees the corpus); ``engine="expr"`` forces the
    pure JVM broadcast cross join.
    """
    if engine == "auto":
        engine = _brute_engine_auto(corpus)
    if engine == "arrow":
        from impresso_ta.operators.cosine_arrow import brute_scored_arrow

        scored = brute_scored_arrow(
            corpus, queries, id_col=id_col, vec_col=vec_col,
            round_to=round_to,
        )
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
        c = spread_small_input(corpus).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        )
        scored = c.crossJoin(F.broadcast(q)).select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), round_to).alias(
                "cosine"
            ),
        )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 4,
    engine: str = "arrow",
) -> DataFrame:
    """Hard-negative mining for contrastive / metric training: per query
    vector, the top-k most similar corpus vectors with a DIFFERENT
    label — the "close but wrong" examples a contrastive loss learns
    the most from (easy negatives are already far away; same-label
    neighbors are positives, not negatives).

    Plan shape = ``cosine_topk`` with the label-inequality predicate
    fused into the broadcast cross join: queries (small by contract)
    broadcast, corpus scanned ONCE and never shuffled, per-query top-k
    via window over (n_queries × survivors). Self-pairs are excluded by
    id. NULL labels never participate (SQL three-valued logic on ``<>``
    — same semantics in the DuckDB oracle).

    Deterministic ordering: (cosine desc, neighbor id asc). Returns
    (query_id, neighbor_id, cosine, rank).

    ``engine="arrow"`` (default, r12): scored frame from
    ``cosine_arrow.brute_scored_arrow`` with the label-inequality
    applied on the returned ``_same`` boolean (identical three-valued
    logic); ``engine="expr"`` keeps the JVM cross join. Bit parity in
    tests/test_cosine_arrow.py.
    """
    if engine == "arrow":
        from impresso_ta.operators.cosine_arrow import brute_scored_arrow

        scored = (
            brute_scored_arrow(
                corpus, queries, id_col=id_col, vec_col=vec_col,
                label_col=label_col, round_to=round_to, exclude_self=True,
            )
            .where(~F.col("_same"))
            .drop("_same")
        )
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.col(label_col).alias("_qlabel"),
        )
        c = spread_small_input(corpus).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            F.col(label_col).alias("_clabel"),
        )
        scored = (
            c.crossJoin(F.broadcast(q))
            .where(
                (F.col("_clabel") != F.col("_qlabel"))
                & (F.col("neighbor_id") != F.col("query_id"))
            )
            .select(
                "query_id",
                "neighbor_id",
                F.round(cosine(F.col("qv"), F.col("cv")), round_to).alias(
                    "cosine"
                ),
            )
        )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hard_negatives_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    nlist: int = 8,
    nprobe: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 4,
    cell_salt: int | None = None,
) -> DataFrame:
    """The scale path for ``hard_negatives``: candidates come from each
    anchor's ``nprobe`` nearest IVF cells instead of the whole corpus —
    candidate volume ~corpus·nprobe/nlist, the same pruning contract as
    ``ivf_topk`` (full probe nprobe=nlist is EXHAUSTIVE and equals the
    brute form exactly — that identity is the oracle). Use this when
    every corpus row is an anchor: the brute broadcast cross join is
    |corpus|·|anchors| and dies at full-corpus mining scale.

    Scale shape: the label rides THROUGH the assignment (``ivf_assign``
    extra_cols — no corpus self-join to re-attach it), the probe table
    is NOT broadcast-hinted (AQE broadcasts it when the anchor set is
    small and shuffles on ``cell`` when the anchors ARE the corpus — a
    forced broadcast at that scale is a driver OOM, not an
    optimization), and the label-inequality predicate is fused into the
    cell join. Same determinism discipline throughout (rounded scores
    before ranking, id tie-breaks). Returns (query_id, neighbor_id,
    cosine, rank).

    Parallelism bound: when AQE picks the shuffle join, its key domain
    is only ``nlist`` values — at most nlist tasks do the scoring, and
    a hot cell straggles unless AQE's skew-join thresholds trigger.
    Pass ``cell_salt=S`` to sub-bucket each cell S ways (corpus side
    salted deterministically by id, probe side replicated S× — output-
    identical, tested); size S ~ cores/nlist when nlist is small
    relative to the cluster.
    """
    seed_rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(id_col)
        .limit(nlist)
        .collect()
    )
    centroids = [(int(r[id_col]), list(r[vec_col])) for r in seed_rows]
    assigned = ivf_assign(
        corpus.withColumn("_clabel", F.col(label_col)),
        centroids,
        id_col,
        vec_col,
        round_to,
        extra_cols=["_clabel"],
    )
    if len(centroids) <= LITERAL_MAX_NLIST:
        strategy = "literal"
    else:
        strategy = "broadcast"
    return _ivf_probe_rank(
        assigned,
        queries,
        centroids,
        nprobe,
        k,
        id_col,
        vec_col,
        round_to,
        strategy,
        query_cols={"_qlabel": F.col(label_col)},
        pair_filter=(
            (F.col("_clabel") != F.col("_qlabel"))
            & (F.col(id_col) != F.col("query_id"))
        ),
        broadcast_probes=False,
        cell_salt=cell_salt,
    )


def _carve_triplets(
    scored: DataFrame,
    k_pos: int,
    k_neg: int,
    round_to: int,
    semi_hard: bool,
    cache: bool = True,
    pin: bool = True,
) -> DataFrame:
    """Shared triplet carve over a scored candidate frame
    (anchor_id, cand_id, _same BOOLEAN, _cos) — used by
    ``training_triplets`` (brute candidates), ``training_triplets_ivf``
    (probed-cell candidates) and ``training_triplets_lsh`` (bucket
    candidates).

    Default mode: k_pos nearest positives x k_neg nearest negatives
    per anchor — carved in ONE pass over ``scored``: both sides
    survive the same window filter, fold into per-anchor positive/
    negative arrays (bounded at k_pos + k_neg structs), and the
    per-anchor cross product is an explode of those arrays. No
    self-join, so the expensive scoring subtree is evaluated exactly
    once (the r10 form carved pos and neg as two filters joined on
    anchor_id — Spark evaluated the scored cross join once PER SIDE,
    the same recomputation class the jaccard persist fix retired).

    ``semi_hard`` (FaceNet, Schroff et al. 2015): per (anchor,
    positive), the k_neg HARDEST negatives that are still EASIER than
    the positive (neg_cos < pos_cos) — the band that trains without
    collapsing the embedding. Margin > 0 by construction; an (anchor,
    positive) whose every candidate negative is harder than the
    positive yields no row (callers wanting the hardest-overall
    fallback union the default mode's output). The band filter cannot
    be pre-cut to a fixed top-k (every negative easier than the
    positive is a candidate) — but NO unfiltered window is needed
    either, and that is where the r10 cost lived: it carved both
    sides out of one fully-ranked frame, and the negatives side
    consumed the window WITHOUT a rank filter, which disqualified
    Spark's WindowGroupLimit rewrite and forced a full sort+window
    over every scored candidate (measured at sf1: ~10 s of the
    20.1 s total for a 3.7 s scoring pass). Here every window is
    rank-FILTERED, so both group-limit (top-k heap, map-side partial
    prune before the exchange — no full sort materialization):
    positives rank over the positives-only subset (top k_pos per
    anchor), negatives take NO window at all (straight off
    ``scored``), and the per-(anchor, positive) band rank runs over
    the joined fan-out with its ``<= k_neg`` cut in place.

    ``cache`` (default on) materializes ``scored`` once via lazy
    ``localCheckpoint`` (both carve sides hang off it; blocks are
    ContextCleaner-freed when the frame is GC'd). The frame is
    candidate-volume-sized: cell/bucket-bounded for the IVF/LSH
    miners, |corpus|×|anchors| for the brute form — pass
    ``cache=False`` there if that exceeds executor storage and eat
    one recomputation.

    NULL labels never rank on either side in either mode (``_same``
    is NULL and every carve predicate is null-rejecting)."""
    from pyspark.sql.window import Window

    if semi_hard:
        if cache:
            # EAGER checkpoint FIRST: the two carve sides are
            # independent shuffle-map stages that run CONCURRENTLY — a
            # lazy checkpoint lets both compute the not-yet-
            # materialized scoring RDD (the race measured as ~2x
            # scoring cost in executed-plan stage times); eager
            # materializes it in its own job, so both stages read
            # blocks. Runs a Spark job at CALL time, not at the
            # caller's first action.
            scored = scored.localCheckpoint(eager=True)
        # THEN an explicit repartition on the anchor key, partition
        # count PINNED to the session's shuffle parallelism. Two
        # reasons, both measured at sf1: (a) the checkpoint's
        # LogicalRDD drops partitioning info, so without this each
        # branch inserts its own ENSURE_REQUIREMENTS exchange; (b) the
        # session coalesces post-shuffle partitions by SIZE
        # (parallelismFirst=false — right for IO-bound stages), and
        # this frame is ~25 B/row compressed with CPU-dense
        # sort+window downstream — 64 MB of advisory size is millions
        # of rows on ONE core (the coalesced band stage hid ~8 s of
        # single-threaded join+sort). AQE never coalesces a user
        # repartition with an explicit count, and
        # hashpartitioning(anchor) satisfies every downstream
        # clustering (positives window, the join's streamed side, the
        # per-(anchor, positive) band window), so this is the ONLY
        # exchange the carve pays. Together: 20.1 s -> 5.9 s at sf1.
        n_parts = int(
            scored.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        scored = scored.repartition(n_parts, "anchor_id")
        pw = Window.partitionBy("anchor_id").orderBy(
            F.desc("_cos"), F.asc("cand_id")
        )
        pos = (
            scored.where(F.col("_same"))
            .withColumn("_rk", F.row_number().over(pw))
            .where(F.col("_rk") <= k_pos)
            .select(
                "anchor_id",
                F.col("cand_id").alias("positive_id"),
                F.col("_cos").alias("pos_cos"),
            )
        )
        negs = scored.where(~F.col("_same")).select(
            "anchor_id",
            F.col("cand_id").alias("negative_id"),
            F.col("_cos").alias("neg_cos"),
        )
        # rank negatives per (anchor, POSITIVE) after the easier-than-
        # positive filter: the global top-k_neg cut cannot be reused
        # because all of its survivors may be harder than the positive
        # while semi-hard candidates rank below them
        sw = Window.partitionBy("anchor_id", "positive_id").orderBy(
            F.desc("neg_cos"), F.asc("negative_id")
        )
        return (
            pos.join(negs, "anchor_id")
            .where(F.col("neg_cos") < F.col("pos_cos"))
            .withColumn("_srk", F.row_number().over(sw))
            .where(F.col("_srk") <= k_neg)
            .select(
                "anchor_id",
                "positive_id",
                "negative_id",
                "pos_cos",
                "neg_cos",
                F.round(
                    F.col("pos_cos") - F.col("neg_cos"), round_to
                ).alias("margin"),
            )
        )
    if pin:
        # hash(anchor) satisfies the window's (anchor, _same) clustering
        # AND the fold's groupBy(anchor) — one uncoalesced exchange
        # replaces both ENSURE_REQUIREMENTS shuffles (callers that
        # already deliver an anchor-clustered frame pass pin=False)
        scored = _pin_parallelism(scored, "anchor_id")
    w = Window.partitionBy("anchor_id", "_same").orderBy(
        F.desc("_cos"), F.asc("cand_id")
    )
    ranked = scored.withColumn("_rk", F.row_number().over(w))
    carved = ranked.where(
        (F.col("_same") & (F.col("_rk") <= k_pos))
        | (~F.col("_same") & (F.col("_rk") <= k_neg))
    )
    folded = (
        carved.groupBy("anchor_id")
        .agg(F.collect_list(F.struct("_same", "cand_id", "_cos")).alias("_c"))
        .select(
            "anchor_id",
            F.filter("_c", lambda s: s["_same"]).alias("_p"),
            F.filter("_c", lambda s: ~s["_same"]).alias("_n"),
        )
    )
    return (
        folded.select("anchor_id", F.explode("_p").alias("_pp"), "_n")
        .select(
            "anchor_id",
            F.col("_pp.cand_id").alias("positive_id"),
            F.col("_pp._cos").alias("pos_cos"),
            F.explode("_n").alias("_nn"),
        )
        .select(
            "anchor_id",
            "positive_id",
            F.col("_nn.cand_id").alias("negative_id"),
            "pos_cos",
            F.col("_nn._cos").alias("neg_cos"),
            F.round(F.col("pos_cos") - F.col("_nn._cos"), round_to).alias(
                "margin"
            ),
        )
    )


def training_triplets_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    nlist: int = 8,
    nprobe: int = 2,
    k_pos: int = 2,
    k_neg: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 4,
    semi_hard: bool = False,
    cache: bool = True,
) -> DataFrame:
    """The scale path for ``training_triplets``: candidates for BOTH the
    positive (same-label) and negative (different-label) sides come
    from each anchor's ``nprobe`` nearest IVF cells — one cell
    equi-join feeds both windows, exactly mirroring how the brute form
    carves both sides out of one scored cross join. Candidate volume
    ~corpus·nprobe/nlist; the brute form is |corpus|·|anchors| and
    dies when every corpus row is an anchor.

    Same discipline as ``hard_negatives_ivf``: the label rides THROUGH
    the assignment (``ivf_assign`` extra_cols — no corpus self-join),
    the probe table is not broadcast-hinted (AQE decides; a forced
    broadcast of corpus-sized anchors is a driver OOM), full probe
    (nprobe=nlist) is EXHAUSTIVE and equals ``training_triplets``
    bit-for-bit — that identity is the oracle. NULL labels never rank
    on either side (``_same`` is NULL, and both carve predicates are
    null-rejecting — the brute form's semantics). ``cache`` applies
    only to ``semi_hard`` (see ``_carve_triplets`` — here the
    materialized frame is cell-bounded: ~corpus·nprobe/nlist rows of
    four narrow columns). Returns (anchor_id, positive_id,
    negative_id, pos_cos, neg_cos, margin).
    """
    seed_rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(id_col)
        .limit(nlist)
        .collect()
    )
    centroids = [(int(r[id_col]), list(r[vec_col])) for r in seed_rows]
    assigned = ivf_assign(
        corpus.withColumn("_clabel", F.col(label_col)),
        centroids,
        id_col,
        vec_col,
        round_to,
        extra_cols=["_clabel"],
    )
    strategy = (
        "literal" if len(centroids) <= LITERAL_MAX_NLIST else "broadcast"
    )
    probes = _probe_frame(
        corpus.sparkSession, queries, centroids, nprobe,
        id_col, vec_col, round_to, strategy,
        query_cols={"_qlabel": F.col(label_col)},
    )
    scored = (
        assigned.withColumn("_cnorm", norm(F.col(vec_col)))
        .join(probes, "cell")
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            F.col("query_id").alias("anchor_id"),
            F.col(id_col).alias("cand_id"),
            (F.col("_clabel") == F.col("_qlabel")).alias("_same"),
            F.round(
                dot(F.col("qv"), F.col(vec_col))
                / (F.col("_qnorm") * F.col("_cnorm")),
                round_to,
            ).alias("_cos"),
        )
    )
    return _carve_triplets(scored, k_pos, k_neg, round_to, semi_hard, cache)


def hard_negatives_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    plane_sets: list[list[list[float]]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 4,
    broadcast_queries: bool = True,
) -> DataFrame:
    """The beyond-IVF scale path for ``hard_negatives``: candidates come
    from multi-probe hyperplane-LSH buckets instead of Voronoi cells —
    bucket assignment is ROW-LOCAL in n·bits·dims (no Θ(n·nlist)
    centroid scoring), which is the documented router boundary past
    ``IVF_MAX_VECTORS`` (the 100× scale probe measured the Voronoi
    assignment 34-43× superlinear with corpus-sized nlist, and the IVF
    mining curve dominated by exactly that assignment at 100×). Same
    plan shape as ``multiprobe_lsh_topk`` with the mining predicates fused into the
    bucket joins: different-label only, self-pairs excluded, recall
    compounds as 1-Π(1-rᵢ) per added plane table while the corpus is
    scanned once (all probe tables hang off the same scan).

    ``broadcast_queries=False`` for corpus-sized anchor sets (the
    mining regime): the bucket join shuffles on (table, bucket) — a
    2^n_planes·n_tables key domain, the same bounded-parallelism note
    as ``hard_negatives_ivf``'s cell join; size n_planes so
    2^n_planes ≳ cores.

    Determinism discipline as everywhere in this module: plane sets
    from ``deterministic_plane_sets`` (engine-portable Weyl
    coefficients — the DuckDB oracle inlines identical constants),
    scores rounded before ranking, (cosine desc, id asc) tie-break.
    Returns (query_id, neighbor_id, cosine, rank).
    """
    if not plane_sets:
        raise ValueError("plane_sets must be non-empty")
    spread = spread_small_input(corpus)
    parts = []
    for planes in plane_sets:
        bq = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.col(label_col).alias("_qlabel"),
            hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
        )
        bc = spread.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            F.col(label_col).alias("_clabel"),
            hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
        )
        if not broadcast_queries:
            # the mining regime's bucket join shuffles BOTH sides on a
            # 2^n_planes key domain; the compressed exchanges sit under
            # the AQE advisory size and coalesce to ~1 task, making the
            # in-join scoring single-threaded — pin them (serving keeps
            # the broadcast plan: no corpus exchange to pin)
            bc = _pin_parallelism(bc, "bucket")
            bq = _pin_parallelism(bq, "bucket")
        joined = bc.join(
            F.broadcast(bq) if broadcast_queries else bq, "bucket"
        ).where(
            (F.col("_clabel") != F.col("_qlabel"))
            & (F.col("neighbor_id") != F.col("query_id"))
        )
        # score INSIDE the join projection (row-local, JVM) so the
        # cross-table dedup shuffles (query_id, neighbor_id, cosine) —
        # 24 bytes/row — instead of dragging both 64-float vectors
        # through the exchange. Measured at the 100x probe tier: the
        # array-carrying dedup shuffled ~8 GB and cost 182 s; the
        # narrow form is ~20x less shuffle for the same output (cosine
        # is a deterministic function of the pair, so re-scoring a
        # pair found by both tables yields identical rows and
        # dropDuplicates keeps exactly one).
        parts.append(
            joined.select(
                "query_id",
                "neighbor_id",
                F.round(
                    cosine(F.col("qv"), F.col("cv")), round_to
                ).alias("cosine"),
            )
        )
    cand = parts[0]
    for part in parts[1:]:
        cand = cand.unionByName(part)
    # ONE pinned exchange serves the dedup (hash(query_id) satisfies
    # the (query_id, neighbor_id) clustering) AND the rank window —
    # no ENSURE_REQUIREMENTS exchange is left for AQE to coalesce
    scored = _pin_parallelism(cand, "query_id").dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def training_triplets_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    plane_sets: list[list[list[float]]],
    k_pos: int = 2,
    k_neg: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 4,
    semi_hard: bool = False,
    broadcast_queries: bool = True,
    cache: bool = True,
) -> DataFrame:
    """The beyond-IVF scale path for ``training_triplets`` —
    completing the mining family symmetry (``hard_negatives`` has
    brute/IVF/LSH tiers; this gives triplets the same third tier):
    candidates for BOTH the positive and negative carve come from
    multi-probe hyperplane-LSH buckets, whose assignment is ROW-LOCAL
    in n·bits·dims — no Θ(n·nlist) Voronoi scoring, the term the
    measured mining curve shows dominating ``training_triplets_ivf`` at the 100× tier exactly as
    it dominated ``hard_negatives_ivf`` before ``hard_negatives_lsh``
    routed around it.

    Plan shape = ``hard_negatives_lsh`` feeding ``_carve_triplets``:
    per plane table the corpus and anchors hash to sign-pattern
    buckets and join on the bucket (self-pairs excluded; NO label
    predicate in the join — both label sides are carve candidates),
    the (_same, cosine) pair is computed INSIDE the join projection so
    the cross-table dedup shuffles ~25-byte rows instead of two
    64-float vectors (the measured 182→108.8 s fix on the
    hard-negative twin), and the deduped candidates go through the
    shared one-pass carve. ``semi_hard`` composes exactly as in the
    other miners (``cache`` materializes the ranked frame once there;
    the frame is bucket-bounded: ~|anchors|·n_tables·n/2^bits rows).

    ``broadcast_queries=False`` for corpus-sized anchor sets (the
    mining regime): the bucket join shuffles on (bucket) per table —
    size n_planes so 2^n_planes ≳ cores, the bounded-parallelism note
    of ``hard_negatives_lsh``.

    Exactness contract: a single plane table with ZERO planes puts
    everything in bucket 0 — candidates are exhaustive and the output
    equals brute ``training_triplets`` bit-for-bit (tested). With
    real plane sets the candidate set is the recall-compounding union
    over tables (1-Π(1-rᵢ)); determinism discipline as everywhere:
    ``deterministic_plane_sets`` Weyl coefficients make the DuckDB
    twin EXACT, scores rounded before ranking, id tie-breaks.
    Returns (anchor_id, positive_id, negative_id, pos_cos, neg_cos,
    margin).
    """
    if not plane_sets:
        raise ValueError("plane_sets must be non-empty")
    spread = spread_small_input(corpus)
    parts = []
    for planes in plane_sets:
        bq = queries.select(
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).alias("qv"),
            F.col(label_col).alias("_qlabel"),
            hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
        )
        bc = spread.select(
            F.col(id_col).alias("cand_id"),
            F.col(vec_col).alias("cv"),
            F.col(label_col).alias("_clabel"),
            hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
        )
        if not broadcast_queries:
            # mining-regime join parallelism pin — see hard_negatives_lsh
            bc = _pin_parallelism(bc, "bucket")
            bq = _pin_parallelism(bq, "bucket")
        joined = bc.join(
            F.broadcast(bq) if broadcast_queries else bq, "bucket"
        ).where(F.col("cand_id") != F.col("anchor_id"))
        parts.append(
            joined.select(
                "anchor_id",
                "cand_id",
                (F.col("_clabel") == F.col("_qlabel")).alias("_same"),
                F.round(
                    cosine(F.col("qv"), F.col("cv")), round_to
                ).alias("_cos"),
            )
        )
    cand = parts[0]
    for part in parts[1:]:
        cand = cand.unionByName(part)
    # _same and _cos are deterministic functions of the pair, so a pair
    # found by several tables dedupes to exactly one identical row; the
    # pinned exchange (hash(anchor) satisfies the dedup's clustering)
    # keeps the dedup AND the carve windows at full parallelism
    scored = _pin_parallelism(cand, "anchor_id").dropDuplicates(
        ["anchor_id", "cand_id"]
    )
    return _carve_triplets(
        scored, k_pos, k_neg, round_to, semi_hard, cache, pin=False
    )


def training_triplets(
    corpus: DataFrame,
    queries: DataFrame,
    k_pos: int = 2,
    k_neg: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 4,
    semi_hard: bool = False,
    cache: bool = True,
    engine: str = "arrow",
) -> DataFrame:
    """Triplet assembly for metric learning: per anchor, the k_pos
    nearest SAME-label vectors (positives) crossed with the k_neg
    nearest DIFFERENT-label vectors (hard negatives, see
    ``hard_negatives``) — the (anchor, positive, negative) rows a
    triplet/contrastive loss consumes, with ``margin`` = pos_cos −
    neg_cos exposed so a trainer can keep only violating triplets
    (margin below the loss margin) without recomputing similarities.

    Plan: ONE broadcast cross join scores every (corpus, anchor) pair
    and both ranked sides are carved out of it in a single pass
    (window filter -> per-anchor fold -> explode of the k_pos × k_neg
    cross — see ``_carve_triplets``), so the scored subtree is
    evaluated exactly once. Determinism: same rounding and (cosine
    desc, id asc) tie-break as every similarity oracle. ``cache``
    applies only to ``semi_hard``, where the materialized frame is
    |corpus|×|anchors| rows of four narrow columns — the brute
    memory trade ``_carve_triplets`` documents.

    Returns (anchor_id, positive_id, negative_id, pos_cos, neg_cos,
    margin), margin rounded to ``round_to``.

    ``engine="arrow"`` (default, r12): the scored frame comes from
    ``cosine_arrow.brute_scored_arrow`` (identical ``_same``/``_cos``
    values — bit parity in tests/test_cosine_arrow.py); the carve is
    unchanged. ``engine="expr"`` keeps the JVM cross join.
    """
    if engine == "arrow":
        from impresso_ta.operators.cosine_arrow import brute_scored_arrow

        scored = brute_scored_arrow(
            corpus, queries, id_col=id_col, vec_col=vec_col,
            label_col=label_col, round_to=round_to, exclude_self=True,
            out_query="anchor_id", out_cand="cand_id", out_cos="_cos",
        ).select("anchor_id", "cand_id", "_same", "_cos")
    else:
        q = queries.select(
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).alias("qv"),
            F.col(label_col).alias("_qlabel"),
        )
        c = spread_small_input(corpus).select(
            F.col(id_col).alias("cand_id"),
            F.col(vec_col).alias("cv"),
            F.col(label_col).alias("_clabel"),
        )
        scored = (
            c.crossJoin(F.broadcast(q))
            .where(F.col("cand_id") != F.col("anchor_id"))
            .select(
                "anchor_id",
                "cand_id",
                (F.col("_clabel") == F.col("_qlabel")).alias("_same"),
                F.round(cosine(F.col("qv"), F.col("cv")), round_to).alias(
                    "_cos"
                ),
            )
        )
    return _carve_triplets(scored, k_pos, k_neg, round_to, semi_hard, cache)


def _pin_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit-count repartition on ``keys`` — the narrow-row CPU-dense
    escape hatch from the session's size-based AQE coalescing
    (parallelismFirst=false, right for IO-bound stages): a compressed
    ~25 B/row shuffle coalesces to 1-2 tasks at the 64 MB advisory
    size, putting millions of rows of downstream sort/window/join/
    scoring on one core (measured: the 100x LSH triplet mining tier ran
    831 s coalesced). AQE never coalesces a user repartition with an
    explicit count, and hashpartitioning(keys) satisfies every
    downstream ClusteredDistribution over a superset of ``keys``, so
    one pin usually replaces the ENSURE_REQUIREMENTS exchange it
    shadows rather than adding one."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *[F.col(k) for k in keys])


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id for random-hyperplane LSH (deterministic
    planes supplied by the caller)."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        plane = F.lit([float(x) for x in p])
        bit = F.when(dot(vec, plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket.cast("int")


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Approximate top-k: only same-bucket candidates are scored.

    With ``b`` planes, candidate volume is ~corpus/2^b per query — the
    100 TB path. Recall depends on the angular distribution; for recall
    guarantees use ``multiprobe_lsh_topk`` (several plane sets, union of
    candidates).
    """
    bq = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    bc = spread_small_input(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    scored = bc.join(F.broadcast(bq), "bucket").select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), round_to).alias("cosine"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _lit_vec(vec: list[float]) -> Column:
    # ONE py4j call for the whole array — element-wise F.lit() costs a
    # JVM round trip per component (~1s of plan-build for 8×64 dims)
    return F.lit([float(x) for x in vec])


def _py_norm(vec: list[float]) -> float:
    """Driver-side ||v|| with the SAME fold order as ``norm``'s
    left-to-right aggregate, so hoisting it to a literal is bit-exact."""
    import math

    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _d(x: float) -> str:
    """Exact SQL double literal (repr round-trips IEEE doubles)."""
    return repr(float(x)) + "D"


def _dot_sql(vec_sql: str, cv: list[float]) -> str:
    """SQL text of ``dot(vec, lit(cv))`` — identical expression tree
    (zip_with + left-to-right aggregate), so values are bit-equal."""
    lits = ",".join(_d(x) for x in cv)
    return (
        f"aggregate(zip_with({vec_sql}, array({lits}), "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def _cell_scores_sql(
    vec_sql: str,
    norm_sql: str,
    centroids: list[tuple[int, list[float]]],
    round_to: int,
) -> list[str]:
    """(rounded cosine, -cell) struct per centroid — struct comparison
    then picks max cosine with ties to the SMALLEST cell id.

    Centroid norms are literals (driver-computed, bit-identical fold) and
    the row's own norm arrives as a pre-projected column, so each score
    costs ONE 64-dim dot product instead of three. Emitted as SQL TEXT:
    building these via Column lambdas costs a py4j round trip per
    higher-order function (~2s of driver time per ivf_topk call at
    nlist=8); one ``F.expr`` over the assembled string is a single call
    parsed JVM-side.
    """
    return [
        f"struct(round({_dot_sql(vec_sql, cv)} / ({norm_sql} * "
        f"{_d(_py_norm(cv))}), {round_to}) AS cos, {-cell} AS negcell)"
        for cell, cv in centroids
    ]


# Above this many centroids the literal-SQL argmax expression becomes the
# bottleneck (plan text grows O(nlist·dims); Catalyst parse/codegen chokes
# near nlist≈1000 and the driver burns seconds building the string) — switch
# to the broadcast-relation form, whose plan size is O(1).
LITERAL_MAX_NLIST = 64


def _centroids_relation(spark, centroids: list[tuple[int, list[float]]]):
    """One-row DataFrame holding ALL centroids as a sorted array of
    struct(cell, cvec, cnorm) — broadcast-joined to corpus/query rows so
    the argmax stays a map-side expression with O(1) plan size at any
    nlist. Norms are driver-computed with the same fold order as ``norm``
    so scores are bit-identical to the literal path."""
    rows = [
        (int(cell), [float(x) for x in cv], _py_norm(cv))
        for cell, cv in centroids
    ]
    return (
        spark.createDataFrame(
            rows, "cell int, cvec array<double>, cnorm double"
        )
        .agg(
            F.array_sort(
                F.collect_list(F.struct("cell", "cvec", "cnorm"))
            ).alias("_cents")
        )
    )


def _centroids_relation_from_df(centroids_df: DataFrame):
    """The one-row ``_cents`` relation built FROM a DataFrame of
    (cell, cvec) — the fully-distributed twin of
    :func:`_centroids_relation`: centroid vectors never cross into
    driver Python (no ``collect``, no py4j row transfer); the broadcast
    exchange ships them JVM-to-JVM. Norms use the same left-to-right
    ``norm`` fold as ``_py_norm``, so scores are bit-identical to the
    collect-based path."""
    return centroids_df.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("cell").cast("int").alias("cell"),
                    F.col("cvec").cast("array<double>").alias("cvec"),
                    norm(F.col("cvec").cast("array<double>")).alias("cnorm"),
                )
            )
        ).alias("_cents")
    )


def _cell_scores_over(vec: Column, vnorm: Column, round_to: int) -> Column:
    """Array of (rounded cosine, -cell) structs computed from the
    broadcast ``_cents`` column — the transform-based twin of
    ``_cell_scores_sql`` (identical expression tree per element:
    zip_with + left-to-right aggregate, round, negcell tie-break)."""
    return F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            F.round(
                dot(vec, c["cvec"]) / (vnorm * c["cnorm"]), round_to
            ).alias("cos"),
            (-c["cell"]).alias("negcell"),
        ),
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    strategy: str = "auto",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Assign each corpus vector to its nearest centroid cell (max cosine,
    ties → smallest cell id).

    ``centroids`` is a driver-side list of (cell_id, vector) — nlist is
    small by construction (≪ corpus), so the argmax is map-side: NO
    shuffle of the corpus, no UDF. Two strategies with bit-identical
    results (parity-tested):

    - ``literal`` (default ≤ LITERAL_MAX_NLIST): centroids baked into a
      ``greatest`` over per-centroid score structs — whole-stage codegen,
      fastest at small nlist.
    - ``broadcast`` (default above): centroids as a broadcast one-row
      relation; the argmax is ``array_max(transform(_cents, …))``. Plan
      size O(1), so nlist=4096 is expressible; the broadcast ships
      nlist×dims doubles once per executor.

    Cosines are rounded before comparison so the DuckDB oracle (which
    ranks with round(...,4)) agrees on ties.

    ``centroids`` may also be a DataFrame of (cell, cvec) — then the
    broadcast strategy is used with the relation built distributed
    (:func:`_centroids_relation_from_df`), so centroid vectors never
    materialize in driver Python.
    """
    if isinstance(centroids, DataFrame):
        strategy = "broadcast"
    elif strategy == "auto":
        strategy = (
            "literal" if len(centroids) <= LITERAL_MAX_NLIST else "broadcast"
        )
    carry = [F.col(c) for c in (extra_cols or [])]
    with_norm = spread_small_input(corpus).select(
        F.col(id_col), F.col(vec_col), *carry,
        norm(F.col(vec_col)).alias("_vnorm"),
    )
    if strategy == "broadcast":
        cents = (
            _centroids_relation_from_df(centroids)
            if isinstance(centroids, DataFrame)
            else _centroids_relation(corpus.sparkSession, centroids)
        )
        best = F.array_max(
            _cell_scores_over(F.col(vec_col), F.col("_vnorm"), round_to)
        )
        return with_norm.crossJoin(F.broadcast(cents)).select(
            F.col(id_col),
            F.col(vec_col),
            *carry,
            (-best["negcell"]).cast("int").alias("cell"),
        )
    frags = _cell_scores_sql(f"`{vec_col}`", "`_vnorm`", centroids, round_to)
    best = (
        F.expr(f"greatest({','.join(frags)})")
        if len(frags) > 1
        else F.expr(frags[0])
    )
    return with_norm.select(
        F.col(id_col),
        F.col(vec_col),
        *carry,
        (-best["negcell"]).cast("int").alias("cell"),
    )


def ivf_refine(
    assigned: DataFrame,
    vec_col: str = "embedding",
    round_to: int = 6,
) -> list[tuple[int, list[float]]]:
    """One Lloyd step: per-cell element-wise mean of member vectors.

    posexplode → groupBy(cell, pos) avg → re-collect. Map-side partial
    aggregation means the shuffle carries only nlist×dims running sums,
    independent of corpus size; the driver collects nlist tiny rows
    (exactly what MLlib KMeans does per iteration). Component averages
    are rounded so refined centroids are engine-portable.
    """
    per_dim = (
        assigned.select("cell", F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("cell", "pos")
        .agg(F.round(F.avg("v"), round_to).alias("m"))
    )
    rows = (
        per_dim.groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("centroid")
        )
        .collect()
    )
    return sorted((r["cell"], list(r["centroid"])) for r in rows)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]] | None = None,
    nlist: int = 8,
    nprobe: int = 2,
    k: int = 3,
    refine_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    strategy: str = "auto",
) -> DataFrame:
    """IVF approximate top-k: score only corpus vectors in the ``nprobe``
    cells nearest each query.

    Seeds default to the ``nlist`` smallest-id corpus vectors (cell id =
    seed id) — deterministic, engine-portable; ``refine_iters`` Lloyd
    steps (``ivf_refine``) sharpen them, each re-assigning with the
    refreshed centroids. Per-query probe cells are computed map-side
    (sort the per-centroid score array, slice nprobe); the only corpus
    shuffle is the equi-join on ``cell``, and candidate volume is
    ~corpus·nprobe/nlist. Centroid distribution follows ``strategy``
    (see ``ivf_assign``): literal SQL at small nlist, broadcast relation
    above LITERAL_MAX_NLIST. Generalizes the reference's staged
    candidate-filter search (SURVEY X11, ref: fedgaz/classes.py:242-345)
    to vector similarity.
    """
    if centroids is None:
        seed_rows = (
            corpus.select(F.col(id_col), F.col(vec_col))
            .orderBy(id_col)
            .limit(nlist)
            .collect()
        )
        centroids = [(int(r[id_col]), list(r[vec_col])) for r in seed_rows]
    if strategy == "auto":
        strategy = (
            "literal" if len(centroids) <= LITERAL_MAX_NLIST else "broadcast"
        )
    assigned = ivf_assign(corpus, centroids, id_col, vec_col, round_to, strategy)
    for _ in range(refine_iters):
        centroids = ivf_refine(assigned, vec_col)
        assigned = ivf_assign(
            corpus, centroids, id_col, vec_col, round_to, strategy
        )

    return _ivf_probe_rank(
        assigned, queries, centroids, nprobe, k, id_col, vec_col,
        round_to, strategy,
    )


def _probe_frame(
    spark,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    id_col: str,
    vec_col: str,
    round_to: int,
    strategy: str,
    query_cols: dict | None = None,
) -> DataFrame:
    """The (query_id, qv, _qnorm[, extras], cell) probe table: each
    query exploded to its ``nprobe`` nearest centroids' cells. Shared
    by ``_ivf_probe_rank`` (the join input) and ``ivf_topk_indexed``'s
    static cell pruning (which only needs the distinct cells)."""
    extra = query_cols or {}
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("_qnorm"),
        *[c.alias(name) for name, c in extra.items()],
    )
    if strategy == "broadcast":
        cents = _centroids_relation(spark, centroids)
        scores = _cell_scores_over(F.col("qv"), F.col("_qnorm"), round_to)
        q = q.crossJoin(F.broadcast(cents))
    else:
        frags = _cell_scores_sql("`qv`", "`_qnorm`", centroids, round_to)
        scores = F.expr(f"array({','.join(frags)})")
    probe_cells = F.transform(
        F.slice(F.reverse(F.array_sort(scores)), 1, nprobe),
        lambda s: (-s["negcell"]).cast("int"),
    )
    return q.select(
        "query_id", "qv", "_qnorm", *extra,
        F.explode(probe_cells).alias("cell"),
    )


def write_ivf_index(
    assigned: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Persist an ``ivf_assign`` output as the cell-partitioned store
    ``ivf_topk_indexed`` serves from — with the layout that actually
    prunes: ONE file per cell (repartition on the partition column
    before ``partitionBy``). A naive ``write.partitionBy("cell")``
    from an N-task upstream writes up to N files into EVERY cell
    directory (measured: 32 tasks x 565 cells = 11,490 files for a
    15 MB index; open/commit overhead dominated ingest at 42 s for
    2,000 vectors) and multiplies the per-file open cost of every
    subsequent probe. Incremental appends with frozen centroids:
    ``mode="append"`` adds one file per touched cell per batch —
    compact periodically with :func:`compact_ivf_index` (the tested
    plan-then-dynamic-overwrite loop) if batch count grows large."""
    assigned.repartition("cell").write.mode(mode).partitionBy(
        "cell"
    ).parquet(path)


def compact_ivf_index(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    small_threshold_pct: int = 50,
) -> list[int]:
    """The maintenance loop ``write_ivf_index``'s docstring promises:
    incremental appends with frozen centroids add one file per touched
    cell per batch, and this pass merges multi-batch cells back toward
    one file per cell. Composes two existing pieces:

    - ``layout.compaction_plan`` over a CONTENT-PRUNED ``binaryFile``
      listing of the store (path/length/cell only — the
      detect_issues_distributed listing trick; no parquet bytes read)
      decides which cells need rewriting (integer-exact, respects
      ``target_bytes`` so a genuinely large cell is left as multiple
      target-sized files);
    - flagged cells are re-read, eagerly localCheckpoint'ed (the
      overwrite below would otherwise be reading its own output path),
      and rewritten with DYNAMIC partition overwrite — only the
      flagged cell directories are replaced, concurrent readers of
      other cells never see a partial store.

    Returns the compacted cell ids (empty when the store is already
    compact). Query results are unchanged by construction
    (row-preserving rewrite — parity-tested), and subsequent probes
    read fewer files (metric-tested)."""
    from impresso_ta.operators.layout import compaction_plan

    listing = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(path)
        .select(F.col("length").alias("bytes"), F.col("cell"))
    )
    plan = compaction_plan(
        listing,
        ["cell"],
        size_col="bytes",
        target_bytes=target_bytes,
        small_threshold_pct=small_threshold_pct,
    )
    flagged = sorted(
        int(r["cell"])
        for r in plan.filter(F.col("needs_compaction")).collect()
    )
    if not flagged:
        return []
    rows = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(flagged))
        .localCheckpoint(eager=True)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        rows.repartition("cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return flagged


def _ivf_probe_rank(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    k: int,
    id_col: str,
    vec_col: str,
    round_to: int,
    strategy: str,
    query_cols: dict | None = None,
    pair_filter=None,
    broadcast_probes: bool = True,
    cell_salt: int | None = None,
    probes_df: DataFrame | None = None,
) -> DataFrame:
    """Probe + score + rank over an existing (id, vec[, ...], cell)
    assignment — shared by ivf_topk (assigns inline), ivf_topk_indexed
    (probes a PERSISTED index) and hard_negatives_ivf (label-filtered
    mining). ``query_cols`` projects extra query-side columns into the
    probes (name -> Column over ``queries``); ``pair_filter`` is a
    Column predicate applied to the joined (assigned x probes) frame
    before scoring; ``broadcast_probes=False`` lets AQE pick the join
    strategy when the anchor set is corpus-sized (a forced broadcast of
    a corpus-sized probe table is a driver OOM, not an optimization).
    ``cell_salt`` sub-buckets the cell join key (requires
    ``broadcast_probes=False`` — combining it with a broadcast plan
    raises, so the parallelism knob can never be a silent no-op); see
    the inline comment at the join for when the nlist-bounded key
    domain needs it. ``probes_df`` injects a pre-built (typically
    pre-materialized) probe table so a caller that already derived
    per-query cells (static pruning) joins against the SAME evaluation
    of ``queries``."""
    if cell_salt is not None and broadcast_probes:
        # the salt exists to widen the SHUFFLE join's nlist-bounded key
        # domain; a broadcast join has no shuffle to widen, so silently
        # ignoring the knob would make a parallelism request a no-op
        raise ValueError(
            "cell_salt requires broadcast_probes=False (the salt "
            "sub-buckets the shuffle join's cell key; the broadcast "
            "plan has no such shuffle)"
        )
    probes = probes_df
    if probes is None:
        probes = _probe_frame(
            assigned.sparkSession, queries, centroids, nprobe,
            id_col, vec_col, round_to, strategy, query_cols,
        )
    # per-side norms are projected once so each candidate pair costs one
    # dot product; same expression order as `cosine`, so values are
    # bit-identical
    corpus_side = assigned.withColumn("_cnorm", norm(F.col(vec_col)))
    if cell_salt is not None and not broadcast_probes:
        # the cell join's key domain is only nlist values — with a
        # corpus-sized probe table the shuffle hash-partitions both
        # sides onto <=nlist keys, so parallelism collapses to nlist
        # tasks and a hot cell straggles unless AQE's skew thresholds
        # happen to trigger. Salting sub-buckets each cell cell_salt
        # ways: the corpus side gets a deterministic salt from its id,
        # the probe side is REPLICATED cell_salt x (a per-cell cross
        # product needs every anchor to meet every cell member, so one
        # side must replicate — same mechanics as replicated_skew_join;
        # probes are the cheaper side to copy: |anchors|*nprobe rows vs
        # the corpus). Output row set is identical (tested).
        from impresso_ta.operators.skew import salt_column

        corpus_side = corpus_side.withColumn(
            "_cs", salt_column(F.col(id_col), cell_salt)
        )
        probes = probes.withColumn(
            "_cs",
            F.explode(
                F.sequence(F.lit(0), F.lit(cell_salt - 1)).cast("array<int>")
            ),
        )
        joined = corpus_side.join(probes, ["cell", "_cs"]).drop("_cs")
    else:
        joined = corpus_side.join(
            F.broadcast(probes) if broadcast_probes else probes, "cell"
        )
    if pair_filter is not None:
        joined = joined.where(pair_filter)
    cand = joined.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            dot(F.col("qv"), F.col(vec_col))
            / (F.col("_qnorm") * F.col("_cnorm")),
            round_to,
        ).alias("cosine"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_topk_indexed(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    strategy: str = "auto",
    static_prune: bool = True,
) -> DataFrame:
    """``ivf_topk`` over a PERSISTED index: ``index`` is the
    (id, vec, cell) table ``ivf_assign`` produced at INGEST time —
    assign once, write ``partitionBy("cell")``, and every subsequent
    query run skips the assignment scan entirely. With a
    cell-partitioned parquet store the probe-cell join reaches the scan
    as DYNAMIC PARTITION PRUNING (plan-tested): only the probed
    nprobe/nlist of the files are READ, which is the difference between
    "score fewer rows" and "never read the bytes" at 100 TB.

    Incremental crawls compose for free: assigning a NEW batch is
    ``ivf_assign(new_batch, centroids)`` with the same FROZEN centroids
    (append to the store). ``centroids`` must be the ones the index was built with
    (same seeds, same refine history); results are then bit-identical
    to ``ivf_topk`` over the original corpus (parity-tested).

    ``static_prune`` (default on): the probed-cell set is collected
    first (one extra SMALL job — the distinct set is bounded by nlist
    regardless of query count, and a serving batch's probe pass is
    cheap by contract) and applied to the store as a STATIC partition
    filter, so file-level pruning is guaranteed at plan time. This
    exists because the dynamic-partition-pruning path is
    heuristic-fragile exactly where it matters: with the
    relation-routed codebook (nlist > LITERAL_MAX_NLIST) the probe
    subtree carries a nested broadcast and Spark declines to reuse it
    as a DPP filter — measured at the 10x/100x scale probe:
    `dynamicpruning` present in the plan TEXT, yet numFiles/numOutputRows showed the scan reading
    EVERY file and row. Pass ``static_prune=False`` only for
    corpus-sized query sets (where the probes cover all cells and
    pruning is moot); the DPP plan remains for that path. When the
    collected set covers every cell the filter is skipped (no-op).
    """
    if strategy == "auto":
        strategy = (
            "literal" if len(centroids) <= LITERAL_MAX_NLIST else "broadcast"
        )
    if static_prune:
        # materialize the probe table ONCE (localCheckpoint — probe
        # rows are |queries|*nprobe, serving-batch sized by contract)
        # and reuse the SAME frame for both the cell collection and the
        # scoring join: a non-deterministic queries frame (limit/sample
        # without ordering) re-evaluated per job could otherwise probe
        # cells the pruned index no longer contains and silently drop
        # neighbors. One job either way — the checkpoint replaces the
        # second scoring pass, it doesn't add one.
        probes = _probe_frame(
            index.sparkSession, queries, centroids, nprobe,
            id_col, vec_col, round_to, strategy,
        ).localCheckpoint(eager=True)
        cells = sorted(
            r["cell"] for r in probes.select("cell").distinct().collect()
        )
        if cells and len(cells) < len(centroids):
            index = index.filter(F.col("cell").isin(cells))
        return _ivf_probe_rank(
            index, queries, centroids, nprobe, k, id_col, vec_col,
            round_to, strategy, probes_df=probes,
        )
    return _ivf_probe_rank(
        index, queries, centroids, nprobe, k, id_col, vec_col,
        round_to, strategy,
    )


def multiprobe_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    plane_sets: list[list[list[float]]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Multi-probe LSH: union candidates from several independent plane
    sets, then rank once — recall compounds as 1-Π(1-r_i) while the
    corpus is still scanned ONCE (all probe tables hang off the same
    scan; Spark reuses the exchange-free branches).

    Each table t hashes corpus and queries with its own hyperplanes and
    joins on (t, bucket); duplicates across tables are dropped before
    the final window so a candidate is scored once.
    """
    if not plane_sets:
        raise ValueError("plane_sets must be non-empty")
    spread = spread_small_input(corpus)
    scored_parts = []
    for t_idx, planes in enumerate(plane_sets):
        bq = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
        )
        bc = spread.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
        )
        # score in the join projection so the cross-table dedup
        # shuffles narrow (id, id, cosine) rows, not the two 64-float
        # vectors — see hard_negatives_lsh for the measured 100x cost
        # of the array-carrying form; output identical (cosine is a
        # deterministic function of the pair)
        scored_parts.append(
            bc.join(F.broadcast(bq), "bucket").select(
                "query_id",
                "neighbor_id",
                F.round(
                    cosine(F.col("qv"), F.col("cv")), round_to
                ).alias("cosine"),
            )
        )
    cand = scored_parts[0]
    for part in scored_parts[1:]:
        cand = cand.unionByName(part)
    scored = cand.dropDuplicates(["query_id", "neighbor_id"])
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# The measured Voronoi-assignment ceiling (Θ(n·nlist) cell assignment
# went 34-43× superlinear at the 10×→100× step with corpus-sized
# nlist) — beyond this many vectors the auto router switches from IVF
# to hyperplane-LSH, whose bucket assignment is row-local in
# n·bits·dims.
IVF_MAX_VECTORS = 10_000_000


def deterministic_plane_sets(
    n_tables: int, n_planes: int, dims: int
) -> list[list[list[float]]]:
    """Seed-free hyperplane tables (Weyl-sequence coefficients): table
    t, plane i, component j = ((t·n_planes+i)·dims+j)·2654435761 mod
    1000, mapped to [-1, 1). Deterministic and engine-portable — the
    DuckDB oracle twins inline the identical constants, and two corpora
    hashed through the same (table, plane) grid are join-compatible."""
    sets = []
    for tidx in range(n_tables):
        planes = []
        for i in range(n_planes):
            gi = tidx * n_planes + i
            planes.append(
                [
                    round(((gi * dims + j) * 2654435761 % 1000) / 500.0 - 1.0, 6)
                    for j in range(dims)
                ]
            )
        sets.append(planes)
    return sets


def ann_topk_auto(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    strategy: str = "auto",
    n: int | None = None,
    dims: int | None = None,
    brute_max: int = 100_000,
    ivf_max: int = IVF_MAX_VECTORS,
    target_cell_size: int = 512,
    nprobe: int = 2,
    n_tables: int = 2,
) -> DataFrame:
    """Top-k cosine neighbors with the index tier picked from corpus
    size, generalizing the reference's staged
    candidate-filter search (SURVEY X11, ref: fedgaz/classes.py:242-345)
    to "exact when affordable, cheapest index that still recalls when
    not":

    - ``brute`` (n ≤ ``brute_max``): exact ``cosine_topk`` — one corpus
      scan, broadcast queries, no index error.
    - ``ivf`` (n ≤ ``ivf_max``): ``ivf_topk`` with nlist sized so cells
      hold ~``target_cell_size`` vectors (the documented IVF contract —
      fixed nlist goes quadratic as the corpus outgrows it); candidate
      volume ~n·nprobe/nlist. Bounded by the measured Θ(n·nlist)
      Voronoi-assignment ceiling (``IVF_MAX_VECTORS``).
    - ``lsh`` beyond: ``multiprobe_lsh_topk`` over ``n_tables``
      deterministic hyperplane tables with bits sized so buckets hold
      ~``target_cell_size`` vectors — assignment is row-local
      (n·bits·dims), the 100 TB path.

    ``n`` / ``dims`` are optional sizing hints: pass them for uncached
    corpus-scale inputs to skip the count()/first() driver actions the
    router otherwise runs.
    ``strategy`` forces a tier ("brute" | "ivf" | "lsh"); every tier
    returns the same (query_id, neighbor_id, cosine, rank) schema with
    identical scoring expressions, so forced-tier results are
    bit-comparable to the direct operator calls (parity-tested).
    """
    import math

    if strategy not in ("auto", "brute", "ivf", "lsh"):
        raise ValueError(f"unknown ann strategy: {strategy!r}")
    if strategy == "auto" or (strategy in ("ivf", "lsh") and n is None):
        if n is None:
            n = corpus.count()
    if strategy == "auto":
        strategy = "brute" if n <= brute_max else (
            "ivf" if n <= ivf_max else "lsh"
        )
    if strategy == "brute":
        return cosine_topk(corpus, queries, k, id_col, vec_col, round_to)
    if strategy == "ivf":
        return ivf_topk(
            corpus,
            queries,
            nlist=max(8, n // target_cell_size),
            nprobe=nprobe,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            round_to=round_to,
        )
    if dims is None:
        first = queries.select(vec_col).first()
        dims = len(first[0]) if first is not None else 64
    bits = max(2, math.ceil(math.log2(max(2.0, n / target_cell_size))))
    plane_sets = deterministic_plane_sets(n_tables, bits, dims)
    return multiprobe_lsh_topk(
        corpus, queries, plane_sets, k, id_col, vec_col, round_to
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 4,
) -> DataFrame:
    """kNN label assignment: each query vector takes the majority label
    of its k nearest labeled neighbors by cosine — the
    embedding-classifier primitive (domain/topic/quality tagging of a
    corpus from a small labeled seed set).

    The label rides along with the corpus scan, so the big side is read
    once, never joined back or shuffled by key: broadcast queries,
    per-query top-k window over (n_queries × corpus) scored rows that
    aggregate down to n_queries × k before the vote. Vote tie-breaks are
    total: (votes desc, summed similarity desc, label asc). Similarities
    are rounded before summing, and the sum rounded again, so the vote
    key is engine-portable.
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
        F.round(cosine(F.col("qv"), F.col("cv")), round_to).alias("cosine"),
    )
    from pyspark.sql.window import Window

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
