"""End-to-end training-corpus preparation: the composed pipeline a
pre-training data team runs over a raw crawl — quality filters, line
dedup, document dedup, benchmark decontamination, domain mixing — as ONE
declarative DataFrame program.

Every stage is an independently oracle-checked operator (see
``impresso_ta.queries``); this module only composes them, so the scale
posture is the union of the stages' documented shapes (no stage here
adds a shuffle beyond what its operator already does). Stages toggle
independently; order is fixed to the conventional sequence (cheap
row-local filters first, corpus-wide joins later):

    1. C4 heuristic filters         (zero shuffle)
    2. Gopher repetition filters    (two uniformly-keyed shuffles)
    2b. learned LR quality filter   (optional — ≤dim-row model as a
        one-row map broadcast, row-local margin, zero shuffles; the
        CCNet/FineWeb-Edu trained-classifier slot)
    3. corpus-wide line dedup       (rewrites text, drops emptied docs)
    3b. exact-substring dedup       (optional, off by default — Lee et
        al. 2022 ExactSubstr window removal, rewrites text)
    4. exact + MinHash-LSH doc dedup (keep cluster representative)
    5. benchmark decontamination    (broadcast bloom / shingle semi-join)
    5b. per-domain cap              (optional — salted two-stage window,
        RefinedWeb's max-N-docs-per-domain rule, hot-domain-proof)
    6. temperature-based domain mix (zero shuffle)

Generalizes the reference's single-corpus cleanup steps (title
blacklists F8, token filters F9, empty-issue guards F4) into the
LLM-corpus pipeline (BASELINE.json mandate).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from impresso_ta.operators import dedup as _dedup
from impresso_ta.operators import text_analysis as _ta
from impresso_ta.operators.corpus import temperature_sample


@dataclass
class PipelineResult:
    docs: DataFrame
    # (stage, docs_in, docs_out) when collect_stats; else empty
    stats: list[tuple[str, int, int]] = field(default_factory=list)
    # frames persisted at reuse boundaries; callers that keep the
    # session alive after consuming .docs should call .unpersist()
    cached: list[DataFrame] = field(default_factory=list)

    def unpersist(self) -> None:
        for df in self.cached:
            df.unpersist()


def prepare_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    c4: bool = True,
    gopher: bool = True,
    line_spans: int | None = 10,
    substring_dedup: int | None = None,
    doc_dedup: bool = True,
    jaccard_threshold: float | None = None,
    doc_dedup_method: str = "auto",
    doc_dedup_auto_threshold: int = 25_000,
    benchmark: DataFrame | None = None,
    quality_model: DataFrame | None = None,
    quality_threshold: float = 0.5,
    quality_dim: int = 64,
    quality_tf: bool = True,
    dsir_target: DataFrame | None = None,
    dsir_n: int | None = None,
    dsir_dim: int = 256,
    dsir_ngram: int = 1,
    domain_cap: int | None = None,
    domain_cap_order: str | None = None,
    temperature_alpha: float | None = None,
    temperature_target: int = 0,
    domain_col: str = "lang",
    collect_stats: bool = False,
) -> PipelineResult:
    """Run the corpus-preparation pipeline; returns the surviving
    documents (text rewritten by line dedup) plus optional per-stage
    counts.

    ``doc_dedup_method``: "auto" (default) sizes the filtered corpus
    and routes to the exact-verified pairwise "jaccard" form below
    ``doc_dedup_auto_threshold`` documents and to the clique-proof
    "minhash_survivors" form at or above it; either name forces that
    form at any scale. ``jaccard_threshold`` only applies to the
    jaccard form (default 0.7); the survivors form is threshold-free
    (band-bucket coincidence, unverified), so supplying an explicit
    threshold while auto routes to survivors emits a warning — pass
    ``doc_dedup_method="jaccard"`` to force thresholded semantics.

    ``quality_model``: a trained (bucket, w) logistic-regression weight
    table (``lr_hashed_train`` — the CCNet/FineWeb-Edu learned-quality
    slot). Docs scoring below ``quality_threshold`` (σ of the hashed
    ``quality_dim``-feature margin) are dropped right after the
    heuristic filters: the model was trained to rank what the
    rule-based filters can't separate, and every later corpus-wide
    stage (DSIR, dedup, decontamination) pays per surviving row. The
    ≤dim-row model folds into a one-row map broadcast and the margin is
    computed row-locally — zero exchanges added to the pipeline
    (``lr_hashed_score_rowlocal``, batch-parity-tested); the pipeline
    schema is unchanged (the score column is internal). ``quality_tf``
    (default True: term-frequency
    features, the form whose margins don't scale with document length)
    must match how the model was trained — see ``lr_hashed_train``.

    ``dsir_target`` + ``dsir_n``: DSIR importance resampling (Xie et
    al. 2023) — select the ``dsir_n`` filtered docs most like the
    target corpus (Gumbel top-k over hashed-bucket importance weights,
    deterministic). Runs right after the quality filters, BEFORE the
    dedup stages: selection shrinks the pool every later stage pays
    for, and the paper's pipeline position is raw-pool-side. The
    weight column is internal — the pipeline schema is unchanged.
    ``dsir_ngram=2`` adds hashed bigrams to the feature stream (the
    paper's full n≤2 set — required when the target differs from the
    pool by word ORDER rather than vocabulary).

    ``domain_cap``: keep at most N documents per ``domain_col`` value
    (the RefinedWeb-style per-registered-domain cap), ranked by
    ``domain_cap_order`` (default: the id column) ascending. Runs
    after dedup/decontamination, before temperature mixing, via the
    salted two-stage window (``topn_per_key_salted``) so a hot domain
    holding 10⁸ crawl records never serializes into one task.

    ``collect_stats`` gathers per-stage (in, out) counts via
    ``Observation`` (CollectMetrics) nodes inserted at every stage
    boundary and triggers ONE count() action at the end — the whole
    pipeline executes once and every boundary count falls out of that
    single pass (no per-stage recompute). Skip it when the pipeline
    feeds a sink directly; the returned plan still carries the metric
    nodes, which are free.
    """
    # argument contracts first, before anything is persisted or counted
    if dsir_target is not None and (not dsir_n or dsir_n <= 0):
        raise ValueError("dsir_target requires dsir_n > 0")
    if doc_dedup and doc_dedup_method not in (
        "auto", "jaccard", "minhash_survivors"
    ):
        raise ValueError(
            f"unknown doc_dedup_method: {doc_dedup_method!r} "
            "(expected 'auto', 'jaccard' or 'minhash_survivors')"
        )
    if temperature_alpha is not None and temperature_target <= 0:
        raise ValueError("temperature_alpha requires temperature_target > 0")

    stats: list[tuple[str, int, int]] = []
    # (boundary name, Observation) in pipeline order; boundary k's count
    # is stage k's docs_out and stage k+1's docs_in.
    boundaries: list[tuple[str, Observation]] = []

    def step(name: str, before: DataFrame, after: DataFrame) -> DataFrame:
        if not collect_stats:
            return after
        ob = Observation(f"corpus_stage_{name}")
        boundaries.append((name, ob))
        return after.observe(ob, F.count(F.lit(1)).alias("n"))

    from impresso_ta.operators.partitioning import spread_small_input

    from pyspark import StorageLevel

    cached: list[DataFrame] = []
    # temperature_sample consumes its input twice (domain-count aggregate
    # + membership filter), so the temperature branch alone is enough to
    # make the filter stack multi-consumed — without it in this predicate
    # the zero-shuffle c4/gopher folds re-execute per consumption (the
    # old shuffle-based stages got implicit reuse via shuffle files; the
    # row-local folds do not).
    multi_use_downstream = (
        bool(line_spans)
        or doc_dedup
        or benchmark is not None
        or temperature_alpha is not None
        # dsir_log_weights consumes the filtered corpus three times
        # (corpus bucket counts, per-doc bucket counts, the join-back)
        or dsir_target is not None
        # the row-local scorer consumes cur once, but its survivor set
        # feeds every later corpus-wide branch
        or quality_model is not None
    )
    # (domain_cap is window-shaped — single consumption, no persist needed)

    cur = step("input", docs, docs)
    # r12 (guide §4.2): the filter stack runs as ONE Arrow batch pass —
    # the r11 stage decomposition pinned the whole pipeline cost on this
    # scan's INTERPRETED HOF lambdas (13.0 s of 12.8 s sf1); the Arrow
    # twin computes the identical keep predicates at C speed, one
    # tokenization feeding both families (survivor parity pinned by
    # tests/test_text_arrow.py). With collect_stats the stages stay
    # separate so each Observation boundary still reports its own count;
    # the JVM expression forms remain in text_analysis (c4_signals /
    # repetition_signals).
    from impresso_ta.operators.text_arrow import filter_keep_arrow

    if c4 and gopher and not collect_stats:
        cur = filter_keep_arrow(cur, text_col=text_col, c4=True, gopher=True)
    else:
        if c4:
            cur = step(
                "c4_filters",
                cur,
                filter_keep_arrow(cur, text_col=text_col, c4=True, gopher=False),
            )
        if gopher:
            cur = step(
                "gopher_repetition",
                cur,
                filter_keep_arrow(cur, text_col=text_col, c4=False, gopher=True),
            )
    if not (c4 or gopher):
        # Widen a raw scan with fewer splits than cores, so the
        # downstream explodes get full parallelism (PLANS.md §8). The
        # Arrow filter spreads its own input with an explicit
        # repartition, so after it a spread adds no exchange, and its
        # partition-count check would still run a shuffle-stage job.
        cur = spread_small_input(cur)
    if multi_use_downstream:
        # Every later stage self-joins the current corpus (line dedup
        # rewrites text, doc dedup anti-joins survivors, decontamination
        # anti-joins hits), and Catalyst executes each branch's subtree
        # independently — without a persist the filter stack re-runs
        # once per branch, compounding per stage. MEMORY_AND_DISK, not
        # MEMORY_ONLY: at 100 TB the filtered corpus spills rather than
        # evicting (the reference persists at the same boundary,
        # core.py:402).
        cur = cur.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(cur)
    if quality_model is not None:
        # learned-quality filter (CCNet/RefinedWeb/FineWeb-Edu slot):
        # the ≤dim-row model folds into a ONE-ROW map broadcast and the
        # margin is computed row-locally (lr_hashed_score_rowlocal) —
        # zero exchanges added to the pipeline, vs the batch scorer's
        # explode→groupBy margin + doc-keyed join-back (two); identical
        # rounded probabilities (parity-tested). Runs between the
        # heuristic filters and the corpus-wide stages so everything
        # downstream pays only for the surviving rows.
        from impresso_ta.operators.classifier import lr_hashed_score_rowlocal

        kept = lr_hashed_score_rowlocal(
            cur,
            quality_model,
            id_col=id_col,
            text_col=text_col,
            dim=quality_dim,
            tf=quality_tf,
        ).filter(F.col("lr_prob") >= quality_threshold).drop("lr_prob")
        cur = step("lr_quality", cur, kept)
        if (
            dsir_target is not None
            or bool(line_spans)
            or doc_dedup
            or benchmark is not None
        ):
            # the surviving corpus is again multi-consumed downstream
            cur = cur.persist(StorageLevel.MEMORY_AND_DISK)
            cached.append(cur)
    if dsir_target is not None:
        from impresso_ta.operators.corpus import dsir_resample

        selected = dsir_resample(
            cur,
            dsir_target,
            n=dsir_n,
            id_col=id_col,
            text_col=text_col,
            dim=dsir_dim,
            ngram=dsir_ngram,
        ).drop("dsir_logw")
        cur = step("dsir_select", cur, selected)
        if bool(line_spans) or doc_dedup or benchmark is not None:
            # the selected corpus is again multi-consumed downstream
            cur = cur.persist(StorageLevel.MEMORY_AND_DISK)
            cached.append(cur)
    if line_spans:
        # the first-occurrence core only has rows for documents that keep
        # a span, so the inner join also drops the emptied documents
        kept = _dedup.line_dedup_kept(
            cur, id_col, text_col, span_words=line_spans
        )
        replaced = cur.drop(text_col).join(
            kept.select(
                F.col("doc_id").alias(id_col),
                F.col("kept_text").alias(text_col),
            ),
            id_col,
        )
        cur = step("line_dedup", cur, replaced)
        if doc_dedup or benchmark is not None or substring_dedup:
            # the rewritten corpus is again consumed by ≥2 branches
            cur = cur.persist(StorageLevel.MEMORY_AND_DISK)
            cached.append(cur)
    if substring_dedup:
        # Lee et al. 2022 ExactSubstr: strip every k-token window that
        # repeats anywhere in the corpus except its globally-first
        # occurrence, drop docs whose text is fully consumed. Runs
        # AFTER line dedup (spans are a coarser unit) and BEFORE doc
        # dedup (boilerplate stripped here can no longer glue
        # otherwise-distinct docs into near-dup pairs).
        rewritten = _dedup.exact_substring_dedup(
            cur, id_col=id_col, text_col=text_col, k=substring_dedup
        )
        replaced = cur.drop(text_col).join(
            rewritten.filter(F.col("n_removed") < F.col("n_tokens")).select(
                F.col("doc_id").alias(id_col),
                F.col("kept_text").alias(text_col),
            ),
            id_col,
        )
        cur = step("substring_dedup", cur, replaced)
        if doc_dedup or benchmark is not None:
            # again multi-consumed downstream
            cur = cur.persist(StorageLevel.MEMORY_AND_DISK)
            cached.append(cur)
    if doc_dedup:
        if doc_dedup_method == "auto":
            # Route by corpus size. EXACT-duplicate cliques are already
            # neutralized inside the jaccard branch (collapse_exact_reps
            # pre-pass, output-identical — the 100x clone-corpus probe's
            # killer, PLANS §9); what the threshold guards is what the
            # collapse cannot: NEAR-dup cliques of byte-distinct
            # variants (mirrors, recompressions, boilerplate families),
            # whose k²/2 true pairs reappear in the pairwise form at
            # crawl scale — beyond the threshold the survivors form
            # (star edges ≤ n·bands at ANY duplicate distribution) is
            # the safe default; below it the exact-verified jaccard
            # semantics are affordable and more precise. The default
            # threshold is deliberately LOW (25k, lowered from 100k
            # after the r5 probe: a 50k-doc corpus of 10-way near-dup
            # cliques sat just under 100k and took the pairwise worst
            # case at ~6x the survivors time): the risk is asymmetric —
            # survivors on a small corpus costs seconds of extra work,
            # while pairwise on a near-dup-clique corpus is
            # output-quadratic (the 100x probe's 500k-doc 100-way-clone
            # profile burned >60 GB of shuffle through the pairwise
            # route and completes in ~40 s through survivors).
            if not (
                cur.storageLevel.useMemory or cur.storageLevel.useDisk
            ):
                # belt-and-braces: every current flag combination has
                # already persisted cur here, but the sizing count must
                # never silently become a full extra pass over the
                # filter chain if a future path reaches it unpersisted
                cur = cur.persist(StorageLevel.MEMORY_AND_DISK)
                cached.append(cur)
            # the count() materializes the persist the downstream
            # branches reuse anyway, so the sizing action costs one
            # pass the pipeline's first real action would otherwise pay
            n_docs = cur.count()
            doc_dedup_method = (
                "minhash_survivors"
                if n_docs >= doc_dedup_auto_threshold
                else "jaccard"
            )
            if (
                doc_dedup_method == "minhash_survivors"
                and jaccard_threshold is not None
            ):
                import warnings

                warnings.warn(
                    f"doc_dedup_method='auto' routed {n_docs} docs to "
                    "minhash_survivors, which is threshold-free (band-"
                    f"bucket coincidence): jaccard_threshold="
                    f"{jaccard_threshold} is IGNORED. Pass "
                    "doc_dedup_method='jaccard' to force exact-verified "
                    "thresholded dedup at this scale.",
                    stacklevel=2,
                )
        if doc_dedup_method == "minhash_survivors":
            # clique-proof scale form: band-bucket star edges bound the
            # intermediate at n·bands regardless of duplicate
            # distribution; "jaccard" (default) keeps the exact-verified
            # thresholded semantics but its pair set is quadratic in
            # duplicate-clique size (see minhash_dedup_survivors)
            drops = (
                _dedup.minhash_dedup_survivors(
                    cur, id_col=id_col, text_col=text_col
                )
                .filter(~F.col("is_rep"))
                .select(F.col("doc_id").alias(id_col))
            )
            cur = step(
                "doc_dedup", cur, cur.join(drops, id_col, "left_anti")
            )
        else:  # "jaccard"
            # Collapse byte-identical (whitespace-normalized,
            # case-sensitive) docs to their min-id rep BEFORE the
            # pairwise join: exact cliques contribute k²/2 TRUE pairs
            # that no candidate machinery can absorb — the measured
            # failure mode on clone-heavy corpora — and the collapse is
            # provably output-identical (see collapse_exact_reps).
            # Persisted: the pair collect and the survivors' anti-join
            # both read the reps.
            reps = _dedup.collapse_exact_reps(
                cur, id_col=id_col, text_col=text_col
            ).persist(StorageLevel.MEMORY_AND_DISK)
            cached.append(reps)
            pairs = _dedup.jaccard_pairs(
                reps,
                id_col=id_col,
                text_col=text_col,
                threshold=(
                    0.7 if jaccard_threshold is None else jaccard_threshold
                ),
            )
            cur = step(
                "doc_dedup",
                cur,
                _dedup.dedup_survivors(reps, pairs, id_col=id_col),
            )
    if benchmark is not None:
        # GPT-3-style decontamination: drop any training doc sharing a
        # k-shingle with the benchmark. The benchmark's distinct shingle
        # set is small → Catalyst broadcasts the semi-join; the training
        # corpus is scanned once and never shuffled by key.
        bench_sh = benchmark.select(
            F.explode(
                _dedup.word_shingles(F.col(text_col), k=5)
            ).alias("shingle")
        ).distinct()
        hit_ids = (
            cur.select(
                F.col(id_col),
                F.explode(
                    _dedup.word_shingles(F.col(text_col), k=5)
                ).alias("shingle"),
            )
            .join(bench_sh, "shingle", "left_semi")
            .select(id_col)
            .distinct()
        )
        cur = step(
            "decontamination", cur, cur.join(hit_ids, id_col, "left_anti")
        )
    if domain_cap is not None:
        # RefinedWeb-style per-domain cap: at most ``domain_cap`` docs
        # per domain value, deterministic rank by ``domain_cap_order``
        # ascending. The salted two-stage window spreads a hot domain
        # over n_salts tasks in stage 1 and bounds the exact final
        # window at cap·n_salts rows per domain — never one task per
        # domain (see operators/skew.py topn_per_key_salted).
        from impresso_ta.operators.skew import topn_per_key_salted

        capped = topn_per_key_salted(
            cur,
            [domain_col],
            domain_cap_order or id_col,
            n=domain_cap,
        ).drop("rank")
        cur = step("domain_cap", cur, capped)
    if temperature_alpha is not None:
        cur = step(
            "temperature_mix",
            cur,
            temperature_sample(
                cur,
                alpha=temperature_alpha,
                target_rows=temperature_target,
                domain_col=domain_col,
                id_col=id_col,
            ),
        )
    if collect_stats and len(boundaries) > 1:
        # the single action: every CollectMetrics node in the plan fires
        # during this one pass (self-join branches dedupe — each named
        # observation reports its boundary's row count exactly once).
        cur.count()
        vals = [(name, int(ob.get["n"])) for name, ob in boundaries]
        stats.extend(
            (name, vals[i - 1][1], n)
            for i, (name, n) in enumerate(vals)
            if i > 0
        )
    return PipelineResult(docs=cur, stats=stats, cached=cached)
