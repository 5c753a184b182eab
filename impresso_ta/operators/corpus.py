"""Training-corpus export and curation operators.

The last mile of an LLM data pipeline over the rebuilt/deduped corpus:

- ``training_shards``: deterministic global shuffle into N shards — the
  md5-derived (shard, pos) assignment is a pure row-local expression, so
  the only movement is the final hash-partitioned write; re-running on
  the same corpus yields byte-identical shard layout (reproducible
  training order, no ``rand()``).
- ``pack_sequences``: greedy contiguous packing of documents into
  fixed-token-budget blocks (context windows). One window cumsum per
  shard; documents are never split — a doc that straddles a boundary
  starts its block at the budget line (standard approximate packing).
- ``contamination``: per-benchmark-document k-shingle containment
  against the training corpus (decontamination screen). Expressed as a
  semi-join on shingles — the exact-semantics baseline.
- ``contamination_bloom``: the 100 TB variant — the train shingle set is
  folded into a bloom-filter bitmap (distributed ``bit_or`` build, one
  shuffle carrying ≤ m/64 rows), broadcast as a one-row relation, and
  membership becomes a row-local bit test: the corpus is scanned once
  and never shuffled by key. Zero false negatives by construction;
  false positives bounded by the standard (1-e^{-kn/m})^k. The exact
  join above is the verify fallback.

All determinism is md5-based for engine portability (DuckDB oracles
compute identical values — same convention as operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from impresso_ta.operators.dedup import word_shingles
from impresso_ta.operators.partitioning import spread_small_input


def _md5_long(col: Column, chars: int = 12) -> Column:
    """Portable 48-bit integer hash (md5 prefix), same as the oracles'
    ('0x' || substr(md5(x), 1, 12))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, chars), 16, 10).cast("long")


def training_shards(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every document a (shard, pos): shard by id hash, pos by a
    SECOND independent hash so within-shard order is itself shuffled.

    Returns (id, shard, pos) with pos dense 1..shard_size. The row_number
    shuffle partitions by shard — exactly the partitioning the subsequent
    ``write.partitionBy("shard")`` wants, so AQE reuses it and the export
    is one pass.
    """
    key = F.col(id_col).cast("string")
    assigned = docs.select(
        F.col(id_col),
        (_md5_long(key) % n_shards).cast("int").alias("shard"),
        _md5_long(F.concat(key, F.lit(":pos"))).alias("_order"),
    )
    w = Window.partitionBy("shard").orderBy("_order", id_col)
    return assigned.select(
        id_col,
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    n_shards: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy contiguous packing into fixed-token-budget blocks.

    Documents are ordered deterministically within their shard (same
    hash-order as ``training_shards``), then block = how many full
    budgets precede the document: ``floor(exclusive_cumsum / budget)``.
    Whitespace token count stands in for the tokenizer (swap in
    ``text_analysis.bpe_ish_token_count`` for a closer estimate).

    Returns (id, shard, block, n_tokens, block_offset) — block_offset is
    the document's token start inside its block's stream.
    """
    key = F.col(id_col).cast("string")
    base = docs.select(
        F.col(id_col),
        (_md5_long(key) % n_shards).cast("int").alias("shard"),
        _md5_long(F.concat(key, F.lit(":pos"))).alias("_order"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("_order", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.withColumn("_cum", F.sum("n_tokens").over(w))
    return cum.select(
        id_col,
        "shard",
        F.floor((F.col("_cum") - F.col("n_tokens")) / budget)
        .cast("long")
        .alias("block"),
        "n_tokens",
        ((F.col("_cum") - F.col("n_tokens")) % budget).alias("block_offset"),
    )


def contamination(
    train: DataFrame,
    bench: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Per-benchmark-doc k-shingle containment in the training corpus.

    (bench_id, n_shingles, n_contaminated, containment) — containment is
    |bench shingles ∩ train shingles| / |bench shingles|. The train side
    reduces to its DISTINCT shingle set before the join (semi-join
    pruning); the bench side is typically tiny, so Catalyst broadcasts
    it — the training corpus is scanned once and never shuffled by key.
    """
    bsh = spread_small_input(bench).select(
        F.col(id_col).alias("bench_id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
    )
    tsh = (
        spread_small_input(train).select(
            F.explode(word_shingles(F.col(text_col), k)).alias("shingle")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = bsh.join(tsh, "shingle", "left")
    return joined.groupBy("bench_id").agg(
        F.count("*").alias("n_shingles"),
        F.count("_hit").alias("n_contaminated"),
        F.round(F.count("_hit") / F.count("*"), round_to).alias("containment"),
    )


def bloom_parameters(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Standard bloom sizing: bits m = -n·ln p/(ln 2)², hashes
    k = (m/n)·ln 2; m rounded up to a multiple of 64 (whole words)."""
    import math

    m = max(64, int(math.ceil(-n_items * math.log(fpp) / (math.log(2) ** 2))))
    m = (m + 63) // 64 * 64
    k = max(1, round(m / max(n_items, 1) * math.log(2)))
    return m, k


def _bloom_pos_sql(shingle_sql: str, i: int, m_bits: int) -> str:
    """SQL for hash position i of a shingle — md5-derived 48-bit value
    mod m, the engine-portable convention (DuckDB computes the identical
    bit positions, so a bloom screen is oracle-checkable)."""
    return (
        f"CAST(conv(substring(md5(concat({shingle_sql}, '#b{i}')), 1, 12),"
        f" 16, 10) AS BIGINT) % {m_bits}"
    )


def bloom_filter_build(
    train: DataFrame,
    k: int = 3,
    text_col: str = "text",
    m_bits: int = 1 << 18,
    k_hashes: int = 4,
) -> DataFrame:
    """Distributed bloom-filter build over the train shingle set.

    Returns a ONE-ROW DataFrame with ``_bloom array<long>`` (m/64
    words) for broadcast. Shingles are hashed to ``k_hashes`` bit
    positions map-side; the only shuffle is a ``groupBy(word)`` whose
    map-side ``bit_or`` partials collapse each task's contribution to
    ≤ m/64 rows — shuffle volume is bounded by the FILTER size, not the
    corpus. No distinct pass is needed (``bit_or`` is idempotent). The
    driver then assembles the dense word array: m/64 longs, i.e. the
    filter itself (m=2³³ → 128 MB, the practical broadcast ceiling).
    """
    if m_bits % 64 != 0:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    tsh = spread_small_input(train).select(
        F.explode(word_shingles(F.col(text_col), k)).alias("shingle")
    )
    pos_arr = ",".join(
        _bloom_pos_sql("shingle", i, m_bits) for i in range(k_hashes)
    )
    words = (
        tsh.select(F.explode(F.expr(f"array({pos_arr})")).alias("pos"))
        .groupBy(F.expr("CAST(pos DIV 64 AS INT)").alias("word"))
        .agg(F.expr("bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))").alias("bits"))
    )
    dense = [0] * (m_bits // 64)
    for r in words.collect():
        dense[r["word"]] = r["bits"]
    return train.sparkSession.createDataFrame(
        [(dense,)], "_bloom array<long>"
    )


def contamination_bloom(
    train: DataFrame,
    bench: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 18,
    k_hashes: int = 4,
    round_to: int = 4,
) -> DataFrame:
    """Bloom-filtered contamination screen — same output shape as
    ``contamination`` but the train side is a broadcast bitmap instead
    of a distinct-shingle join relation.

    A bench shingle counts as contaminated when ALL ``k_hashes`` bits
    are set: a superset of the exact answer (zero false negatives —
    deterministic hashes), overcounting by at most the bloom FPP.
    The membership test is a pure row-local column expression
    (element_at + bit mask on the broadcast array), so the bench side
    needs no shuffle at all before the final per-doc groupBy.
    """
    bloom = bloom_filter_build(train, k, text_col, m_bits, k_hashes)
    bsh = (
        spread_small_input(bench)
        .select(
            F.col(id_col).alias("bench_id"),
            F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
        )
        .crossJoin(F.broadcast(bloom))
    )
    probed = bsh.select(
        "bench_id",
        "_bloom",
        *[
            F.expr(_bloom_pos_sql("shingle", i, m_bits)).alias(f"_p{i}")
            for i in range(k_hashes)
        ],
    )
    hit = F.lit(True)
    for i in range(k_hashes):
        hit = hit & F.expr(
            f"(element_at(_bloom, CAST(_p{i} DIV 64 AS INT) + 1)"
            f" & shiftleft(1L, CAST(_p{i} % 64 AS INT))) != 0"
        )
    return (
        probed.withColumn("_hit", hit)
        .groupBy("bench_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.col("_hit").cast("long")).alias("n_contaminated"),
            F.round(
                F.sum(F.col("_hit").cast("long")) / F.count("*"), round_to
            ).alias("containment"),
        )
    )


def stratified_sample(
    docs: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic EXACT-n stratified sample: the ``n_per_stratum``
    docs with the smallest md5-order within each stratum — the
    training-mix control knob and eval-set constructor (fixed-size
    per-language/per-domain holdouts). Reproducible across runs and
    engines — no ``rand()``, so re-sampling the same corpus returns the
    same rows, and a doc's draw never changes as the corpus grows
    (unlike ``sampleBy``, whose Bernoulli counts are binomial and
    run-dependent). ``salt`` picks an independent draw.

    Scale shape (r7): the per-stratum top-n runs through the salted
    two-stage window (``topn_per_key_salted``) instead of one
    row_number window — a hot stratum holding most of the corpus
    spreads over n_salts tasks in stage 1 and the exact stage-2 window
    sees ≤ n·n_salts rows per stratum; never a global sort, never one
    task per stratum. Same hash order ``training_shards`` uses, so the
    selected rows are identical to the single-window form.
    """
    if n_per_stratum <= 0:
        raise ValueError(f"n_per_stratum must be > 0, got {n_per_stratum}")
    from impresso_ta.operators.skew import topn_per_key_salted

    drawn = docs.withColumn(
        "_draw",
        _md5_long(
            F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
        ),
    )
    # Order by (_draw, id): the 48-bit draw alone collides at crawl
    # scale (~2^24 rows/stratum), which would make ranks run-dependent;
    # the id tie-break matches the oracle's ORDER BY md5, doc_id.
    return (
        topn_per_key_salted(
            drawn, [strata_col], ["_draw", id_col], n=n_per_stratum
        )
        .drop("rank", "_draw")
    )


def vocabulary(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 50,
) -> DataFrame:
    """Corpus vocabulary: top-k words by term frequency with document
    frequency — the tokenizer-training / stopword-mining primitive.

    Document frequency is computed as an explicit two-stage aggregate
    (groupBy(word, doc) then groupBy(word)) instead of
    ``countDistinct``: partial aggregation collapses each task's
    repeats before the shuffle, so the exchange carries one row per
    (word, doc) — the form that survives 100 TB. Top-k is a
    TakeOrdered over the (small) word-level aggregate, never a
    single-partition sort of the corpus. Deterministic total order:
    (tf desc, word asc).
    """
    per_doc = (
        spread_small_input(docs)
        .select(
            F.col(id_col).alias("_doc"),
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"),
        )
        .groupBy("word", "_doc")
        .agg(F.count("*").alias("tf_doc"))
    )
    return (
        per_doc.groupBy("word")
        .agg(
            F.sum("tf_doc").cast("long").alias("tf"),
            F.count("*").cast("long").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("word"))
        .limit(top_k)
    )


def temperature_sample(
    docs: DataFrame,
    alpha: float = 0.5,
    target_rows: int = 200,
    domain_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based domain mixing: subsample so each domain's share
    of the output follows n_d^alpha instead of n_d (alpha < 1 flattens
    the mix toward rare domains — the multilingual/domain-balancing
    sampler of LLaMA/XLM-style pipelines; alpha=1 is proportional,
    alpha=0 uniform). Downsampling only: per-domain keep probability
    p_d = min(1, target * (n_d^alpha / sum w) / n_d).

    Zero corpus shuffle: domain counts are one tiny aggregate whose
    probability table broadcasts back; membership is a row-local
    md5-uniform threshold (deterministic — no rand(), same sample every
    run and on every engine). p_d is rounded to 9 decimals so the
    threshold comparison is ulp-stable across engines' pow()
    implementations.
    """
    w = (
        docs.groupBy(domain_col)
        .agg(F.count("*").alias("n_d"))
        .select(
            domain_col,
            "n_d",
            F.pow(F.col("n_d").cast("double"), F.lit(alpha)).alias("w_d"),
        )
    )
    tot = w.agg(F.sum("w_d").alias("w_tot"))
    probs = w.crossJoin(F.broadcast(tot)).select(
        domain_col,
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(float(target_rows))
                * F.col("w_d")
                / F.col("w_tot")
                / F.col("n_d"),
            ),
            9,
        ).alias("p_d"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(domain_col),
                        F.lit(":"),
                        F.col(id_col).cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 48))
    )
    return docs.join(F.broadcast(probs), domain_col).filter(u < F.col("p_d"))


def epoch_upsample(
    docs: DataFrame,
    weights: dict[str, float],
    domain_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic epoch-based UPsampling — the other half of training-
    mix control (:func:`temperature_sample` only downsamples): a domain
    with weight w contributes ⌊w⌋ copies of every document, plus one more
    when the document's md5-uniform draw falls under frac(w) — so
    expected copies per doc = w exactly, with zero variance in the
    integer part (the 'epochs' treatment of Muennighoff et al. 2023,
    data-constrained scaling).

    Returns ``docs`` columns + ``epoch`` (1-based copy index). Domains
    missing from ``weights`` default to 1.0. Zero shuffle: the weight
    table is a literal map, membership is row-local, and the explode
    multiplies rows map-side.
    """
    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in kv]
    )
    w = F.coalesce(wmap[F.col(domain_col)], F.lit(1.0))
    base = F.floor(w).cast("int")
    frac = w - base
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("epoch:"),
                        F.col(domain_col),
                        F.lit(":"),
                        F.col(id_col).cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 48))
    )
    n_copies = base + F.when(u < F.round(frac, 9), 1).otherwise(0)
    return (
        docs.withColumn("_n_copies", n_copies)
        .filter(F.col("_n_copies") > 0)
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(1), F.col("_n_copies")))
        )
        .drop("_n_copies")
    )


def deterministic_split(
    docs: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Hash-based train/validation/test assignment: each doc's
    md5-uniform draw lands in a cumulative-fraction bucket. Adds a
    ``split`` column. Deterministic (no rand()) — the same doc lands in
    the same split on every run, every engine, and ANY SUBSET of the
    corpus (membership depends only on the id), which is what keeps a
    growing crawl's validation set stable over time. Zero shuffle.

    ``fractions`` must sum to 1.0 (e.g. {"train": .98, "val": .01,
    "test": .01}); bucket boundaries are rounded to 9 decimals so the
    comparison is ulp-stable across engines.
    """
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1.0, got {total}")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt + ":"), F.col(id_col).cast("string")
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 48))
    )
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        cond = u < F.lit(round(cum, 9))
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    expr = (
        expr.otherwise(F.lit(names[-1]))
        if expr is not None
        else F.lit(names[-1])
    )
    return docs.withColumn("split", expr)


def distribution_drift(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    top_k: int = 40,
    round_to: int = 6,
) -> DataFrame:
    """Word-distribution drift between two corpus snapshots — the
    data-quality monitor that catches a crawl gone wrong (spam influx,
    encoding breakage, source mix shift) before it reaches training.

    For the ``top_k`` words by combined count: smoothed probabilities
    p_old/p_new (add-one over the union vocabulary) and the per-word
    KL(new‖old) contribution p_new·ln(p_new/p_old). Positive = the word
    grew. Output is top_k rows ordered by combined count (ties by word).

    Scale shape: one uniformly-keyed word count per side (map-side
    combine), an outer equi-join of two vocabulary-sized frames, totals
    as one-row broadcasts, TakeOrdered top-k. The corpora are scanned
    once each and never shuffled by a low-cardinality key.
    """

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            spread_small_input(df)
            .select(
                F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias(
                    "word"
                )
            )
            .groupBy("word")
            .agg(F.count("*").alias(name))
        )

    co = counts(old, "c_old")
    cn = counts(new, "c_new")
    merged = co.join(cn, "word", "full_outer").select(
        "word",
        F.coalesce("c_old", F.lit(0)).alias("c_old"),
        F.coalesce("c_new", F.lit(0)).alias("c_new"),
    )
    tot = merged.agg(
        F.sum("c_old").alias("t_old"),
        F.sum("c_new").alias("t_new"),
        F.count("*").alias("v"),
    )
    scored = merged.crossJoin(F.broadcast(tot)).select(
        "word",
        F.col("c_old").cast("long"),
        F.col("c_new").cast("long"),
        F.round(
            (F.col("c_old") + 1) / (F.col("t_old") + F.col("v")), round_to
        ).alias("p_old"),
        F.round(
            (F.col("c_new") + 1) / (F.col("t_new") + F.col("v")), round_to
        ).alias("p_new"),
        F.round(
            ((F.col("c_new") + 1) / (F.col("t_new") + F.col("v")))
            * F.log(
                ((F.col("c_new") + 1) / (F.col("t_new") + F.col("v")))
                / ((F.col("c_old") + 1) / (F.col("t_old") + F.col("v")))
            ),
            round_to,
        ).alias("kl_term"),
    )
    return scored.orderBy(
        F.desc(F.col("c_old") + F.col("c_new")), F.asc("word")
    ).limit(top_k)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus snapshot delta: classify every document id across two
    corpus versions as added / removed / changed / unchanged by content
    fingerprint — the incremental-crawl bookkeeping step that decides
    what re-enters the dedup/filter pipeline.

    One full-outer sort-merge join on the id key (uniform, skew-free);
    fingerprints are md5 of normalized text so the comparison is
    engine-portable and O(1) per row regardless of document size.
    """
    from impresso_ta.operators.dedup import text_fingerprint

    o = old.select(
        F.col(id_col).alias("doc_id"),
        text_fingerprint(F.col(text_col)).alias("_old_fp"),
    )
    n = new.select(
        F.col(id_col).alias("doc_id"),
        text_fingerprint(F.col(text_col)).alias("_new_fp"),
    )
    return o.join(n, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("_old_fp").isNull(), F.lit("added"))
        .when(F.col("_new_fp").isNull(), F.lit("removed"))
        .when(F.col("_old_fp") == F.col("_new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def _dsir_feature_terms(text: Column, ngram: int) -> Column:
    """The hashed-feature token stream: unigrams for ``ngram=1``; the
    paper's full feature set (unigrams + space-joined bigrams, Xie et
    al. 2023 §3.1) for ``ngram=2``. Row-local array expressions — the
    bigram build is a zip of the token array with its own tail, no
    extra scan, no shuffle."""
    from impresso_ta.operators.text_analysis import tokens

    toks = tokens(text)
    if ngram == 1:
        return toks
    if ngram != 2:
        raise ValueError(f"ngram must be 1 or 2, got {ngram}")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.concat(toks, bigrams)


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 256,
    round_to: int = 6,
    ngram: int = 1,
    engine: str = "arrow",
) -> DataFrame:
    """DSIR importance log-weights (Xie et al., NeurIPS 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every raw-pool document by how much more likely its hashed bag of
    words is under the TARGET distribution than under the RAW pool's
    own —

        log w(x) = Σ_b count_x(b) · (log p_target(b) − log p_raw(b))

    with bucket b = md5(term) % ``dim`` (the paper's hashed n-gram
    features: ``ngram=1`` unigrams only; ``ngram=2`` unigrams PLUS
    space-joined bigrams — the paper's full feature set, which unigram
    counts cannot express: two styles with identical word histograms
    but different word ORDER only separate at n=2) and add-one
    smoothing on both bucket models. The raw pool
    is the crawl; the target is a small high-quality exemplar corpus
    (the reference's analogue is the config-driven corpus shaping of
    its filter stages — F1/F2 select BY METADATA, this selects by
    distributional similarity to data you point at).

    Returns the raw rows unchanged plus ``dsir_logw`` (null-text docs
    get 0.0 — no evidence either way; an empty string is ONE empty
    token under :func:`tokens`, matching every other text operator).

    Scale shape: two corpus-sized explode→groupBy(bucket) aggregates
    (map-side combined on the uniform md5 key, each collapsing to ≤dim
    rows), a dim-row log-ratio table broadcast into the per-doc bucket
    counts, one doc-keyed sum. No driver collect, no all-pairs, nothing
    quadratic — the model IS the dim-row table, so target size only
    affects one linear aggregate over the target.

    ``engine="arrow"`` (default, r12, guide §4.2): the three
    term-explode aggregates (raw buckets, target buckets, per-doc
    buckets) come from ``text_arrow.dsir_bucket_counts_arrow`` — one
    Counter pass per Arrow batch instead of exploding every term
    occurrence through an md5 projection and shuffling it (corpus mode
    emits ≤dim partial rows per batch; identical counts by exactness
    of integer addition; parity in tests/test_text_arrow.py).
    ``engine="expr"`` keeps the explode/groupBy plans.
    """
    from impresso_ta.operators.dedup import shingle_hash48

    def bucket_of(col: Column) -> Column:
        return (shingle_hash48(col) % dim).alias("bucket")

    if engine == "arrow":
        from impresso_ta.operators.text_arrow import (
            dsir_bucket_counts_arrow,
        )

        def corpus_buckets(df: DataFrame, out: str) -> DataFrame:
            return (
                dsir_bucket_counts_arrow(df, text_col, dim, ngram)
                .groupBy("bucket")
                .agg(F.sum("c").alias(out))
            )

    else:

        def corpus_buckets(df: DataFrame, out: str) -> DataFrame:
            return (
                spread_small_input(df)
                .select(
                    F.explode(
                        _dsir_feature_terms(F.col(text_col), ngram)
                    ).alias("word")
                )
                .select(bucket_of(F.col("word")))
                .groupBy("bucket")
                .agg(F.count("*").alias(out))
            )

    raw_b = corpus_buckets(raw, "rc")
    tgt_b = corpus_buckets(target, "tc")
    # dim-row model join + one-row totals broadcast: the whole "model
    # fit" is ≤dim rows on the driver-free path.
    joined = raw_b.join(tgt_b, "bucket", "full_outer").select(
        "bucket",
        F.coalesce(F.col("rc"), F.lit(0)).alias("rc"),
        F.coalesce(F.col("tc"), F.lit(0)).alias("tc"),
    )
    totals = joined.select(
        F.sum("rc").alias("_R"), F.sum("tc").alias("_T")
    )
    # the log-ratio is materialized as an INTEGER (scaled 1e9): the
    # per-doc weight is then an exact BIGINT sum — immune to float
    # summation ORDER, which differs between Spark's partial aggregates
    # and any other engine (the bigram feature stream doubled the
    # addends per doc and started flipping round-to-6 edges)
    ratio = joined.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            (
                F.log((F.col("tc") + 1) / (F.col("_T") + dim))
                - F.log((F.col("rc") + 1) / (F.col("_R") + dim))
            )
            * 1e9,
            0,
        )
        .cast("long")
        .alias("_lr9"),
    )
    if engine == "arrow":
        from impresso_ta.operators.text_arrow import (
            dsir_bucket_counts_arrow,
        )

        doc_b = dsir_bucket_counts_arrow(
            raw, text_col, dim, ngram, id_col=id_col
        )
    else:
        doc_b = (
            spread_small_input(raw)
            .select(
                F.col(id_col),
                F.explode(
                    _dsir_feature_terms(F.col(text_col), ngram)
                ).alias("word"),
            )
            .select(id_col, bucket_of(F.col("word")))
            .groupBy(id_col, "bucket")
            .agg(F.count("*").alias("c"))
        )
    weights = (
        doc_b.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.col("c") * F.col("_lr9")) / 1e9, round_to
            ).alias("dsir_logw")
        )
    )
    return raw.join(weights, id_col, "left").withColumn(
        "dsir_logw", F.coalesce(F.col("dsir_logw"), F.lit(0.0))
    )


def dsir_resample(
    raw: DataFrame,
    target: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 256,
    salt: str = "dsir",
    round_to: int = 6,
    ngram: int = 1,
) -> DataFrame:
    """DSIR's selection step: Gumbel top-k over the importance
    log-weights — sample ``n`` docs WITHOUT replacement with
    P(select) ∝ w(x), as ``argtop_n(log w(x) + Gumbel noise)`` (the
    Gumbel-max trick the paper uses). The noise is md5-uniform in the
    doc id (no rand()), so the draw is deterministic across runs and
    engines, and a doc's noise never changes as the corpus grows.

    Returns the selected raw rows plus ``dsir_logw``; ``orderBy+limit``
    compiles to TakeOrdered (per-partition top-n, then a driver merge of
    n·n_partitions candidate rows — no global sort shuffle).
    """
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(float(1 << 48))
    gumbel = -F.log(-F.log(u))
    scored = dsir_log_weights(
        raw, target, id_col=id_col, text_col=text_col, dim=dim,
        round_to=9, ngram=ngram,
    ).withColumn(
        "_gkey", F.round(F.col("dsir_logw") + gumbel, round_to)
    )
    return (
        scored.orderBy(F.col("_gkey").desc(), F.col(id_col))
        .limit(n)
        .withColumn("dsir_logw", F.round(F.col("dsir_logw"), round_to))
        .drop("_gkey")
    )


def dsir_resample_threshold(
    raw: DataFrame,
    target: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 256,
    salt: str = "dsir",
    accuracy: int = 10_000,
    cached_out: list[DataFrame] | None = None,
    ngram: int = 1,
) -> DataFrame:
    """Crawl-scale DSIR selection: keep ≈``fraction`` of the raw pool
    by thresholding the Gumbel-perturbed log-weight at its
    (1−fraction) approximate quantile — the form that replaces
    :func:`dsir_resample` when the kept count itself is huge.

    ``dsir_resample``'s orderBy+limit compiles to TakeOrdered, which
    merges n·n_partitions candidate rows on the driver — right for
    eval-scale n, wrong for "keep 2B of 10B docs". Here the cutoff is
    ONE approx-quantile aggregate (Greenwald-Khanna: fixed-size
    mergeable rank summaries, combined map-side per
    partition) broadcast back as a one-row relation, then a row-local
    filter — no global sort, nothing corpus-sized near the driver, and
    the scored pool is persisted so the weight computation runs once
    for both passes. The kept count is approximate within the sketch's
    rank error (tested ≤2 % at the default accuracy); the draw stays
    deterministic given the corpus (md5 noise, no rand()).

    Returns the selected rows plus ``dsir_logw``. The scored pool is
    corpus-sized and persisted for the two passes (quantile + filter);
    pass ``cached_out`` (a list, the prepare_corpus cached-list
    pattern) to receive the persisted handle and ``.unpersist()`` it
    after consuming the result — a long-lived session that calls this
    repeatedly without releasing the handles accumulates corpus-scale
    cache (``clearCache()`` is the blunt fallback: it drops EVERY
    cached frame in the session).
    """
    if not 0.0 < fraction < 1.0:
        raise ValueError(f"fraction must be in (0, 1), got {fraction}")
    from pyspark import StorageLevel

    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(float(1 << 48))
    scored = (
        dsir_log_weights(
            raw, target, id_col=id_col, text_col=text_col, dim=dim,
            round_to=9, ngram=ngram,
        )
        .withColumn(
            "_gkey", F.round(F.col("dsir_logw") + -F.log(-F.log(u)), 6)
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if cached_out is not None:
        cached_out.append(scored)
    cutoff = scored.agg(
        F.percentile_approx(
            "_gkey", F.lit(1.0 - fraction), F.lit(accuracy)
        ).alias("_cut")
    )
    return (
        scored.crossJoin(F.broadcast(cutoff))
        .filter(F.col("_gkey") >= F.col("_cut"))
        .withColumn("dsir_logw", F.round(F.col("dsir_logw"), 6))
        .drop("_gkey", "_cut")
    )


def pack_sequences_concat(
    docs: DataFrame,
    budget: int,
    n_shards: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GPT-style concatenate-then-chunk packing: the token stream is
    the shard-ordered concatenation of documents and blocks are fixed
    ``budget``-token windows — documents SPLIT across block boundaries,
    so every block is exactly full (``pack_sequences`` is the no-split
    greedy variant that starts straddling docs at the next budget
    line). One row per (document, block) PIECE:

        (id, shard, block, piece_start, piece_len)

    where ``piece_start`` is the piece's token offset WITHIN the
    document and Σ piece_len per doc = the doc's token count.

    Scale shape: the same single per-shard window cumsum as
    pack_sequences (documents ordered by the deterministic md5 hash),
    then the block-range expansion is a row-local ``sequence`` explode
    — a doc yields ceil(n/budget)+1 pieces at most, no joins, no second
    shuffle.
    """
    key = F.col(id_col).cast("string")
    base = docs.select(
        F.col(id_col),
        (_md5_long(key) % n_shards).cast("int").alias("shard"),
        _md5_long(F.concat(key, F.lit(":pos"))).alias("_order"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("_order", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.withColumn(
        "_start", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    first_b = F.floor(F.col("_start") / budget)
    last_b = F.floor((F.col("_start") + F.col("n_tokens") - 1) / budget)
    pieces = cum.filter(F.col("n_tokens") > 0).select(
        id_col,
        "shard",
        "_start",
        "n_tokens",
        F.explode(F.sequence(first_b, last_b)).alias("block"),
    )
    block_lo = F.col("block") * budget
    block_hi = (F.col("block") + 1) * budget
    lo = F.greatest(F.col("_start"), block_lo)
    hi = F.least(F.col("_start") + F.col("n_tokens"), block_hi)
    return pieces.select(
        id_col,
        "shard",
        "block",
        (lo - F.col("_start")).cast("long").alias("piece_start"),
        (hi - lo).cast("long").alias("piece_len"),
    )


def token_budget_select(
    docs: DataFrame,
    token_budget: int,
    score_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 10_000,
) -> DataFrame:
    """Fill a TOKEN budget with the highest-``score_col`` documents —
    the data-mixing step that turns "we can afford 15T training tokens"
    into a concrete corpus cut (FineWeb-style: rank by a quality score,
    take from the top until the budget is spent).

    The naive form is a GLOBAL sort + running token cumsum — a
    single-task window at crawl scale. Here the cut is bucketized:
    scores are fixed to 1e-6 and integer-bucketed into ``n_buckets``
    equal-width cells (pure integer arithmetic end-to-end, so the
    bucket of every doc is engine-exact); one map-side-combined
    aggregate yields per-bucket token sums (≤ n_buckets rows), the
    top-down token cumsum + cutoff bucket are computed on that
    model-sized frame, and selection is a row-local ``bucket >=
    cutoff`` filter with the one-row cutoff broadcast. Whole buckets
    are kept, so the achieved token count is ≤ budget and within one
    bucket's token mass of it — tighten ``n_buckets`` for tighter cuts.
    Nothing corpus-sized is sorted, collected, or re-shuffled.

    Returns the selected rows (original schema).

    Score-range contract: scores are fixed to 1e-6 precision, so the
    SPREAD of ``score_col`` must satisfy (max-min) · 1e6 · n_buckets <
    2^63 (with the default 10k buckets: a spread below ~9.2e8) or the
    bucket product would exceed BIGINT. The range is guarded at
    runtime — an embedded ``assert_true`` raises loudly instead of
    Spark's silent non-ANSI wraparound (DuckDB errors loudly on the
    same overflow; silence here would be an engine divergence).
    Rescale the score (it is only ever compared, never summed) or
    lower ``n_buckets`` to widen the admissible spread.
    """
    if token_budget <= 0:
        raise ValueError(f"token_budget must be > 0, got {token_budget}")
    toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    score_i = F.round(F.col(score_col) * 1e6, 0).cast("long")
    base = docs.withColumn("_ntok", toks).withColumn("_si", score_i)
    rng = base.agg(F.min("_si").alias("_mn"), F.max("_si").alias("_mx"))
    max_range = (2**63 - 1) // n_buckets
    # rides INSIDE the bucket expression (null → +0 when the range is
    # fine) so column pruning cannot drop it and no extra job runs; the
    # bucket arithmetic itself uses try_* forms so the guard's message
    # — not a generic ANSI ARITHMETIC_OVERFLOW — is what surfaces
    guard = F.assert_true(
        F.expr("try_add(try_subtract(_mx, _mn), 1)") <= F.lit(max_range),
        F.concat(
            F.lit(
                "token_budget_select: score range too wide for exact "
                f"integer bucketing — (max-min+1) of the 1e-6-fixed "
                f"scores must be <= {max_range} (LONG_MAX/n_buckets); "
                "rescale the score or lower n_buckets; got "
            ),
            F.expr("try_add(try_subtract(_mx, _mn), 1)").cast("string"),
        ),
    )
    bucket = F.expr(
        f"try_multiply(try_subtract(_si, _mn), {n_buckets}L)"
        " div (_mx - _mn + 1)"
    ).cast("long") + F.coalesce(guard.cast("long"), F.lit(0))
    bucketed = base.crossJoin(F.broadcast(rng)).withColumn("_b", bucket)
    hist = bucketed.groupBy("_b").agg(F.sum("_ntok").alias("_t"))
    # ≤ n_buckets rows: the single-partition ordered window is
    # model-sized by construction, same as every dim-row model here
    w = Window.orderBy(F.col("_b").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cutoff = (
        hist.withColumn("_cum", F.sum("_t").over(w))
        .filter(F.col("_cum") <= token_budget)
        .agg(F.coalesce(F.min("_b"), F.lit(n_buckets + 1)).alias("_cut"))
    )
    return (
        bucketed.crossJoin(F.broadcast(cutoff))
        .filter(F.col("_b") >= F.col("_cut"))
        .drop("_ntok", "_si", "_mn", "_mx", "_b", "_cut")
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weight-biased sample of ``n`` rows without
    replacement: rows with k× the weight are ~k× as likely to be kept
    (the data-mixing primitive when the mixture is per-ROW — quality
    scores, token counts — rather than per-GROUP, which
    ``temperature_sample`` covers).

    Priority = hash48(salt:id) div weight — the integer-arithmetic
    analogue of the A-ES exponential-jump key u^(1/w): a row's 48-bit
    md5 draw is uniform on [0, 2^48), dividing by its weight shrinks
    the expected priority of heavy rows proportionally, and the n
    SMALLEST priorities win. All-BIGINT (no float pow/log), so
    selection is reproducible across runs, engines, and partitionings,
    and the DuckDB oracle matches exactly. Weights must be positive
    integers (raise-guarded via assert-in-expression: a zero/negative
    weight poisons the division silently otherwise).

    Plan: priority is row-local (zero shuffle); the top-n is a
    TakeOrderedAndProject (per-partition heaps + driver merge of
    n·partitions rows) — no global sort. Ties broken by id.
    """
    if n <= 0:
        raise ValueError("n must be positive")
    draw = _md5_long(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    staged = df.select(
        F.col(id_col),
        F.col(weight_col).cast("long").alias("weight"),
        draw.alias("_draw"),
    )
    # assert_true returns NULL on success and raises otherwise; riding it
    # inside the priority expression (same trick as token_budget_select's
    # range guard) means the check cannot be pruned and costs no extra job.
    pri = F.expr(
        "CASE WHEN assert_true(weight > 0, "
        "'weighted_sample: weights must be positive integers') IS NULL "
        "THEN _draw div weight END"
    )
    return (
        staged.select(id_col, "weight", pri.alias("priority"))
        .orderBy(F.col("priority"), F.col(id_col))
        .limit(n)
    )
