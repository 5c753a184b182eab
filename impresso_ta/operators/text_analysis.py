"""Text-analysis operators for corpus preparation: language-ID, quality
scoring, token counting, fingerprinting.

All pure column expressions (JVM-side, codegen'd, no UDFs) so they run at
scan speed over 100 TB — these are per-row maps with no shuffle at all.
Regexes are kept to the portable subset shared by Java regex and RE2 so
the DuckDB oracles express the identical semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Tiny per-language marker sets for the n-gram/stopword heuristic.
# Deterministic and engine-portable; ties break alphabetically.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "und", "nicht", "das"],
    "en": ["the", "and", "of", "is", "to"],
    "es": ["el", "la", "que", "los", "una"],
    "fr": ["le", "la", "et", "les", "des"],
}


def _marker_hits(text: Column, markers: list[str]) -> Column:
    pattern = r"\b(" + "|".join(markers) + r")\b"
    return F.regexp_count(F.lower(text), F.lit(pattern))


def lang_id(text: Column) -> Column:
    """Heuristic language guess: argmax of marker-hit counts, ties broken
    by language code ascending; 'und' (undetermined) when no marker hits.

    CJK short-circuit: any CJK codepoint → 'zh' (n-gram heuristic for
    ideographic scripts).
    """
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    # alphabetical order + strict '>' → ties go to the alphabetically
    # first language, 'und' only when every count is zero.
    for lang in sorted(LANG_MARKERS):
        hits = _marker_hits(text, LANG_MARKERS[lang])
        better = hits > best_hits
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(better, hits).otherwise(best_hits)
    return F.when(
        F.regexp_count(text, F.lit(r"[一-鿿]")) > 0, F.lit("zh")
    ).otherwise(best_lang)


def tokens(text: Column) -> Column:
    """Whitespace tokenization (portable: split on \\s+ of trimmed text)."""
    return F.split(F.trim(text), r"\s+")


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: alpha runs, digit runs, single symbols —
    a deterministic proxy for BPE token counts."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


def quality_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    engine: str = "arrow",
) -> DataFrame:
    """Per-document quality features: token counts, type/token ratio,
    mean token length, punctuation ratio.

    ``engine="arrow"`` (default, r12) computes the identical values in
    one mapInArrow batch pass — the per-token work (tokenize, distinct,
    char sums, regex counts) runs at C speed instead of through
    Catalyst's interpreted HOF lambdas (guide §4.2); bit-parity pinned
    by tests/test_text_arrow.py. ``engine="expr"`` keeps the pure
    column-expression form."""
    if engine == "arrow":
        from impresso_ta.operators.text_arrow import quality_features_arrow

        return quality_features_arrow(docs, id_col=id_col, text_col=text_col)
    text = F.col(text_col)
    toks = tokens(text)
    n_tokens = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    n_chars = F.length(text)
    tok_chars = F.aggregate(
        toks, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    n_punct = F.regexp_count(text, F.lit(r"[^A-Za-z0-9\s]"))
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        n_tokens.cast("long").alias("n_tokens"),
        n_uniq.cast("long").alias("n_uniq_tokens"),
        F.round(n_uniq / n_tokens, 4).alias("uniq_ratio"),
        F.round(tok_chars / n_tokens, 4).alias("avg_token_len"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4).alias("punct_ratio"),
        bpe_ish_token_count(text).cast("long").alias("n_bpe_tokens"),
    )


def hashed_doc_vectors(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    round_to: int = 6,
    engine: str = "arrow",
) -> DataFrame:
    """Feature-hashed bag-of-words document vectors (Weinberger et al.
    2009): each word maps to bucket md5(word) % dim, bucket values are
    L2-normalized term counts: an ML-free embedding of raw text, where
    exact duplicates get identical vectors.

    Shape: explode → (doc, bucket) count with map-side combine (uniform
    md5 key), then one doc-keyed aggregate assembles the dense array
    from the ≤dim bucket rows. Missing buckets are zero-filled via a
    map lookup over a sequence — no per-dim join, no UDF. (A row-local
    variant — count each bucket with filter+size over the word array —
    was measured 70× SLOWER: higher-order-function lambdas run
    interpreted per element, so O(dim·n_words) interpreted comparisons
    lose badly to two codegen'd hash aggregations.)

    Decision rule — HOF fold vs shuffle aggregation (this operator and
    ``repetition_signals``/``language_consistency`` sit on opposite
    sides of it): a row-local fold over the token array WINS when the
    per-element work is O(1) (constant interpreted cost per token, zero
    exchange — repetition/language stats), and LOSES when the
    per-element work is O(dim) or worse (interpreted inner loop per
    token — this operator's per-bucket comparisons), where exploding
    into a codegen'd hash aggregate amortizes the shuffle over JIT'd
    per-row work. Measure before moving an operator across the line.

    ``engine="arrow"`` (default, r12): one mapInArrow pass assembles
    each document's vector in place — hashlib md5 (== Spark md5 over
    UTF-8) with a per-task word→bucket memo, exact-int counts, one IEEE
    sqrt/division, :func:`text_arrow.spark_round` — collapsing the
    explode + two corpus shuffles to zero (guide §4.2; bit parity in
    tests/test_text_arrow.py). ``engine="expr"`` keeps this plan.
    """
    if engine == "arrow":
        from impresso_ta.operators.text_arrow import (
            hashed_doc_vectors_arrow,
        )

        return hashed_doc_vectors_arrow(
            docs, id_col=id_col, text_col=text_col, dim=dim,
            round_to=round_to,
        )
    from impresso_ta.operators.dedup import shingle_hash48
    from impresso_ta.operators.partitioning import spread_small_input

    bucket_counts = (
        spread_small_input(docs)
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("word"),
        )
        .select(
            "doc_id", (shingle_hash48(F.col("word")) % dim).alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("c"))
    )
    mapped = bucket_counts.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket").cast("int"), F.col("c")))
        ).alias("_bmap")
    )
    nrm = F.sqrt(
        F.aggregate(
            F.map_values(F.col("_bmap")),
            F.lit(0.0),
            lambda a, c: a + (c * c).cast("double"),
        )
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.round(
            F.coalesce(F.element_at(F.col("_bmap"), i), F.lit(0)).cast(
                "double"
            )
            / nrm,
            round_to,
        ),
    )
    return mapped.select("doc_id", vec.alias("vector"))


def language_consistency(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 20,
    min_majority: float = 0.8,
    round_to: int = 4,
) -> DataFrame:
    """Mixed-language / code-switching detection: language-ID per
    ``span_words``-word span, then the per-document majority language
    and its share of spans; ``is_mixed`` when the majority holds less
    than ``min_majority`` of spans. CCNet-style documents whose halves
    disagree get flagged where a whole-doc language vote would hide it.

    Shape: ZERO shuffles. The per-span language votes of one document
    fit in its own row: ``transform`` runs lang-ID over the span array,
    ``array_sort`` groups equal votes into runs, and one ``aggregate``
    fold finds the longest run (strict ``>`` on the sorted array keeps
    ties on the alphabetically-first language, matching the old
    argmax-window semantics). Embarrassingly parallel at 100 TB — versus
    the naive span-explode plan that shuffled every vote twice. WIN side
    of the HOF-fold decision rule (``hashed_doc_vectors``): O(1) state
    per span — predecessor + run counters — so the fold beats any
    shuffle-based plan; don't \"optimize\" it back to explode+agg.
    """
    from impresso_ta.operators.dedup import word_spans

    spans = word_spans(F.col(text_col), span_words)
    langs = F.array_sort(F.transform(spans, lang_id))
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(None).cast("string").alias("best_lang"),
        F.lit(0).cast("long").alias("best_run"),
    )

    def merge(st: Column, x: Column) -> Column:
        run = F.when(x == st["prev"], st["run"] + 1).otherwise(F.lit(1))
        better = run > st["best_run"]
        return F.struct(
            x.alias("prev"),
            run.cast("long").alias("run"),
            F.when(better, x).otherwise(st["best_lang"]).alias("best_lang"),
            F.when(better, run)
            .otherwise(st["best_run"])
            .cast("long")
            .alias("best_run"),
        )

    from impresso_ta.operators.partitioning import spread_small_input

    folded = F.aggregate(langs, init, merge)
    n_spans = F.size(langs).cast("long")
    frac = F.round(folded["best_run"].cast("double") / n_spans, round_to)
    return spread_small_input(docs).select(
        F.col(id_col).cast("long").alias("doc_id"),
        folded["best_lang"].alias("majority_lang"),
        n_spans.alias("n_spans"),
        frac.alias("majority_frac"),
        (frac < F.lit(min_majority)).alias("is_mixed"),
    )


def rolling_fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (lowercased,
    whitespace collapsed) — the exact-dedup key."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def _gram_array(words: Column, n: int) -> Column:
    """Non-distinct n-gram array (every occurrence, reading order).

    Same zip_with construction as dedup.word_shingles (which is the
    distinct variant). Precision on the cost model: higher-order
    functions (zip_with/aggregate/transform) evaluate their lambdas
    INTERPRETED per element, not codegen'd — the zip_with form's win
    over transform(sequence(...)) (measured 4×) is avoiding the
    materialized index array, not codegen. Stage-level the expression
    still lives inside a WholeStageCodegen project and never leaves the
    row, which is the property the scale claims rest on.
    """
    size = F.size(words)
    acc = words
    for j in range(1, n):
        shifted = F.slice(words, j + 1, F.greatest(size - j, F.lit(1)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(acc, 1, F.greatest(size - n + 1, F.lit(1)))


def normalize_text(text: Column) -> Column:
    """Deterministic text normalization (the regex-portable core of an
    ftfy-style cleanup): strip C0/C1 control characters, fold curly
    quotes and long dashes to ASCII, collapse runs of whitespace, trim.
    Pure column expressions — identical semantics in the DuckDB oracle.
    """
    # strip control chars EXCEPT \t \n \r (0x09 0x0A 0x0D) — those are
    # whitespace and must collapse to a space, not vanish
    t = F.regexp_replace(text, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", "")
    t = F.translate(t, "‘’“”–—", "''\"\"--")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def normalized_docs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, clean text, changed flag, md5 of clean text) — the
    normalization pass a crawl runs before any hashing/dedup so that
    byte-level noise doesn't defeat exact fingerprints. Zero shuffle."""
    clean = normalize_text(F.col(text_col))
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        clean.alias("text"),
        (clean != F.col(text_col)).alias("changed"),
        F.md5(clean).alias("clean_fp"),
    )


def quality_outliers(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    z_max: float = 3.0,
    round_to: int = 4,
) -> DataFrame:
    """Distribution-based outlier flagging over the quality features:
    per-doc z-scores of token count and mean token length against the
    corpus mean/stddev; |z| > ``z_max`` on either axis flags the doc.
    The statistical complement to the fixed-threshold C4/Gopher gates —
    catches corpus-relative anomalies fixed thresholds miss.

    Shape: one single-row mean/stddev aggregate broadcast back over the
    feature frame — the corpus is scanned once, never shuffled by key.
    """
    feats = quality_features(docs, id_col, text_col).select(
        "doc_id",
        F.col("n_tokens").cast("double").alias("nt"),
        F.col("avg_token_len").alias("atl"),
    )
    stats = feats.agg(
        F.avg("nt").alias("m_nt"),
        F.stddev_samp("nt").alias("s_nt"),
        F.avg("atl").alias("m_atl"),
        F.stddev_samp("atl").alias("s_atl"),
    )
    # nullif guards the zero-variance corpus (all docs identical): the
    # z-score is NULL there, never an ANSI divide-by-zero, and NULL z
    # means not-an-outlier.
    z_nt = F.round(
        (F.col("nt") - F.col("m_nt")) / F.nullif(F.col("s_nt"), F.lit(0.0)),
        round_to,
    )
    z_atl = F.round(
        (F.col("atl") - F.col("m_atl"))
        / F.nullif(F.col("s_atl"), F.lit(0.0)),
        round_to,
    )
    return feats.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        z_nt.alias("z_tokens"),
        z_atl.alias("z_token_len"),
        F.coalesce(
            (F.abs(z_nt) > z_max) | (F.abs(z_atl) > z_max), F.lit(False)
        ).alias("is_outlier"),
    )


C4_BLACKLIST: list[str] = ["lorem ipsum", "javascript", "cookie policy", "{"]


def c4_signals(
    text: Column,
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_frac: float = 0.8,
) -> dict[str, Column]:
    """The C4 signal columns and conjoined ``keep`` predicate as column
    expressions — the single source of truth for the ``c4_filters``
    stage's thresholds (including the upper word-count bound).
    """
    toks = tokens(text)
    n_words = F.size(toks)
    mean_len = F.round(
        F.aggregate(toks, F.lit(0), lambda a, w: a + F.length(w)).cast(
            "double"
        )
        / n_words,
        4,
    )
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = F.round(n_alpha.cast("double") / n_words, 4)
    lowered = F.lower(text)
    blacklist_hit = None
    for term in C4_BLACKLIST:
        hit = F.contains(lowered, F.lit(term))
        blacklist_hit = hit if blacklist_hit is None else (blacklist_hit | hit)

    # ``keep`` folds ALL numeric signals in ONE aggregate pass whose
    # ``finish`` lambda applies the thresholds, so the interpreted fold
    # appears exactly once in the predicate tree. Spark's subexpression
    # elimination covers repeated subtrees in PROJECTIONS but not inside
    # a FILTER predicate (measured: the reference-per-signal form
    # re-evaluated the split + both HOF passes per reference — ~4x this
    # form on the c4_filters stage). The scalar arithmetic inside
    # ``finish`` runs once per ROW, not per element, so its duplicate
    # round() subtrees are O(1) noise. Semantics are bit-identical to
    # the signal columns above: cnt == size(toks), same cast/round
    # order, nulls propagate the same way.
    def _merge(st: Column, w: Column) -> Column:
        return F.struct(
            (st["sum_len"] + F.length(w)).alias("sum_len"),
            (
                st["n_alpha"]
                + F.when(w.rlike("[A-Za-z]"), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_alpha"),
            (st["cnt"] + F.lit(1)).alias("cnt"),
        )

    def _finish(st: Column) -> Column:
        mean = F.round(st["sum_len"].cast("double") / st["cnt"], 4)
        alpha = F.round(st["n_alpha"].cast("double") / st["cnt"], 4)
        return (
            (st["cnt"] >= min_words)
            & (st["cnt"] <= max_words)
            & (mean >= min_mean_word_len)
            & (mean <= max_mean_word_len)
            & (alpha >= min_alpha_frac)
        )

    numeric_keep = F.aggregate(
        toks,
        F.struct(
            F.lit(0).alias("sum_len"),
            F.lit(0).alias("n_alpha"),
            F.lit(0).alias("cnt"),
        ),
        _merge,
        _finish,
    )
    keep = numeric_keep & ~blacklist_hit
    return {
        "n_words": n_words.cast("long"),
        "mean_word_len": mean_len,
        "alpha_frac": alpha_frac,
        "has_blacklist": blacklist_hit,
        "keep": keep,
    }


def c4_filters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    engine: str = "arrow",
) -> DataFrame:
    """C4-style heuristic document filters (Raffel et al. 2020, §2.2),
    adapted for flowed text: word-count bounds, mean word length bounds,
    fraction of words containing an alphabetic character, and the
    boilerplate blacklist (lorem ipsum / javascript / cookie policy /
    curly braces). ``keep`` conjoins them all.

    ``engine="arrow"`` (default, r12): same values from one mapInArrow
    batch pass — C-speed tokenize + counts instead of the interpreted
    HOF fold (guide §4.2; parity in tests/test_text_arrow.py).
    ``engine="expr"``: the pure column-expression form (one codegen'd
    scan, zero shuffle; its per-token fold runs interpreted).
    """
    if engine == "arrow":
        from impresso_ta.operators.text_arrow import c4_filters_arrow

        return c4_filters_arrow(
            docs,
            id_col=id_col,
            text_col=text_col,
            min_words=min_words,
            max_words=max_words,
            min_mean_word_len=min_mean_word_len,
            max_mean_word_len=max_mean_word_len,
            min_alpha_frac=min_alpha_frac,
        )
    sig = c4_signals(
        F.col(text_col),
        min_words=min_words,
        max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        min_alpha_frac=min_alpha_frac,
    )
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        sig["n_words"].alias("n_words"),
        sig["mean_word_len"].alias("mean_word_len"),
        sig["alpha_frac"].alias("alpha_frac"),
        sig["has_blacklist"].alias("has_blacklist"),
        sig["keep"].alias("keep"),
    )


#: auto-router threshold for the bigram LM: corpora whose estimated
#: scan size is below this stay on the JVM expression engine (the
#: Python boundary's fixed cost dominates tiny gram volumes); above it
#: the Arrow tokenizer wins (interpreted HOF cost grows with gram
#: volume, the boundary cost does not). Measured crossover brackets
#: (same-session interleaved, min-of-6): 0.59 MB docs → expr 0.96 s vs
#: arrow 1.78; 5.9 MB docs → expr 5.15 vs arrow 3.96. Conf-overridable:
#: spark.impresso_ta.lm.arrowMinBytes. At 100 TB the route is always
#: "arrow".
_LM_AUTO_ARROW_MIN_BYTES = 2 * 1024 * 1024


def _lm_engine_auto(docs: DataFrame) -> str:
    """Route the bigram-LM gram engine by the docs frame's OPTIMIZER
    SIZE ESTIMATE (plan stats — free, no job). A failed stats read
    raises rather than silently picking an engine."""
    est = int(
        str(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    thr = int(
        docs.sparkSession.conf.get(
            "spark.impresso_ta.lm.arrowMinBytes",
            str(_LM_AUTO_ARROW_MIN_BYTES),
        )
    )
    return "expr" if est < thr else "arrow"


def bigram_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
    engine: str = "auto",
) -> DataFrame:
    """Statistical-LM quality score (the CCNet/KenLM filter idea, with the
    corpus itself as training data): per-document mean negative
    log-likelihood under an add-one-smoothed word-bigram model
    P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V) estimated over the whole corpus.
    High ``avg_nll`` = surprising under corpus statistics (OCR garbage,
    boilerplate salad); the score a perplexity filter thresholds on.

    Scale shape: two passes over the bigram stream — (1) model estimation:
    groupBy(bigram) with map-side combine (uniform key), left-context
    totals derived FROM the bigram counts (vocabulary-sized, not
    corpus-sized), vocabulary size as a one-row broadcast; (2) scoring:
    the bigram stream equi-joins the model on the bigram key (AQE
    broadcast when the vocabulary is small, skew-split otherwise) and
    aggregates per doc. No all-pairs, zero corpus-proportional shuffles.

    ``engine="auto"`` (default, r13) routes by the docs frame's size
    estimate via :func:`_lm_engine_auto`. ``engine="arrow"``: both gram
    streams come from
    :func:`text_arrow.bigram_lm_gram_counts_arrow` — vectorized C-speed
    tokenization replaces the interpreted ``zip_with``/``concat_ws``
    HOF lambdas (guide §4.2); the model pass emits per-batch Counter
    partials (bigram space is vocabulary²-bounded) and the scoring pass
    per-doc (doc_id, g, c) counts. The vocabulary is derived from the
    model-side gram counts (distinct words == distinct gram parts,
    including the degenerate lone-token grams of sub-bigram documents —
    exact set equality, so ``count_distinct`` matches), removing the
    expr form's third corpus pass. Scoring folds the per-document mean
    as sum(c·nll)/sum(c) — the same value ``avg(nll)`` over exploded
    occurrences computes up to IEEE summation order, which the round-4
    contract surface absorbs (measured: rounded outputs bit-identical
    at sf0.001/0.01/0.1/1, with the fold-order perturbation ~1e-14
    against a ≥2e-9 distance to the nearest rounding boundary).
    Alternatives measured and rejected at sf1: contracting the expr
    form onto one (doc_id, g) aggregate (1.8× SLOWER — the corpus-
    proportional exchange costs more than the tokenize pass it saves)
    and sharing one Arrow pass through a repartition exchange (ditto).
    ``engine="expr"`` keeps the pure column-expression reference form.
    """
    if engine == "auto":
        engine = _lm_engine_auto(docs)
    if engine == "arrow":
        from impresso_ta.operators.text_arrow import (
            bigram_lm_gram_counts_arrow,
        )

        big_all = bigram_lm_gram_counts_arrow(docs, text_col).groupBy(
            "g"
        ).agg(F.sum("c").alias("cnt"))
        # distinct words == distinct gram parts (every token of a ≥2-token
        # doc is w1 of its gram or w2 of the last one; lone tokens are
        # their own degenerate gram); tokens cannot contain spaces, so
        # the split is exact
        vocab = big_all.select(
            F.explode(F.split(F.col("g"), F.lit(" "))).alias("w")
        ).agg(F.count_distinct("w").alias("v"))
        big_counts = big_all.where(
            F.contains(F.col("g"), F.lit(" "))
        ).select("g", F.col("cnt").alias("c2"))
        left_counts = (
            big_counts.select(
                F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
                "c2",
            )
            .groupBy("w1")
            .agg(F.sum("c2").alias("c1"))
        )
        model = (
            big_counts.withColumn(
                "w1", F.split_part(F.col("g"), F.lit(" "), F.lit(1))
            )
            .join(left_counts, "w1")
            .crossJoin(F.broadcast(vocab))
            .select(
                "g",
                (
                    -F.log(
                        (F.col("c2") + 1).cast("double")
                        / (F.col("c1") + F.col("v"))
                    )
                ).alias("nll"),
            )
        )
        return (
            bigram_lm_gram_counts_arrow(docs, text_col, id_col=id_col)
            .withColumnRenamed(id_col, "doc_id")
            .where(F.contains(F.col("g"), F.lit(" ")))
            .join(model, "g")
            .groupBy("doc_id")
            .agg(
                F.sum("c").cast("long").alias("n_bigrams"),
                F.round(
                    F.sum(F.col("c") * F.col("nll")) / F.sum("c"), round_to
                ).alias("avg_nll"),
            )
        )
    words = tokens(F.col(text_col))
    # Sub-bigram documents (size < 2) must drop out entirely: _gram_array's
    # concat_ws skips the missing right-hand word and would emit the lone
    # word as a degenerate "bigram", while the SQL oracle's
    # w[i] || ' ' || w[i+1] yields NULL there. A real bigram always
    # contains exactly one space (tokens split on \s+), so keep only those.
    grams = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(_gram_array(words, 2)).alias("g"),
    ).where(F.contains(F.col("g"), F.lit(" ")))
    big_counts = grams.groupBy("g").agg(F.count("*").alias("c2"))
    left_counts = (
        big_counts.select(
            F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"), "c2"
        )
        .groupBy("w1")
        .agg(F.sum("c2").alias("c1"))
    )
    vocab = docs.select(
        F.explode(tokens(F.col(text_col))).alias("w")
    ).agg(F.count_distinct("w").alias("v"))
    model = (
        big_counts.withColumn(
            "w1", F.split_part(F.col("g"), F.lit(" "), F.lit(1))
        )
        .join(left_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "g",
            (
                -F.log(
                    (F.col("c2") + 1).cast("double")
                    / (F.col("c1") + F.col("v"))
                )
            ).alias("nll"),
        )
    )
    return (
        grams.join(model, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg("nll"), round_to).alias("avg_nll"),
        )
    )


def repetition_signals(
    text: Column,
    top_word_max: float = 0.15,
    dup_2gram_max: float = 0.10,
    dup_3gram_max: float = 0.05,
) -> dict[str, Column]:
    """Gopher repetition signal columns as pure row-local expressions —
    the gram histogram of one document never needs to leave its row:
    sort the gram array and fold it once (``array_sort`` + ``aggregate``),
    tracking run lengths — a run of length r ≥ 2 contributes r duplicate
    occurrences, and the longest 1-gram run is the top-word count.
    Everything stays row-local inside one codegen'd stage (the fold
    lambdas themselves run interpreted per element — see `_gram_array`);
    at 100 TB this is embarrassingly parallel, versus the naive plan
    that shuffles 3× the token volume twice.

    This sits on the WIN side of the HOF-fold decision rule (see
    ``hashed_doc_vectors``): per-element state is O(1) — compare to the
    predecessor, bump two counters — so the interpreted-lambda cost per
    gram is constant and beating it would require a shuffle of the full
    gram volume. ``hashed_doc_vectors`` is the counter-example (O(dim)
    per element → explode + hash agg wins 70×).
    """
    words = tokens(text)

    def run_frac(n: int, field: str) -> Column:
        """ONE sort + ONE fold over the n-gram array, with the final
        fraction (``field``/total) produced by the ``finish`` lambda —
        so the whole signal is a single expression node. This matters in
        FILTER predicates: Spark eliminates repeated subtrees in
        projections but not inside a filter's predicate tree, so the
        earlier struct-returning form (fraction = two GetStructField
        refs over the fold + a separate size(array_sort(...))) ran the
        interpreted sort+fold up to 3x per signal when used as a filter
        — measured ~3x slower on the gopher_filters stage.

        Fold semantics: a new run starts whenever the gram differs from
        its predecessor; when a run reaches 2 both occurrences become
        duplicates, each further element adds one; ``cnt`` counts every
        element, so cnt == size(grams) and the division matches the old
        size()-based form bit-for-bit (same cast + round order).
        """
        grams = F.array_sort(_gram_array(words, n))
        # the accumulator carries only the fields THIS signal needs —
        # the merge lambda is interpreted per element, so every struct
        # field costs per-gram work: maxrun for the top-word signal,
        # dup for the duplicate-fraction signals, never both
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias(field),
            F.lit(0).cast("long").alias("cnt"),
        )

        def merge(st: Column, x: Column) -> Column:
            run = F.when(x == st["prev"], st["run"] + 1).otherwise(F.lit(1))
            if field == "dup":
                stat = st["dup"] + (
                    F.when(run == 2, F.lit(2))
                    .when(run > 2, F.lit(1))
                    .otherwise(F.lit(0))
                )
            else:
                stat = F.greatest(st["maxrun"], run)
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                stat.cast("long").alias(field),
                (st["cnt"] + F.lit(1)).alias("cnt"),
            )

        return F.aggregate(
            grams,
            init,
            merge,
            lambda st: F.round(st[field].cast("double") / st["cnt"], 4),
        )

    top_word = run_frac(1, "maxrun")
    dup2 = run_frac(2, "dup")
    dup3 = run_frac(3, "dup")
    return {
        "top_word_frac": top_word,
        "dup_2gram_frac": dup2,
        "dup_3gram_frac": dup3,
        "keep": (
            (top_word <= top_word_max)
            & (dup2 <= dup_2gram_max)
            & (dup3 <= dup_3gram_max)
        ),
    }


def repetition_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_word_max: float = 0.15,
    dup_2gram_max: float = 0.10,
    dup_3gram_max: float = 0.05,
    engine: str = "arrow",
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, §A1.1): fraction
    of tokens taken by the single most frequent word, and the fraction of
    2-/3-gram occurrences that are repeats of an earlier occurrence.
    ``keep`` applies the thresholds a pre-training pipeline would filter
    on. Zero shuffles — see ``repetition_signals``.

    ``engine="arrow"`` (default, r12): identical values from one
    mapInArrow pass — the three gram histograms are Counter loops at C
    speed instead of three interpreted sort+fold passes (guide §4.2;
    parity in tests/test_text_arrow.py). ``engine="expr"`` keeps the
    column-expression form.
    """
    if engine == "arrow":
        from impresso_ta.operators.text_arrow import (
            repetition_features_arrow,
        )

        return repetition_features_arrow(
            docs,
            id_col=id_col,
            text_col=text_col,
            top_word_max=top_word_max,
            dup_2gram_max=dup_2gram_max,
            dup_3gram_max=dup_3gram_max,
        )
    from impresso_ta.operators.partitioning import spread_small_input

    sig = repetition_signals(
        F.col(text_col),
        top_word_max=top_word_max,
        dup_2gram_max=dup_2gram_max,
        dup_3gram_max=dup_3gram_max,
    )
    return spread_small_input(docs).select(
        F.col(id_col).cast("long").alias("doc_id"),
        sig["top_word_frac"].alias("top_word_frac"),
        sig["dup_2gram_frac"].alias("dup_2gram_frac"),
        sig["dup_3gram_frac"].alias("dup_3gram_frac"),
        sig["keep"].alias("keep"),
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 100,
) -> DataFrame:
    """Corpus-level bigram collocations ranked by pointwise mutual
    information — the classic corpus-analysis op (Church & Hanks 1990)
    a vocabulary/tokenizer pipeline runs to decide merge-worthy pairs.

    Determinism contract: PMI is kept in EXACT integer space —
    ``pmi_scaled = ((c_xy*1_000_000) div c_x) * n_tokens div c_y``
    (a 1e6-scaled c_xy*N/(c_x*c_y) with a fixed association order), so
    Spark and any SQL oracle produce bit-identical ranks with no float
    log anywhere; callers wanting the log-PMI apply ln(pmi_scaled/1e6)
    row-locally on top. Ties rank lexicographically.

    Scale shape: one token explode -> TWO map-side-combined groupBys
    (unigrams, bigrams), unigram counts joined back twice (a vocabulary
    is tiny next to the corpus — Catalyst broadcasts it), top-n via
    TakeOrderedAndProject (no global sort materialization).
    """
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    toks = docs.select(words.alias("w")).filter(F.size("w") > 0)
    uni = (
        toks.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    n_tokens = uni.select(F.sum("c").alias("n"))
    bi = (
        # >=2 tokens: Spark's sequence(1, size-1) would DESCEND for a
        # single-token doc (sequence auto-steps -1) and index 0
        toks.filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 1),
                    lambda i: F.struct(
                        F.element_at("w", i).alias("x"),
                        F.element_at("w", i + 1).alias("y"),
                    ),
                )
            ).alias("b")
        )
        .select("b.x", "b.y")
        .groupBy("x", "y")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    ux = uni.select(F.col("tok").alias("x"), F.col("c").alias("c_x"))
    uy = uni.select(F.col("tok").alias("y"), F.col("c").alias("c_y"))
    scored = (
        bi.join(F.broadcast(ux), "x")
        .join(F.broadcast(uy), "y")
        .crossJoin(F.broadcast(n_tokens))
        .withColumn(
            "pmi_scaled",
            F.expr("((c_xy * 1000000L) div c_x) * n div c_y"),
        )
    )
    return (
        scored.select("x", "y", "c_xy", "c_x", "c_y", "pmi_scaled")
        .orderBy(
            F.col("pmi_scaled").desc(), F.col("x"), F.col("y")
        )
        .limit(top_n)
    )
