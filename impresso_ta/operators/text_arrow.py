"""Arrow-batch fast paths for the row-local text-quality operators
(guide §4.2: hand whole batches to native/C code instead of interpreted
JVM higher-order-function lambdas).

The C4 / Gopher / quality-feature operators in ``text_analysis`` are
pure row-local column programs — zero shuffles, the right 100 TB shape
— but their per-token work runs through Catalyst's INTERPRETED lambda
evaluator (``aggregate``/``zip_with`` lambdas get no codegen), which the
r11 stage decomposition measured as the entire cost of
``corpus_prepare_pipeline`` (13.0 s of 12.8 s sf1: one filter scan).
This module recomputes the same signals per Arrow batch in CPython,
where tokenization is one C regex split and the gram histograms are
``collections.Counter`` loops — constant work per token at C speed
instead of interpreted expression-tree walks.

Bit-parity discipline (the DuckDB oracles pin results at hash level):

- tokens come from :func:`arrowkit.java_tokens` (exact
  ``split(trim(text), '\\s+')`` twin, including the kept leading AND
  trailing empty strings);
- every rounded double is produced by :func:`spark_round` — the literal
  ``BigDecimal.valueOf(x).setScale(r, HALF_UP).doubleValue()`` (shortest
  decimal repr + HALF_UP), implemented with ``decimal`` on ``repr(x)``,
  unit-tested against Spark in tests/test_text_arrow.py;
- regex counts use ``re.ASCII`` so ``\\s`` is the Java default ASCII
  class; counting uses the same non-overlapping find loop semantics;
- NULL text propagates NULL signals and a NULL keep (dropped by
  filters), same as the JVM three-valued logic.

Equality of grams: tokens cannot contain ASCII whitespace (they are
split on ``\\s+``), so position tuples are exactly as discriminating as
the JVM's space-joined gram strings; a document shorter than the gram
size yields ONE short gram (the ``concat_ws`` null-drop semantics).
"""

from __future__ import annotations

import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from impresso_ta.operators.arrowkit import java_tokens

_ALPHA = re.compile(r"[A-Za-z]")
_PUNCT = re.compile(r"[^A-Za-z0-9\s]", re.ASCII)
_BPE_ISH = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", re.ASCII)
_WS_RUN = re.compile(r"\s+", re.ASCII)

_Q4 = Decimal(1).scaleb(-4)


def spark_round4(x: float) -> float:
    """Spark ``round(double, 4)``: BigDecimal.valueOf (shortest decimal
    repr — Python ``repr`` produces the same string) rounded HALF_UP."""
    return float(Decimal(repr(x)).quantize(_Q4, ROUND_HALF_UP))


def spark_round(x: float, r: int) -> float:
    """Spark ``round(double, r)`` — general-scale :func:`spark_round4`."""
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-r), ROUND_HALF_UP)
    )


def _c4_signals_py(
    text: str | None,
    min_words: int,
    max_words: int,
    min_mean_word_len: float,
    max_mean_word_len: float,
    min_alpha_frac: float,
    blacklist: tuple[str, ...],
) -> tuple:
    """(n_words, mean_word_len, alpha_frac, has_blacklist, keep) for one
    document — the exact value-twin of ``text_analysis.c4_signals``."""
    if text is None:
        return (None, None, None, None, None)
    toks = java_tokens(text)
    cnt = len(toks)  # split of "" is [""], so cnt >= 1 always
    sum_len = 0
    n_alpha = 0
    search = _ALPHA.search
    for w in toks:
        sum_len += len(w)
        if search(w) is not None:
            n_alpha += 1
    mean = spark_round4(sum_len / cnt)
    alpha = spark_round4(n_alpha / cnt)
    lowered = text.lower()
    has_blacklist = any(term in lowered for term in blacklist)
    keep = (
        cnt >= min_words
        and cnt <= max_words
        and mean >= min_mean_word_len
        and mean <= max_mean_word_len
        and alpha >= min_alpha_frac
        and not has_blacklist
    )
    return (cnt, mean, alpha, has_blacklist, keep)


def _grams(toks: list[str], n: int):
    """All position-order n-grams as tuples; a document shorter than n
    yields ONE short gram (``concat_ws`` drops the null padding)."""
    if n == 1:
        return toks
    if len(toks) < n:
        return [tuple(toks)]
    return list(zip(*(toks[i:] for i in range(n))))


def _rep_signals_py(
    text: str | None,
    top_word_max: float,
    dup_2gram_max: float,
    dup_3gram_max: float,
) -> tuple:
    """(top_word_frac, dup_2gram_frac, dup_3gram_frac, keep) for one
    document — value-twin of ``text_analysis.repetition_signals``: the
    longest run in the sorted gram array is the max multiplicity, and a
    run of length r >= 2 contributes r duplicate occurrences."""
    if text is None:
        return (None, None, None, None)
    toks = java_tokens(text)

    c1 = Counter(toks)
    n1 = len(toks)
    top_word = spark_round4(max(c1.values()) / n1)

    fr = [top_word]
    for n, in_toks in ((2, toks), (3, toks)):
        grams = _grams(in_toks, n)
        cnt = len(grams)
        dup = 0
        for c in Counter(grams).values():
            if c >= 2:
                dup += c
        fr.append(spark_round4(dup / cnt))

    keep = (
        fr[0] <= top_word_max
        and fr[1] <= dup_2gram_max
        and fr[2] <= dup_3gram_max
    )
    return (fr[0], fr[1], fr[2], keep)


def _quality_py(text: str | None) -> tuple:
    """(n_tokens, n_uniq, uniq_ratio, avg_token_len, punct_ratio,
    n_bpe_tokens) — value-twin of ``text_analysis.quality_features``."""
    if text is None:
        return (None, None, None, None, None, None)
    toks = java_tokens(text)
    n_tokens = len(toks)
    n_uniq = len(set(toks))
    tok_chars = sum(len(w) for w in toks)
    n_chars = len(text)
    n_punct = len(_PUNCT.findall(text))
    n_bpe = len(_BPE_ISH.findall(text))
    return (
        n_tokens,
        n_uniq,
        spark_round4(n_uniq / n_tokens),
        spark_round4(tok_chars / n_tokens),
        spark_round4(n_punct / max(n_chars, 1)),
        n_bpe,
    )


def _map_signals(docs: DataFrame, id_col, text_col, out_schema, row_fn):
    """Shared shape: project (id, text), one mapInArrow pass computing
    ``row_fn`` per document (guide §4.1: pass only the columns the
    function needs)."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    from impresso_ta.operators.partitioning import spread_small_input

    arrow_schema = to_arrow_schema(out_schema)
    names = [f.name for f in out_schema.fields]

    # parquet parallelism is row-group-bound: spread a small scan so the
    # Python pass uses every core (no-op at scale — see partitioning.py)
    base = spread_small_input(
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"), F.col(text_col)
        )
    )

    def fn(batches):
        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            cols = [[] for _ in names]
            for i, text in zip(ids, texts):
                cols[0].append(i)
                for j, v in enumerate(row_fn(text), start=1):
                    cols[j].append(v)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(c, type=arrow_schema.field(j).type)
                    for j, c in enumerate(cols)
                ],
                schema=arrow_schema,
            )

    return base.mapInArrow(fn, schema=out_schema)


C4_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_words", LongType()),
        StructField("mean_word_len", DoubleType()),
        StructField("alpha_frac", DoubleType()),
        StructField("has_blacklist", BooleanType()),
        StructField("keep", BooleanType()),
    ]
)

REP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("top_word_frac", DoubleType()),
        StructField("dup_2gram_frac", DoubleType()),
        StructField("dup_3gram_frac", DoubleType()),
        StructField("keep", BooleanType()),
    ]
)

QUALITY_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("n_uniq_tokens", LongType()),
        StructField("uniq_ratio", DoubleType()),
        StructField("avg_token_len", DoubleType()),
        StructField("punct_ratio", DoubleType()),
        StructField("n_bpe_tokens", LongType()),
    ]
)


def c4_filters_arrow(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    blacklist: tuple[str, ...] | None = None,
) -> DataFrame:
    """Arrow twin of ``text_analysis.c4_filters`` (bit-identical)."""
    from impresso_ta.operators.text_analysis import C4_BLACKLIST

    bl = tuple(C4_BLACKLIST) if blacklist is None else tuple(blacklist)

    def row(text):
        return _c4_signals_py(
            text,
            min_words,
            max_words,
            min_mean_word_len,
            max_mean_word_len,
            min_alpha_frac,
            bl,
        )

    return _map_signals(docs, id_col, text_col, C4_SCHEMA, row)


def repetition_features_arrow(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_word_max: float = 0.15,
    dup_2gram_max: float = 0.10,
    dup_3gram_max: float = 0.05,
) -> DataFrame:
    """Arrow twin of ``text_analysis.repetition_features``."""

    def row(text):
        return _rep_signals_py(
            text, top_word_max, dup_2gram_max, dup_3gram_max
        )

    return _map_signals(docs, id_col, text_col, REP_SCHEMA, row)


def quality_features_arrow(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Arrow twin of ``text_analysis.quality_features``."""
    return _map_signals(docs, id_col, text_col, QUALITY_SCHEMA, _quality_py)


def hashed_doc_vectors_arrow(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """Arrow twin of ``text_analysis.hashed_doc_vectors`` — the whole
    vector is assembled per document in its own batch row, so the
    explode → two hash aggregations → map-assembly plan (two corpus
    shuffles) collapses to ONE zero-shuffle scan pass (guide §4.2).

    Bit parity: bucket = md5-prefix48(word) % dim (hashlib md5 over
    UTF-8 == Spark md5); counts are exact ints, so the norm's c² sum is
    order-immune (< 2^53); the division and sqrt are single IEEE ops;
    rounding is :func:`spark_round`. NULL-text docs are absent from the
    output, matching the explode's empty generator. A per-task word →
    bucket memo amortizes the md5 over token repetitions.
    """
    import hashlib

    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import ArrayType

    from impresso_ta.operators.partitioning import spread_small_input

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("vector", ArrayType(DoubleType())),
        ]
    )
    arrow_schema = to_arrow_schema(out_schema)
    base = spread_small_input(
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"), F.col(text_col)
        )
    )

    def fn(batches):
        memo: dict[str, int] = {}

        def bucket(w: str) -> int:
            b = memo.get(w)
            if b is None:
                if len(memo) > 2_000_000:  # bound per-task residency
                    memo.clear()
                b = (
                    int(hashlib.md5(w.encode("utf-8")).hexdigest()[:12], 16)
                    % dim
                )
                memo[w] = b
            return b

        from math import sqrt

        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_ids: list[int] = []
            out_vecs: list[list[float]] = []
            for i, text in zip(ids, texts):
                if text is None:
                    continue  # explode of NULL tokens emits no rows
                counts = Counter(bucket(w) for w in java_tokens(text))
                nrm = sqrt(float(sum(c * c for c in counts.values())))
                vec = [0.0] * dim
                for b, c in counts.items():
                    vec[b] = spark_round(c / nrm, round_to)
                out_ids.append(i)
                out_vecs.append(vec)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, type=pa.int64()),
                    pa.array(out_vecs, type=arrow_schema.field(1).type),
                ],
                schema=arrow_schema,
            )

    return base.mapInArrow(fn, schema=out_schema)


def scorecard_flags_arrow(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = ("n_chars",),
) -> DataFrame:
    """The text-quality scorecard's row-local flags in one Arrow pass:
    (doc_id, keep_c4, keep_gopher, _fp, *extra_cols) where ``_fp`` is
    ``dedup.text_fingerprint`` (md5 of whitespace-collapsed lowercase
    text — hashlib md5 over the identically normalized string). The
    uniqueness window stays JVM-side (it needs the shuffle)."""
    import hashlib

    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StringType

    from impresso_ta.operators.partitioning import spread_small_input
    from impresso_ta.operators.text_analysis import C4_BLACKLIST

    bl = tuple(C4_BLACKLIST)
    in_cols = [F.col(id_col).cast("long").alias("doc_id"), F.col(text_col)]
    in_cols += [F.col(c) for c in extra_cols]
    base = spread_small_input(docs.select(*in_cols))
    out_fields = [
        StructField("doc_id", LongType()),
        StructField("keep_c4", BooleanType()),
        StructField("keep_gopher", BooleanType()),
        StructField("_fp", StringType()),
    ]
    out_fields += [base.schema[c] for c in extra_cols]
    out_schema = StructType(out_fields)
    arrow_schema = to_arrow_schema(out_schema)
    n_extra = len(extra_cols)

    def fn(batches):
        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            c_id, c_c4, c_g, c_fp = [], [], [], []
            for i, text in zip(ids, texts):
                c_id.append(i)
                if text is None:
                    c_c4.append(None)
                    c_g.append(None)
                    c_fp.append(None)
                    continue
                c_c4.append(
                    _c4_signals_py(text, 20, 100_000, 3.0, 10.0, 0.8, bl)[4]
                )
                c_g.append(_rep_signals_py(text, 0.15, 0.10, 0.05)[3])
                c_fp.append(
                    hashlib.md5(
                        _WS_RUN.sub(
                            " ", text.strip(" ").lower()
                        ).encode("utf-8")
                    ).hexdigest()
                )
            arrays = [
                pa.array(c_id, type=pa.int64()),
                pa.array(c_c4, type=pa.bool_()),
                pa.array(c_g, type=pa.bool_()),
                pa.array(c_fp, type=pa.string()),
            ]
            for j in range(n_extra):
                arrays.append(batch.column(2 + j))
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return base.mapInArrow(fn, schema=out_schema)


def _lm_grams_py(text: str) -> list[str]:
    """Python twin of the bigram-LM gram stream: ``explode(_gram_array
    (tokens(text), 2))`` BEFORE its ``contains(' ')`` filter — a document
    with fewer than 2 tokens yields its lone token as ONE degenerate
    space-free "gram" (``concat_ws`` drops the null zip padding), which
    downstream consumers filter for the model but keep for the
    vocabulary derivation. Tokens come from :func:`arrowkit.java_tokens`
    (bit-exact ``F.split(F.trim(text), r"\\s+")``); tokens can never
    contain ``\\s``, so ``w1 + " " + w2`` is injective and the gram's
    parts recover the exact token pair."""
    toks = java_tokens(text)
    if len(toks) < 2:
        return toks
    return [a + " " + b for a, b in zip(toks, toks[1:])]


def bigram_lm_gram_counts_arrow(
    docs: DataFrame,
    text_col: str,
    id_col: str | None = None,
) -> DataFrame:
    """Bigram occurrence counts in one Arrow pass (guide §4.2) —
    replaces the tokenize + interpreted ``zip_with``/``concat_ws`` gram
    assembly + explode subtree of :func:`text_analysis.bigram_lm_scores`.

    ``id_col=None`` → corpus mode: ONE aggregated Counter per Arrow
    batch emitted as (g, c) partials — the JVM's map-side-combined
    ``groupBy(g).sum(c)`` collapses them to the identical corpus
    counts (the bigram key space is vocabulary²-bounded, so partials
    are tiny). With ``id_col`` → per-document (id, g, c) rows for the
    scoring side. Both modes emit the DEGENERATE lone-token gram of
    sub-bigram documents (see :func:`_lm_grams_py`) so the vocabulary
    — distinct words = distinct gram parts, including lone tokens — is
    derivable downstream without a third corpus pass. Counts are exact
    ints; NULL text emits nothing (explode-of-NULL semantics).
    """
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    from impresso_ta.operators.partitioning import spread_small_input

    per_doc = id_col is not None
    fields = (
        [StructField(id_col, LongType())] if per_doc else []
    ) + [StructField("g", StringType()), StructField("c", LongType())]
    out_schema = StructType(fields)
    arrow_schema = to_arrow_schema(out_schema)
    sel = (
        [F.col(id_col).cast("long").alias(id_col)] if per_doc else []
    ) + [F.col(text_col)]
    base = spread_small_input(docs.select(*sel))
    t_idx = 1 if per_doc else 0

    def fn(batches):
        for batch in batches:
            texts = batch.column(t_idx).to_pylist()
            if per_doc:
                ids = batch.column(0).to_pylist()
                o_id, o_g, o_c = [], [], []
                for i, text in zip(ids, texts):
                    if text is None:
                        continue
                    for g, c in Counter(_lm_grams_py(text)).items():
                        o_id.append(i)
                        o_g.append(g)
                        o_c.append(c)
                arrays = [
                    pa.array(o_id, type=pa.int64()),
                    pa.array(o_g, type=pa.string()),
                    pa.array(o_c, type=pa.int64()),
                ]
            else:
                counts = Counter()
                for text in texts:
                    if text is None:
                        continue
                    counts.update(_lm_grams_py(text))
                arrays = [
                    pa.array(list(counts.keys()), type=pa.string()),
                    pa.array(list(counts.values()), type=pa.int64()),
                ]
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return base.mapInArrow(fn, schema=out_schema)


def _dsir_terms_py(toks: list[str], ngram: int) -> list[str]:
    """Python twin of ``corpus._dsir_feature_terms``: unigrams, plus
    space-joined adjacent bigrams when ``ngram == 2`` (a single-token
    doc contributes no bigrams — the zip truncates, like the JVM
    slice/zip_with)."""
    if ngram == 1:
        return toks
    return toks + [a + " " + b for a, b in zip(toks, toks[1:])]


def dsir_bucket_counts_arrow(
    docs: DataFrame,
    text_col: str,
    dim: int,
    ngram: int,
    id_col: str | None = None,
) -> DataFrame:
    """The DSIR hashed-feature bucket counts in one Arrow pass
    (guide §4.2) — replaces the term explode + md5-per-occurrence +
    groupBy shuffle.

    ``id_col=None`` → corpus mode: ONE aggregated Counter per Arrow
    batch (≤dim rows each) is emitted as (bucket, c) partials — the
    JVM's map-side-combined ``groupBy(bucket).sum`` collapses them to
    the identical corpus counts. With ``id_col`` → per-document
    (id, bucket, c) rows (the ``doc_b`` frame). hashlib md5 == Spark
    md5 over UTF-8; counts are exact ints; a per-task word→bucket memo
    amortizes the hashing.
    """
    import hashlib

    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    from impresso_ta.operators.partitioning import spread_small_input

    per_doc = id_col is not None
    fields = (
        [StructField(id_col, LongType())] if per_doc else []
    ) + [StructField("bucket", LongType()), StructField("c", LongType())]
    out_schema = StructType(fields)
    arrow_schema = to_arrow_schema(out_schema)
    sel = (
        [F.col(id_col).cast("long").alias(id_col)] if per_doc else []
    ) + [F.col(text_col)]
    base = spread_small_input(docs.select(*sel))
    t_idx = 1 if per_doc else 0

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
            texts = batch.column(t_idx).to_pylist()
            if per_doc:
                ids = batch.column(0).to_pylist()
                o_id, o_b, o_c = [], [], []
                for i, text in zip(ids, texts):
                    if text is None:
                        continue  # explode of NULL terms emits no rows
                    counts = Counter(
                        bucket(t)
                        for t in _dsir_terms_py(java_tokens(text), ngram)
                    )
                    for b, c in counts.items():
                        o_id.append(i)
                        o_b.append(b)
                        o_c.append(c)
                arrays = [
                    pa.array(o_id, type=pa.int64()),
                    pa.array(o_b, type=pa.int64()),
                    pa.array(o_c, type=pa.int64()),
                ]
            else:
                counts = Counter()
                for text in texts:
                    if text is None:
                        continue
                    counts.update(
                        bucket(t)
                        for t in _dsir_terms_py(java_tokens(text), ngram)
                    )
                arrays = [
                    pa.array(list(counts.keys()), type=pa.int64()),
                    pa.array(list(counts.values()), type=pa.int64()),
                ]
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return base.mapInArrow(fn, schema=out_schema)


def filter_keep_arrow(
    docs: DataFrame,
    text_col: str = "text",
    c4: bool = True,
    gopher: bool = True,
) -> DataFrame:
    """Pass-through corpus filter: drop rows failing the C4 and/or
    Gopher ``keep`` predicates, all columns preserved — the pipeline's
    filter stack as ONE Arrow pass (one tokenization feeds both
    families; the JVM form tokenizes per signal family).

    Survivor set is bit-identical to
    ``docs.filter(c4_signals(text)['keep'])
         .filter(repetition_signals(text)['keep'])`` at their default
    thresholds (parity-tested). NULL keep (NULL text) drops the row,
    matching ``Filter``'s three-valued logic.
    """
    import pyarrow as pa

    from impresso_ta.operators.text_analysis import C4_BLACKLIST

    bl = tuple(C4_BLACKLIST)
    idx = docs.columns.index(text_col)
    schema = docs.schema

    from impresso_ta.operators.partitioning import spread_small_input

    docs = spread_small_input(docs)

    def fn(batches):
        for batch in batches:
            texts = batch.column(idx).to_pylist()
            mask = []
            for text in texts:
                ok = text is not None
                if ok and c4:
                    ok = bool(
                        _c4_signals_py(text, 20, 100_000, 3.0, 10.0, 0.8, bl)[4]
                    )
                if ok and gopher:
                    ok = bool(_rep_signals_py(text, 0.15, 0.10, 0.05)[3])
                mask.append(ok)
            yield batch.filter(pa.array(mask, type=pa.bool_()))

    return docs.mapInArrow(fn, schema=schema)
