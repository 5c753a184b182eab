"""Parity tests for the Arrow text-stats fast paths (round 12): every
signal frame must be BIT-IDENTICAL to the JVM expression form it
replaces — same doubles, same booleans, same NULL propagation — on an
adversarial corpus exercising tokenizer edges (leading/trailing
whitespace, empty text, NULL text, unicode, single tokens, short docs,
heavy repetition, rounding-boundary fractions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from impresso_ta.operators import text_analysis as ta
from impresso_ta.operators import text_arrow as tx


ADVERSARIAL = [
    (1, "the quick brown fox jumps over the lazy dog " * 3),
    (2, ""),
    (3, None),
    (4, "   "),
    (5, "\tword\t"),
    (6, "one"),
    (7, "a b a b a b a b a b a b a b a b a b a b"),
    (8, "x " * 25),  # heavy 1-gram repetition, 25 words
    (9, "lorem ipsum dolor sit amet " * 5),
    (10, "wordy " * 19),  # just under min_words
    (11, "wordy " * 20),  # exactly min_words
    (12, "aaa bbb ccc ddd eee fff ggg hhh iii jjj " * 2),
    (13, "123 456 789 !!! ??? ..."),
    (14, "héllo wörld ünïcode tëxt " * 8),
    (15, "ab " * 40),  # mean_word_len 2.0 < 3.0
    (16, "abc " * 40),  # mean_word_len exactly 3.0
    (17, "abcdefghij " * 40),  # mean exactly 10.0
    (18, "abcdefghijk " * 40),  # mean 11.0 > 10.0
    (19, "w1 w2 w3 w1 w2 w3 w1 w2 w3 " * 4),
    (20, "{ json blob }"),
    (21, "newline\nsplit\ttab split " * 10),
    (22, "trailing tab then\t"),
    (23, "a" * 500),
    (24, ("tok%d " % 7) * 7 + " ".join(f"tok{i}" for i in range(30))),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ADVERSARIAL, "doc_id long, text string")


def _assert_frames_equal(a, b, key="doc_id"):
    ra = {r[key]: tuple(r) for r in a.collect()}
    rb = {r[key]: tuple(r) for r in b.collect()}
    assert a.columns == b.columns
    assert set(ra) == set(rb)
    for k in ra:
        assert ra[k] == rb[k], f"{key}={k}: {ra[k]} != {rb[k]}"


def test_c4_parity(docs):
    _assert_frames_equal(
        ta.c4_filters(docs, engine="expr"), tx.c4_filters_arrow(docs)
    )


def test_repetition_parity(docs):
    _assert_frames_equal(
        ta.repetition_features(docs, engine="expr"),
        tx.repetition_features_arrow(docs),
    )


def test_quality_parity(docs):
    _assert_frames_equal(
        ta.quality_features(docs, engine="expr"),
        tx.quality_features_arrow(docs),
    )


def test_filter_keep_parity(docs):
    jvm = docs.filter(
        ta.c4_signals(F.col("text"))["keep"]
    ).filter(ta.repetition_signals(F.col("text"))["keep"])
    arrow = tx.filter_keep_arrow(docs, c4=True, gopher=True)
    assert sorted(r["doc_id"] for r in jvm.collect()) == sorted(
        r["doc_id"] for r in arrow.collect()
    )
    # single-family forms too
    jvm_c4 = docs.filter(ta.c4_signals(F.col("text"))["keep"])
    arrow_c4 = tx.filter_keep_arrow(docs, c4=True, gopher=False)
    assert sorted(r["doc_id"] for r in jvm_c4.collect()) == sorted(
        r["doc_id"] for r in arrow_c4.collect()
    )
    jvm_g = docs.filter(ta.repetition_signals(F.col("text"))["keep"])
    arrow_g = tx.filter_keep_arrow(docs, c4=False, gopher=True)
    assert sorted(r["doc_id"] for r in jvm_g.collect()) == sorted(
        r["doc_id"] for r in arrow_g.collect()
    )
    # all columns must survive the pass-through untouched
    assert arrow.columns == docs.columns


def test_filter_keep_preserves_values(docs):
    arrow = tx.filter_keep_arrow(docs, c4=True, gopher=True)
    surviving = {r["doc_id"]: r["text"] for r in arrow.collect()}
    original = {r["doc_id"]: r["text"] for r in docs.collect()}
    for k, v in surviving.items():
        assert original[k] == v


def test_doc_vectors_parity(docs):
    from impresso_ta.operators import text_analysis as ta

    expr = ta.hashed_doc_vectors(docs, engine="expr")
    arrow = tx.hashed_doc_vectors_arrow(docs)
    ra = {r["doc_id"]: list(r["vector"]) for r in expr.collect()}
    rb = {r["doc_id"]: list(r["vector"]) for r in arrow.collect()}
    assert set(ra) == set(rb)  # NULL-text doc absent from both
    for k in ra:
        assert ra[k] == rb[k], k


def test_scorecard_flags_parity(spark, docs):
    from impresso_ta.operators import dedup
    from impresso_ta.operators import text_analysis as ta

    with_extra = docs.withColumn("n_chars", F.length("text"))
    jvm = with_extra.select(
        "doc_id",
        ta.c4_signals(F.col("text"))["keep"].alias("keep_c4"),
        ta.repetition_signals(F.col("text"))["keep"].alias("keep_gopher"),
        dedup.text_fingerprint(F.col("text")).alias("_fp"),
        "n_chars",
    )
    arrow = tx.scorecard_flags_arrow(with_extra, extra_cols=("n_chars",))
    _assert_frames_equal(jvm, arrow)


@pytest.mark.parametrize("tf", [False, True])
def test_hashed_bucket_counts_parity(docs, tf):
    from impresso_ta.operators.classifier import hashed_bucket_counts

    expr = hashed_bucket_counts(docs, dim=64, tf=tf, engine="expr")
    arrow = hashed_bucket_counts(docs, dim=64, tf=tf, engine="arrow")
    ka = sorted(map(tuple, expr.collect()))
    kb = sorted(map(tuple, arrow.collect()))
    assert ka == kb
    assert [f.dataType for f in expr.schema.fields[1:]] == [
        f.dataType for f in arrow.schema.fields[1:]
    ]


@pytest.mark.parametrize("ngram", [1, 2])
def test_dsir_weights_parity(spark, docs, ngram):
    from impresso_ta.operators.corpus import dsir_log_weights

    target = docs.filter(F.col("doc_id") % 4 == 1)
    a = dsir_log_weights(docs, target, ngram=ngram, engine="expr")
    b = dsir_log_weights(docs, target, ngram=ngram, engine="arrow")
    ra = {r["doc_id"]: r["dsir_logw"] for r in a.collect()}
    rb = {r["doc_id"]: r["dsir_logw"] for r in b.collect()}
    assert ra == rb


def test_spark_round4_matches_spark(spark):
    vals = [
        0.15, 0.05, 3.0, 10.0, 0.8, 0.12345, 0.123449999, 0.99995,
        2.99995, 2.9999499999999997, 0.074999999999999997, 1 / 3, 2 / 7,
        5.0, 0.0, 123.456789, 0.00005, 0.000049999999999,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.select(F.round("x", 4).alias("r")).collect()
    for v, row in zip(vals, got):
        assert tx.spark_round4(v) == row["r"], v.hex()


def test_bigram_lm_scores_parity(spark, docs):
    expr = ta.bigram_lm_scores(docs, engine="expr")
    arrow = ta.bigram_lm_scores(docs, engine="arrow")
    _assert_frames_equal(expr, arrow)


def test_bigram_lm_gram_counts_match_expr_explode(spark, docs):
    # the arrow gram stream (BEFORE the contains-space filter) must be
    # the exact multiset the JVM explode produces, including the
    # degenerate lone-token grams of sub-bigram documents
    expr_grams = (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(ta._gram_array(ta.tokens(F.col("text")), 2)).alias(
                "g"
            ),
        )
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
    )
    arrow_grams = tx.bigram_lm_gram_counts_arrow(
        docs, "text", id_col="doc_id"
    )
    ra = {(r["doc_id"], r["g"]): r["c"] for r in expr_grams.collect()}
    rb = {(r["doc_id"], r["g"]): r["c"] for r in arrow_grams.collect()}
    assert ra == rb
    # corpus mode: map-side partials aggregate to the identical totals
    corpus = {
        r["g"]: r["t"]
        for r in tx.bigram_lm_gram_counts_arrow(docs, "text")
        .groupBy("g")
        .agg(F.sum("c").alias("t"))
        .collect()
    }
    per_doc_totals = {}
    for (_, g), c in rb.items():
        per_doc_totals[g] = per_doc_totals.get(g, 0) + c
    assert corpus == per_doc_totals


def test_bigram_lm_auto_routes_by_size(spark, docs, tmp_path):
    # in-memory frames have no usable size estimate → conservative arrow
    assert ta._lm_engine_auto(docs) == "arrow"
    # a parquet-backed tiny frame routes to the JVM expression engine
    # (Python-boundary fixed cost); the conf override flips the route
    path = str(tmp_path / "docs.parquet")
    docs.write.parquet(path)
    small = spark.read.parquet(path)
    assert ta._lm_engine_auto(small) == "expr"
    spark.conf.set("spark.impresso_ta.lm.arrowMinBytes", "1")
    try:
        assert ta._lm_engine_auto(small) == "arrow"
    finally:
        spark.conf.unset("spark.impresso_ta.lm.arrowMinBytes")
