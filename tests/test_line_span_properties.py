"""Property tests: word_spans chunking matches the naive reference on
arbitrary word lists, line_dedup invariants hold on random corpora, and
the corpus pipeline's line-dedup core agrees with line_dedup."""

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from impresso_ta.operators.dedup import line_dedup, line_dedup_kept, word_spans

_WORD = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=6,
)


def _ref_spans(words: list[str], k: int) -> list[str]:
    return [" ".join(words[i : i + k]) for i in range(0, len(words), k)]


@given(words=st.lists(_WORD, min_size=1, max_size=40), k=st.integers(2, 12))
@settings(max_examples=25, deadline=None)
def test_word_spans_matches_reference(spark, words, k):
    text = " ".join(words)
    got = spark.range(1).select(
        word_spans(F.lit(text), k).alias("s")
    ).collect()[0]["s"]
    assert got == _ref_spans(words, k)


@given(
    corpus=st.lists(
        st.lists(_WORD, min_size=1, max_size=30), min_size=1, max_size=8
    ),
    k=st.integers(2, 6),
)
@settings(max_examples=15, deadline=None)
def test_line_dedup_invariants(spark, corpus, k):
    rows = [(i, " ".join(words)) for i, words in enumerate(corpus)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(docs, span_words=k).collect()}
    assert set(out) == {i for i, _ in rows}

    # reference: global first-occurrence keep, scanning docs in id order
    seen: set[str] = set()
    for i, words in enumerate(corpus):
        kept = []
        spans = _ref_spans(words, k)
        for s in spans:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        assert out[i]["n_spans"] == len(spans)
        assert out[i]["n_kept"] == len(kept)
    # corpus-level conservation: total kept == number of distinct spans
    assert sum(r["n_kept"] for r in out.values()) == len(seen)


@given(
    corpus=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=1, max_size=24),
        min_size=1,
        max_size=8,
    ),
    k=st.integers(1, 4),
)
@settings(max_examples=15, deadline=None)
def test_line_dedup_core_matches_line_dedup(spark, corpus, k):
    """The pipeline's core (documents that keep a span, with their kept
    text) is line_dedup(with_text=True) without its zero-kept rows, and
    both match the first-occurrence reference. A four-word vocabulary
    makes repeated spans, and emptied documents, common."""
    rows = [(i, " ".join(words)) for i, words in enumerate(corpus)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    core = {
        (r["doc_id"], r["n_kept"], r["kept_text"])
        for r in line_dedup_kept(docs, span_words=k).collect()
    }
    full = {
        (r["doc_id"], r["n_kept"], r["kept_text"])
        for r in line_dedup(docs, span_words=k, with_text=True)
        .filter(F.col("n_kept") > 0)
        .collect()
    }
    seen: set[str] = set()
    ref = set()
    for i, words in enumerate(corpus):
        kept = []
        for s in _ref_spans(words, k):
            if s not in seen:
                seen.add(s)
                kept.append(s)
        if kept:
            ref.add((i, len(kept), " ".join(kept)))
    assert core == full == ref


def test_line_dedup_correct_under_extreme_span_skew(spark):
    """A boilerplate span in half the corpus: the groupBy(min) shape must
    stay correct (the reason it isn't a window over the span key)."""
    boiler = " ".join(f"b{i}" for i in range(5))
    rows = []
    for i in range(400):
        uniq = " ".join(f"u{i}_{j}" for j in range(5))
        rows.append((i, f"{boiler} {uniq}" if i % 2 == 0 else uniq))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(docs, span_words=5).collect()}
    assert len(out) == 400
    # doc 0 holds the first occurrence; every later even doc loses it
    assert out[0]["n_kept"] == 2
    for i in range(2, 400, 2):
        assert out[i]["n_spans"] == 2 and out[i]["n_kept"] == 1, i
    for i in range(1, 400, 2):
        assert out[i]["n_kept"] == 1
