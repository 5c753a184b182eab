"""Property tests: the zip_with shingle construction (dedup.word_shingles)
matches the naive sliding-window reference on arbitrary word lists, and
jaccard_pairs matches exact Jaccard over those shingle sets."""

from decimal import ROUND_HALF_UP, Decimal

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from impresso_ta.operators.dedup import jaccard_pairs, word_shingles

_WORD = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=8,
)


def _ref_shingles(words: list[str], k: int) -> set[str]:
    if len(words) < k:
        return {" ".join(words)}
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


@given(words=st.lists(_WORD, min_size=1, max_size=25), k=st.integers(2, 4))
@settings(max_examples=25, deadline=None)
def test_word_shingles_matches_reference(spark, words, k):
    text = " ".join(words)
    got = spark.range(1).select(
        word_shingles(F.lit(text), k).alias("sh")
    ).collect()[0]["sh"]
    assert set(got) == _ref_shingles(words, k)
    # distinctness
    assert len(got) == len(set(got))


def _round4(x: float) -> float:
    """Spark's ``round(x, 4)`` on a double: HALF_UP on its decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


@given(
    corpus=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=1, max_size=10),
        min_size=2,
        max_size=7,
    ),
    threshold=st.sampled_from([0.2, 0.5, 0.7, 1.0]),
)
@settings(max_examples=15, deadline=None)
def test_jaccard_pairs_matches_reference(spark, corpus, threshold):
    """Exact Jaccard over the word_shingles sets, rounded to 4 places,
    kept at or above the threshold, one row per pair with a < b. A
    five-word vocabulary makes shared shingles common."""
    rows = [(i, " ".join(words)) for i, words in enumerate(corpus)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, k=3, threshold=threshold).collect()
    }
    sets = [_ref_shingles(words, 3) for words in corpus]
    ref = {}
    for a in range(len(sets)):
        for b in range(a + 1, len(sets)):
            j = _round4(len(sets[a] & sets[b]) / len(sets[a] | sets[b]))
            if j >= threshold:
                ref[(a, b)] = j
    assert got == ref
