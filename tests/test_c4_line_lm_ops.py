"""C4 filters, corpus-wide line dedup, bigram-LM scoring, text normalization:
hand-checkable invariants on tiny inputs + plan-shape assertions."""

import hashlib
import math

from pyspark.sql import functions as F

from impresso_ta.operators.dedup import line_dedup
from impresso_ta.operators.text_analysis import bigram_lm_scores, c4_filters


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_line_dedup_keeps_first_occurrence(spark):
    span = " ".join(f"w{i}" for i in range(10))  # one full 10-word span
    tail_a = " ".join(f"a{i}" for i in range(10))
    tail_b = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (0, f"{span} {tail_a}"),  # first occurrence of span
            (1, f"{span} {tail_b}"),  # duplicate span → dropped
            (2, tail_b),  # duplicate of doc 1's tail → dropped entirely
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, span_words=10).collect()}
    assert out[0]["n_spans"] == 2 and out[0]["n_kept"] == 2
    assert out[0]["kept_fp"] == _md5(f"{span} {tail_a}")
    assert out[1]["n_spans"] == 2 and out[1]["n_kept"] == 1
    assert out[1]["kept_fp"] == _md5(tail_b)
    assert out[2]["n_spans"] == 1 and out[2]["n_kept"] == 0
    assert out[2]["kept_fp"] == _md5("")


def test_line_dedup_plan_has_no_window(spark):
    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = line_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    # the scale-safe shape: first-occurrence via partial-agg groupBy,
    # never a window over the (skewable) span-hash key
    assert "Window" not in plan


def test_c4_filters_rules(spark):
    good = " ".join(f"word{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (0, good),
            (1, "too short"),
            (2, good + " visit javascript now"),
            (3, " ".join(["12345"] * 30)),  # no alphabetic words
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_filters(docs).collect()}
    assert out[0]["keep"] and not out[0]["has_blacklist"]
    assert not out[1]["keep"]  # below min_words
    assert out[2]["has_blacklist"] and not out[2]["keep"]
    assert out[3]["alpha_frac"] == 0.0 and not out[3]["keep"]


def test_bigram_lm_prefers_frequent_bigrams(spark):
    # "x y" appears in every repeat doc → high count → low NLL;
    # doc 9's bigrams are unique → maximally surprising.
    docs = spark.createDataFrame(
        [(i, "x y x y x y") for i in range(9)] + [(9, "q r s t u v")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["avg_nll"] for r in bigram_lm_scores(docs).collect()}
    assert out[9] > out[0]
    # hand-check doc 9: vocabulary V=8 (x,y,q,r,s,t,u,v); each of its 5
    # bigrams has c2=1, left-context c1=1 → nll = -ln(2/(1+8))
    assert out[9] == round(-math.log(2.0 / 9.0), 4)


def test_hashed_doc_vectors_unit_norm_and_similarity(spark):
    from impresso_ta.operators.text_analysis import hashed_doc_vectors

    docs = spark.createDataFrame(
        [
            (0, "spark shuffles the corpus by key"),
            (1, "spark shuffles the corpus by key"),  # exact dup of 0
            (2, "an entirely different set of words here"),
        ],
        "doc_id long, text string",
    )
    vecs = hashed_doc_vectors(docs)
    rows = {r["doc_id"]: r["vector"] for r in vecs.collect()}
    assert len(rows) == 3 and all(len(v) == 64 for v in rows.values())
    for v in rows.values():
        assert abs(sum(x * x for x in v) - 1.0) < 1e-4  # unit norm
    assert rows[0] == rows[1] != rows[2]


def test_normalize_text_rules(spark):
    from impresso_ta.operators.text_analysis import normalized_docs

    docs = spark.createDataFrame(
        [
            (0, "plain text stays"),
            (1, "curly “quotes” and — dash"),
            (2, "ctrl\x07chars\tand   runs"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in normalized_docs(docs).collect()}
    assert out[0]["text"] == "plain text stays" and not out[0]["changed"]
    assert out[1]["text"] == 'curly "quotes" and - dash' and out[1]["changed"]
    assert out[2]["text"] == "ctrlchars and runs" and out[2]["changed"]


def test_quality_outliers_flags_extremes(spark):
    from impresso_ta.operators.text_analysis import quality_outliers

    rows = [(i, "word " * 20) for i in range(30)] + [(99, "word " * 2000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in quality_outliers(docs).collect()}
    assert out[99]["is_outlier"] and out[99]["z_tokens"] > 3
    assert not out[0]["is_outlier"]


def test_deterministic_split_stable_on_subsets(spark):
    from impresso_ta.operators.corpus import deterministic_split

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    full = {
        r["doc_id"]: r["split"]
        for r in deterministic_split(docs, fr).collect()
    }
    assert set(full.values()) == {"train", "val", "test"}
    # subset invariance: halving the corpus never moves a doc's split
    half = {
        r["doc_id"]: r["split"]
        for r in deterministic_split(
            docs.filter("doc_id % 2 = 0"), fr
        ).collect()
    }
    for doc_id, split in half.items():
        assert full[doc_id] == split

    import pytest

    with pytest.raises(ValueError):
        deterministic_split(docs, {"train": 0.5, "val": 0.1})


def test_language_consistency_flags_code_switching(spark):
    from impresso_ta.operators.text_analysis import language_consistency

    en = "the cat and the dog is of the house to go " * 2
    fr = "le chat et les chiens des villes et le pont " * 2
    docs = spark.createDataFrame(
        [
            (0, en + en + en + en),       # pure English
            (1, en + en + fr + fr),       # half-and-half → mixed
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in language_consistency(docs, span_words=20).collect()
    }
    assert out[0]["majority_lang"] == "en" and not out[0]["is_mixed"]
    assert out[1]["is_mixed"] and out[1]["majority_frac"] < 0.8
    assert out[1]["majority_lang"] in ("en", "fr")


def test_incremental_minhash_dedup_drops_only_near_dups(spark):
    """New docs near-duplicating an EXISTING doc are dropped; new docs
    that only near-duplicate each OTHER both survive (incremental gate
    compares against the ingested corpus, not within the batch)."""
    from impresso_ta.operators.dedup import incremental_minhash_dedup

    base = " ".join(f"tok{i}" for i in range(60))
    other = " ".join(f"w{i} v{i}" for i in range(40))
    existing = spark.createDataFrame(
        [(0, base), (2, other)], "doc_id long, text string"
    )
    twin_a = base + " extra"
    batch_dup = " ".join(f"z{i} y{i}" for i in range(50))
    new = spark.createDataFrame(
        [
            (1, twin_a),            # near-dup of existing 0 → dropped
            (3, batch_dup),         # near-dup of 5 but NOT of existing → kept
            (5, batch_dup + " q"),  # same → kept
            (7, " ".join(f"unique{i}" for i in range(30))),  # kept
        ],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in incremental_minhash_dedup(new, existing, threshold=0.8)
        .select("doc_id")
        .collect()
    }
    assert kept == {3, 5, 7}


