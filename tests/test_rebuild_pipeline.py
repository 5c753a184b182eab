"""End-to-end rebuild: canonical issue+pages DataFrames → rebuilt CIs.

Covers SURVEY J2/J3/J4 (issue⋈pages rejoin, pOf region filter), W3 (offsets),
F5/S15 (errors-as-data) and the audio path."""

import os

import pytest
from impresso_ta.rebuild.solr import (
    rebuild_issues_solr,
    split_errors,
)
from impresso_ta.rebuild.passim import rebuild_issues_passim
from impresso_ta.schemas import AUDIO_RECORD_SCHEMA, ISSUE_SCHEMA, PAGE_SCHEMA
from tests.fixtures import (
    audio_issue_and_record,
    content_item,
    simple_issue_and_pages,
)


@pytest.fixture(scope="module")
def rebuilt(spark):
    iss, pages = simple_issue_and_pages()
    issues_df = spark.createDataFrame([iss], ISSUE_SCHEMA)
    pages_df = spark.createDataFrame(pages, PAGE_SCHEMA)
    df = rebuild_issues_solr(issues_df, pages_df, ts="2024-01-01T00:00:00Z")
    return {r["id"]: r.asDict(recursive=True) for r in df.collect()}


def test_article_fulltext_spans_pages(rebuilt):
    art = rebuilt["GDL-1900-01-02-a-i0001"]
    # p0001: "Bonjour le monde, suite " + hyphenated "arti-" (skipped) then
    # p0002: nf "article" + "fin ." with fr rules (no space before .)
    assert art["ft"] == "Bonjour le monde, suite article fin. "
    assert art["tp"] == "ar" and art["olr"] is True
    assert art["pp"] == [1, 2]
    assert art["d"] == "1900-01-02"
    assert len(art["ppreb"]) == 2
    assert art["ppreb"][0]["id"] == "GDL-1900-01-02-a-p0001"
    assert art["ppreb"][0]["n"] == 1
    # offset invariants (FIXTURES.md §8.3)
    for p in art["ppreb"]:
        for t in p["t"]:
            assert t["s"] + t["l"] <= len(art["ft"])
    assert art["cc"] is True  # both pages cc=True


def test_ad_and_image(rebuilt):
    ad = rebuilt["GDL-1900-01-02-a-i0002"]
    assert ad["tp"] == "ad" and ad["ft"] == "Publicité "
    img = rebuilt["GDL-1900-01-02-a-i0003"]
    assert img["tp"] == "img"
    assert img["ft"] is None  # images are not text-rebuilt
    assert img["iiif_link"] == "https://iiif.example.org/x/10,20,100,200/full/0/default.jpg"


def test_missing_page_flags_problem(spark):
    iss, pages = simple_issue_and_pages()
    iss["i"].append(content_item("GDL-1900-01-02-a-i0004", pp=[7], tp="article"))
    issues_df = spark.createDataFrame([iss], ISSUE_SCHEMA)
    pages_df = spark.createDataFrame(pages, PAGE_SCHEMA)
    out = rebuild_issues_solr(issues_df, pages_df)
    ok, errors = split_errors(out)
    ok_ids = {r["id"] for r in ok.select("id").collect()}
    err = errors.collect()
    assert "GDL-1900-01-02-a-i0004" not in ok_ids
    assert len(err) == 1 and "p0007" in err[0]["error"]
    # problem CI excluded from rebuilt output but present in error channel
    assert len(ok_ids) == 3


def test_store_without_sm_and_rr(spark):
    """sm and rr are optional in the canonical schema: a print-only store
    lacking the `sm` column, whose CI structs carry only `pp`, rebuilds
    every CI with the same text as the full store."""
    from pyspark.sql import functions as F

    iss, pages = simple_issue_and_pages()
    issues_df = spark.createDataFrame([iss], ISSUE_SCHEMA)
    reduced = issues_df.drop("sm").withColumn(
        "i",
        F.transform(
            "i", lambda ci: ci.withField("m", ci["m"].dropFields("rr"))
        ),
    )
    pages_df = spark.createDataFrame(pages, PAGE_SCHEMA)

    def texts(df):
        out = rebuild_issues_solr(df, pages_df, ts="2024-01-01T00:00:00Z")
        return {r["id"]: (r["ft"], r["has_problem"]) for r in out.collect()}

    rows = texts(reduced)
    assert rows == texts(issues_df) and len(rows) == 3
    assert rows["GDL-1900-01-02-a-i0001"][0].startswith("Bonjour")
    assert not any(problem for _, problem in rows.values())


def test_zipfian_store_rebuilds_every_ci_once(spark, sf_dir):
    """Zipfian issue sizes (a few hot issues hold most pages): every
    document's CI comes out exactly once, with no problem row."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from impresso_ta.plans.synthetic import synthetic_canonical_corpus
    from tools.skewed_docs import zipfian_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    skewed = zipfian_documents(docs, n_issues=16)  # hot groups at tiny sf
    issues_df, pages_df = synthetic_canonical_corpus(skewed)
    rows = rebuild_issues_solr(issues_df, pages_df).select(
        "id", "has_problem"
    ).collect()
    assert len(rows) == len({r["id"] for r in rows}) == docs.count()
    assert not any(r["has_problem"] for r in rows)


def test_audio_rebuild(spark):
    iss, recs = audio_issue_and_record()
    issues_df = spark.createDataFrame([iss], ISSUE_SCHEMA)
    recs_df = spark.createDataFrame(recs, AUDIO_RECORD_SCHEMA)
    out = rebuild_issues_solr(issues_df, recs_df, ts="2024-01-01T00:00:00Z")
    rows = {r["id"]: r.asDict(recursive=True) for r in out.collect()}
    ep = rows["CFCE-1945-07-09-a-i0001"]
    assert ep["ft"] == "bonjour à tous "
    assert ep["st"] == "radio_broadcast" and ep["sm"] == "audio"
    assert ep["cc"] is True  # audio default
    assert ep["olr"] is False
    assert ep["stt"] == "12:00:00" and ep["dur"] == "00:30:00"
    assert ep["rp"] == "Chronique" and ep["rc"] == "Radio A"
    assert ep["rreb"][0]["n"] == 1
    assert ep["ssb"] == [len("bonjour à tous")]


def test_audio_rebuild_sparse_records(spark):
    """stt/dur must come from the id-resolved record, not positional
    indexing: with records r0002/r0003 only (no r0001), a CI on record 2
    must read r0002's stt/dur (regression for supports[no-1])."""
    from tests.fixtures import issue

    iss, recs = audio_issue_and_record()
    iid = iss["id"]
    ci1 = f"{iid}-i0001"
    rec2 = {
        **recs[0],
        "id": f"{iid}-r0002",
        "stt": "13:00:00",
        "dur": "00:10:00",
    }
    rec3 = {
        **recs[0],
        "id": f"{iid}-r0003",
        "stt": "14:00:00",
        "dur": "00:05:00",
        "s": [],
    }
    ci = content_item(ci1, rr=[2], tp="radio_broadcast_episode", lg="fr", ro=1)
    iss = issue(
        iid,
        [ci],
        rr=[rec2["id"], rec3["id"]],
        st="radio_broadcast",
        sm="audio",
    )
    issues_df = spark.createDataFrame([iss], ISSUE_SCHEMA)
    recs_df = spark.createDataFrame([rec2, rec3], AUDIO_RECORD_SCHEMA)
    out = rebuild_issues_solr(issues_df, recs_df, ts="2024-01-01T00:00:00Z")
    ep = {r["id"]: r.asDict(recursive=True) for r in out.collect()}[ci1]
    assert ep.get("has_problem") is not True
    assert ep["stt"] == "13:00:00" and ep["dur"] == "00:10:00"


def test_passim(spark):
    iss, pages = simple_issue_and_pages()
    issues_df = spark.createDataFrame([iss], ISSUE_SCHEMA)
    pages_df = spark.createDataFrame(pages, PAGE_SCHEMA)
    out = rebuild_issues_passim(issues_df, pages_df)
    rows = {r["id"]: r.asDict(recursive=True) for r in out.collect()}
    art = rows["GDL-1900-01-02-a-i0001"]
    assert art["series"] == "GDL" and art["date"] == "1900-01-02"
    # passim keeps hyphenated parts verbatim and breaks lines with \n
    assert art["text"] == "Bonjour le monde,\nsuite arti-\narticle fin.\n"
    assert [p["seq"] for p in art["pages"]] == [1, 2]
    total = sum(r["length"] for p in art["pages"] for r in p["regions"])
    assert total == len(art["text"])


def test_passim_refuses_audio_records(spark):
    """Passim documents are print-only: audio records have no page
    regions, so their documents would come out empty with no problem
    flagged. The rebuild refuses them instead."""
    iss, recs = audio_issue_and_record()
    issues_df = spark.createDataFrame([iss], ISSUE_SCHEMA)
    recs_df = spark.createDataFrame(recs, AUDIO_RECORD_SCHEMA)
    with pytest.raises(ValueError, match="print-only"):
        rebuild_issues_passim(issues_df, recs_df)
