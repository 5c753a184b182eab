"""Physical-plan audits: the scale claims the docstrings make, asserted.

Each test pins a plan property that would silently regress otherwise —
filter/column pushdown reaching the parquet scan, small sides
broadcasting, aggregations combining map-side, and the operators that
advertise "zero shuffle" actually having zero exchanges.
"""

from pyspark.sql import functions as F

from impresso_ta.operators.dedup import minhash_signatures

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(df) -> int:
    # count shuffle exchanges only (broadcast exchanges are the point of
    # several of these plans)
    return _plan(df).count("Exchange hashpartitioning") + _plan(df).count(
        "Exchange rangepartitioning"
    )


def test_filter_and_projection_pushdown(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("lang") == "fr").select("doc_id")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,fr)]" in plan
    # scan must read only the two involved columns, not the text payload
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "lang" in read_schema
    assert "text" not in read_schema


def test_minhash_signatures_map_side_combine(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = minhash_signatures(docs, num_perm=8)
    plan = _plan(sigs)
    assert "partial_min" in plan
    assert _shuffles(sigs) == 1


def test_shingle_md5_runs_once_per_exploded_row(spark):
    """The shingle hash is computed inside the array, before the
    explode: the join's inferred ``isnotnull(h)`` then filters the
    exploded column. Hashing after the explode made Catalyst push that
    filter below the projection, so every shingle was hashed twice."""
    from impresso_ta.operators.dedup import (
        _explode_shingle_hashes,
        jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # one md5 per join side: the self-join on h, and a document
    # frequency joined back to the shingle stream (4 when hashed twice)
    assert _plan(jaccard_pairs(docs)).count("md5(") == 2
    sh = _explode_shingle_hashes(docs, "doc_id", "text", 3)
    dfreq = sh.groupBy("h").count()
    assert _plan(sh.join(dfreq, "h")).count("md5(") == 2


def test_c4_filters_zero_shuffle(spark):
    from impresso_ta.operators.text_analysis import c4_filters

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert _shuffles(c4_filters(docs)) == 0


def test_epoch_upsample_zero_shuffle(spark):
    from impresso_ta.operators.corpus import epoch_upsample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = epoch_upsample(docs, weights={"en": 2.5}, domain_col="lang")
    assert _shuffles(out) == 0


def test_snapshot_diff_single_equi_join(spark):
    from impresso_ta.operators.corpus import snapshot_diff

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = snapshot_diff(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 3 == 0),
    )
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # full-outer on the id key: one sort-merge join, nothing else
    assert plan.count("SortMergeJoin") == 1


def test_rebuild_group_exchange_is_pinned_against_coalescing(spark):
    """The supports grouping must shuffle EXACTLY once on the derived
    issue key with a user-pinned partition count (REPARTITION_BY_NUM):
    AQE may not byte-coalesce it below the configured parallelism — the
    compute-heavy assembly UDTF's parallelism rides this exchange
    (PLANS §8: unpinned, the zipfian profile serialized into one 35 s
    task). Both formats run the same plan, so both are checked."""
    from impresso_ta.plans.synthetic import synthetic_canonical_corpus
    from impresso_ta.rebuild import rebuild_issues_passim, rebuild_issues_solr

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    issues_df, pages_df = synthetic_canonical_corpus(docs)
    for rebuilt in (
        rebuild_issues_solr(issues_df, pages_df),
        rebuild_issues_passim(issues_df, pages_df),
    ):
        plan = _plan(rebuilt)
        assert "REPARTITION_BY_NUM" in plan
        # one hash exchange for the grouping+join side of the supports —
        # the issues side adds its own; no third exchange may appear
        # between the pinned repartition and the collect_list aggregate
        assert plan.count("Exchange hashpartitioning") <= 2


def test_rebuild_derives_issue_key_once(spark, tmp_path):
    """The supports' issue key is a regex over the page id. The left
    join's inferred ``isnotnull`` on that key must not push a second
    copy of the regex below the projection: over a jsonl page store
    (nullable ``id``) the key is computed once per support row, in
    both formats."""
    import impresso_ta.sources as sources
    from impresso_ta.rebuild import rebuild_issues_passim, rebuild_issues_solr
    from impresso_ta.schemas import ISSUE_SCHEMA, PAGE_SCHEMA
    from tests.fixtures import simple_issue_and_pages

    iss, pages = simple_issue_and_pages()
    store = str(tmp_path / "pages")
    sources.write_pages(spark.createDataFrame(pages, PAGE_SCHEMA), store)
    issues_df = spark.createDataFrame([iss], ISSUE_SCHEMA)
    pages_df = sources.read_pages(spark, store)
    for rebuilt in (
        rebuild_issues_solr(issues_df, pages_df),
        rebuild_issues_passim(issues_df, pages_df),
    ):
        assert _plan(rebuilt).count("regexp_replace(") == 1


def test_lr_pipeline_stage_adds_no_shuffle(spark):
    """The prepare_corpus quality stage scores row-locally: the
    ≤dim-row model folds into a one-row map broadcast, so the quality
    filter adds ZERO hash/range exchanges over the bare corpus scan —
    no SortMergeJoin of the corpus against its own margins (the batch
    scorer's shape), no model shuffle."""
    from impresso_ta.operators.classifier import lr_hashed_train
    from impresso_ta.operators.pipeline import prepare_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    train = docs.withColumn("y", (F.col("doc_id") % 2 == 0).cast("double"))
    trained = lr_hashed_train(train, "y", tf=True)
    model = spark.createDataFrame(  # sever training lineage (cached,
        trained.collect(), "bucket long, w double"  # but still printed)
    )
    res = prepare_corpus(
        docs, c4=False, gopher=False, line_spans=None, doc_dedup=False,
        quality_model=model,
    )
    plan = _plan(res.docs)
    assert "SortMergeJoin" not in plan
    assert _shuffles(res.docs) == 0
    res.unpersist()


def test_dsir_bigram_stream_adds_no_exchange(spark):
    """ngram=2 must not change the aggregate structure: same shuffle
    count as the unigram form (the bigram build is a row-local zip)."""
    from impresso_ta.operators.corpus import dsir_log_weights

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    raw = docs.filter(F.col("doc_id") % 17 != 0)
    tgt = docs.filter(F.col("doc_id") % 17 == 0)
    uni = dsir_log_weights(raw, tgt, ngram=1)
    bi = dsir_log_weights(raw, tgt, ngram=2)
    assert _shuffles(bi) == _shuffles(uni)


def test_profile_key_skew_never_shuffles_raw_rows(spark):
    from impresso_ta.operators.skew import profile_key_skew

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(profile_key_skew(ev, "user_id", top_k=5))
    # raw rows combine map-side (partial_count feeds every exchange) and
    # the scan never reads payload columns — only the key
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    for read_schema in plan.split("ReadSchema:")[1:]:
        assert read_schema.splitlines()[0].strip() == "struct<user_id:bigint>"


def test_cli_rebuild_over_jsonl_pages_parses_each_page_once(
    spark, tmp_path, monkeypatch
):
    """A CLI rebuild over a jsonl page store carries each page line as
    text to the assembly: no Python pre-pass over the lines, no JVM
    JSON parse of them, and the assembly's ``mapInArrow`` is the one
    Python pass. The grouping exchange stays pinned."""
    import re

    import impresso_ta.sources as sources
    from impresso_ta import cli
    from impresso_ta.schemas import ISSUE_SCHEMA, PAGE_SCHEMA
    from tests.fixtures import simple_issue_and_pages

    iss, pages = simple_issue_and_pages()
    store = tmp_path / "store"
    sources.write_issues(
        spark.createDataFrame([iss], ISSUE_SCHEMA), str(store / "issues")
    )
    sources.write_pages(
        spark.createDataFrame(pages, PAGE_SCHEMA), str(store / "pages")
    )
    plans = []
    write_rebuilt = sources.write_rebuilt

    def capture(df, *args, **kwargs):
        plans.append(_plan(df))
        write_rebuilt(df, *args, **kwargs)

    monkeypatch.setattr(sources, "write_rebuilt", capture)
    for fmt in ("solr", "passim"):
        args = cli._build_parser().parse_args([
            "rebuild", "--issues", str(store / "issues"),
            "--supports", str(store / "pages"),
            "--output-dir", str(tmp_path / fmt), "--fmt", fmt,
        ])
        assert cli.cmd_rebuild(args, spark) == 0
    assert len(plans) == 2
    for plan in plans:
        assert "FileScan text" in plan
        assert "MapInPandas" not in plan
        assert "from_json" not in plan and "JsonToStructs" not in plan
        python_passes = re.findall(
            r"MapInArrow|MapInPandas|ArrowEvalPython|BatchEvalPython"
            r"|FlatMap\w*InPandas|AggregateInPandas|WindowInPandas",
            plan,
        )
        assert python_passes == ["MapInArrow"]
        assert "REPARTITION_BY_NUM" in plan
        assert plan.count("Exchange hashpartitioning") <= 2
