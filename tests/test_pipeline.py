"""End-to-end corpus-preparation pipeline: stage monotonicity,
line-dedup text rewrite, decontamination, determinism, CLI surface."""

import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F

from impresso_ta.operators.pipeline import prepare_corpus

SF = "/root/testdata/sf0.001"
REPO_ROOT = Path(__file__).resolve().parents[1]


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_pipeline_stages_shrink_monotonically(spark):
    d = _docs(spark)
    res = prepare_corpus(d, collect_stats=True)
    assert [s[0] for s in res.stats] == [
        "c4_filters",
        "gopher_repetition",
        "line_dedup",
        "doc_dedup",
    ]
    for _, n_in, n_out in res.stats:
        assert n_out <= n_in
    # survivors exist and schema is preserved
    out = res.docs
    assert out.count() > 0
    assert set(d.columns) == set(out.columns)


def test_auto_dedup_routes_by_corpus_size(spark):
    """The default doc_dedup_method='auto' picks the exact-verified
    jaccard form below the threshold and the clique-proof survivors
    form at/above it — each route's output must equal the forced form."""
    d = _docs(spark)
    kw = dict(c4=False, gopher=False, line_spans=None, doc_dedup=True)

    def ids(res):
        out = sorted(r["doc_id"] for r in res.docs.select("doc_id").collect())
        res.unpersist()
        return out

    # small corpus: auto == forced jaccard
    assert ids(prepare_corpus(d, doc_dedup_method="auto", **kw)) == ids(
        prepare_corpus(d, doc_dedup_method="jaccard", **kw)
    )
    # threshold forced to 1: auto == forced survivors
    assert ids(
        prepare_corpus(
            d, doc_dedup_method="auto", doc_dedup_auto_threshold=1, **kw
        )
    ) == ids(prepare_corpus(d, doc_dedup_method="minhash_survivors", **kw))


def test_substring_dedup_stage_strips_cross_doc_boilerplate(spark):
    """The optional 3b stage removes repeated k-token windows (keeping
    the globally-first occurrence), rewrites text, and drops docs whose
    text is fully consumed — between line dedup and doc dedup."""
    boiler = "subscribe to our newsletter for updates"
    rows = [
        (1, f"real article content number one {boiler}"),
        (2, f"{boiler} second article body text"),
        (3, boiler),  # nothing but the boilerplate -> dropped
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    res = prepare_corpus(
        d, c4=False, gopher=False, line_spans=None, doc_dedup=False,
        substring_dedup=6,
    )
    got = {r["doc_id"]: r["text"] for r in res.docs.collect()}
    res.unpersist()
    assert got[1] == f"real article content number one {boiler}"
    assert got[2] == "second article body text"
    assert 3 not in got


def test_domain_cap_stage_caps_each_domain(spark):
    """domain_cap keeps at most N docs per domain, ranked by the order
    column ascending, with the original schema (no rank leak) — and is
    exact on a skewed distribution (one hot domain)."""
    rows = [("hot.example", i, f"text {i}") for i in range(40)] + [
        (f"site{i}.example", 100 + i, f"other {i}") for i in range(5)
    ]
    d = spark.createDataFrame(rows, "source string, doc_id long, text string")
    res = prepare_corpus(
        d, c4=False, gopher=False, line_spans=None, doc_dedup=False,
        domain_cap=3, domain_col="source", collect_stats=True,
    )
    got = sorted(
        (r["source"], r["doc_id"]) for r in res.docs.collect()
    )
    assert set(res.docs.columns) == {"source", "doc_id", "text"}
    assert got == sorted(
        [("hot.example", i) for i in range(3)]
        + [(f"site{i}.example", 100 + i) for i in range(5)]
    )
    assert res.stats == [("domain_cap", 45, 8)]


def test_auto_route_warns_when_jaccard_threshold_ignored(spark):
    """An explicit jaccard_threshold must trigger a warning when 'auto'
    routes to the threshold-free survivors form — and stay silent when
    the jaccard form (which honors it) is selected."""
    import warnings

    d = _docs(spark)
    kw = dict(c4=False, gopher=False, line_spans=None, doc_dedup=True)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        prepare_corpus(
            d, doc_dedup_method="auto", doc_dedup_auto_threshold=1,
            jaccard_threshold=0.9, **kw,
        ).unpersist()
    assert any("IGNORED" in str(w.message) for w in caught)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        prepare_corpus(
            d, doc_dedup_method="auto", jaccard_threshold=0.9, **kw
        ).unpersist()
        prepare_corpus(
            d, doc_dedup_method="auto", doc_dedup_auto_threshold=1, **kw
        ).unpersist()
    assert not [w for w in caught if "IGNORED" in str(w.message)]


def test_jaccard_collapse_output_identical(spark):
    """The exact-collapse pre-pass must not change the jaccard dedup's
    survivors — including the case-sensitivity subtlety: docs equal
    only after LOWERCASING have different shingle sets and must NOT be
    collapsed (shingle_preserving_fingerprint keeps case)."""
    from impresso_ta.operators.dedup import (
        collapse_exact_reps,
        dedup_survivors,
        jaccard_pairs,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (5, "alpha beta gamma delta epsilon zeta"),        # exact dup of 1
        (7, "alpha  beta gamma   delta epsilon zeta "),    # ws-variant of 1
        (9, "ALPHA BETA GAMMA DELTA EPSILON ZETA"),        # case-only: NOT a dup
        (11, "alpha beta gamma delta epsilon eta"),        # near-dup of 1
        (13, "totally different words here entirely now"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    # ground truth: full pairwise form over ALL docs
    want = sorted(
        r["doc_id"]
        for r in dedup_survivors(
            d, jaccard_pairs(d, threshold=0.7)
        ).collect()
    )
    reps = collapse_exact_reps(d)
    got = sorted(
        r["doc_id"]
        for r in dedup_survivors(
            reps, jaccard_pairs(reps, threshold=0.7)
        ).collect()
    )
    assert got == want
    # the collapse dropped the exact/ws twins but kept the case variant
    rep_ids = sorted(r["doc_id"] for r in reps.select("doc_id").collect())
    assert rep_ids == [1, 9, 11, 13]


def test_pipeline_line_dedup_rewrites_text(spark):
    d = _docs(spark)
    res = prepare_corpus(d, c4=False, gopher=False, doc_dedup=False)
    joined = (
        res.docs.select("doc_id", F.col("text").alias("new_text"))
        .join(d.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            (F.length("new_text") <= F.length("text")).alias("shorter_eq"),
        )
    )
    assert joined.filter(~F.col("shorter_eq")).count() == 0


def test_pipeline_decontamination_drops_overlap(spark):
    d = _docs(spark)
    bench = d.filter(F.col("doc_id") % 17 == 0).select("doc_id", "text")
    res = prepare_corpus(
        d, c4=False, gopher=False, line_spans=None, doc_dedup=False,
        benchmark=bench, collect_stats=True,
    )
    # every benchmark source doc shares all its shingles with itself →
    # must be dropped
    kept = {r["doc_id"] for r in res.docs.select("doc_id").collect()}
    assert not kept & {r["doc_id"] for r in bench.collect()}
    assert res.stats[0][0] == "decontamination"
    assert res.stats[0][2] < res.stats[0][1]


def test_pipeline_stats_single_action_matches_counted_form(spark):
    """collect_stats=True must execute ONE action (VERDICT r2 item 9) and
    the Observation-collected boundary counts must equal the counts a
    per-stage count() form would have produced."""
    d = _docs(spark)
    cls = type(d)  # the concrete DataFrame class (classic, in local mode)
    calls = {"n": 0}
    orig_count = cls.count

    def counting(self):
        calls["n"] += 1
        return orig_count(self)

    cls.count = counting
    try:
        # doc_dedup excluded here: its connected-components clustering is
        # iterative (per-iteration convergence count is the algorithm,
        # not stats overhead)
        lazy_res = prepare_corpus(d, doc_dedup=False, collect_stats=True)
    finally:
        cls.count = orig_count
    assert calls["n"] == 1, f"{calls['n']} count() actions, expected 1"
    assert [s[0] for s in lazy_res.stats] == [
        "c4_filters", "gopher_repetition", "line_dedup",
    ]

    res = prepare_corpus(d, collect_stats=True)

    # counted form: each prefix of the stage chain, counted independently
    expected_outs = {
        "c4_filters": prepare_corpus(
            d, gopher=False, line_spans=None, doc_dedup=False
        ).docs.count(),
        "gopher_repetition": prepare_corpus(
            d, line_spans=None, doc_dedup=False
        ).docs.count(),
        "line_dedup": prepare_corpus(d, doc_dedup=False).docs.count(),
        "doc_dedup": prepare_corpus(d).docs.count(),
    }
    chain = [("input", d.count())] + [
        (name, expected_outs[name]) for name, _, _ in res.stats
    ]
    expected = [
        (name, chain[i - 1][1], out)
        for i, (name, out) in enumerate(chain)
        if i > 0
    ]
    assert res.stats == expected


def test_pipeline_spreads_single_row_group_input_once(spark):
    """A scan with fewer partitions than cores is widened exactly once.
    With the filters on, the round-robin exchange sits below the Arrow
    filter, which spreads its own input, and the post-filter spread adds
    nothing. With both filters off, that spread widens the raw scan."""
    import pyarrow.parquet as pq

    path = f"{SF}/documents.parquet"
    assert pq.ParquetFile(path).metadata.num_row_groups == 1
    n = spark.sparkContext.defaultParallelism
    assert n > 1
    kw = dict(line_spans=None, doc_dedup=False)
    exchange = f"Exchange RoundRobinPartitioning({n})"

    def final_plan(res):
        res.docs.collect()
        plan = res.docs._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0]

    filtered = final_plan(prepare_corpus(spark.read.parquet(path), **kw))
    assert filtered.count("RoundRobinPartitioning") == 1
    assert "MapInArrow" in filtered
    assert filtered.index("MapInArrow") < filtered.index(exchange)
    assert filtered.index(exchange) < filtered.index("FileScan parquet")

    raw = final_plan(
        prepare_corpus(spark.read.parquet(path), c4=False, gopher=False, **kw)
    )
    assert raw.count("RoundRobinPartitioning") == 1
    assert "MapInArrow" not in raw
    assert raw.index(exchange) < raw.index("FileScan parquet")


def test_spread_small_input_starts_no_job_on_shuffled_plan(spark):
    """Counting the partitions of a shuffled AQE plan runs its shuffle
    stages; a persisted one also fills its cache. The spread returns
    such a frame unchanged without starting a Spark job."""
    import time

    from impresso_ta.operators.partitioning import spread_small_input

    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .groupBy((F.col("doc_id") % 3).alias("k"))
        .count()
        .persist()
    )
    sc = spark.sparkContext
    group = f"spread-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        spread = spread_small_input(df)
    finally:
        sc.setJobGroup(None, None)
        spark._jsc.sc().listenerBus().waitUntilEmpty()
        df.unpersist()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert spread is df


def test_spread_small_input_widens_single_row_group_scan(spark):
    import pyarrow.parquet as pq

    from impresso_ta.operators.partitioning import spread_small_input

    path = f"{SF}/documents.parquet"
    assert pq.ParquetFile(path).metadata.num_row_groups == 1
    scan = spark.read.parquet(path).select("doc_id", "text")
    assert scan.rdd.getNumPartitions() == 1
    n = spark.sparkContext.defaultParallelism
    assert spread_small_input(scan).rdd.getNumPartitions() == n


def test_pipeline_deterministic(spark):
    d = _docs(spark)
    a = sorted(r["doc_id"] for r in prepare_corpus(d).docs.collect())
    b = sorted(r["doc_id"] for r in prepare_corpus(d).docs.collect())
    assert a == b


def test_cli_corpus_command(tmp_path):
    out = tmp_path / "prepared"
    r = subprocess.run(
        [
            sys.executable, "-m", "impresso_ta.cli", "corpus",
            "--input", f"{SF}/documents.parquet",
            "--output-dir", str(out),
            "--shards", "2",
            "--stats",
        ],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "prepared corpus:" in r.stdout
    assert "c4_filters:" in r.stdout
    import glob

    assert glob.glob(str(out / "corpus" / "part-*"))
    assert glob.glob(str(out / "shards" / "shard=*"))


def test_cli_corpus_with_benchmark_and_temperature(tmp_path, spark):
    # build a tiny benchmark parquet from a slice of the corpus
    bench_path = tmp_path / "bench.parquet"
    spark.read.parquet(f"{SF}/documents.parquet").filter(
        "doc_id % 13 = 0"
    ).select("doc_id", "text").write.parquet(str(bench_path))
    out = tmp_path / "prepared"
    r = subprocess.run(
        [
            sys.executable, "-m", "impresso_ta.cli", "corpus",
            "--input", f"{SF}/documents.parquet",
            "--output-dir", str(out),
            "--no-c4", "--no-gopher", "--line-spans", "0",
            "--benchmark", str(bench_path),
            "--temperature-alpha", "0.5",
            "--temperature-target", "30",
        ],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    prepared = spark.read.parquet(str(out / "corpus"))
    kept = {row["doc_id"] for row in prepared.select("doc_id").collect()}
    # decontamination dropped every benchmark-source doc
    assert not kept & {
        row["doc_id"]
        for row in spark.read.parquet(str(bench_path)).collect()
    }
    # temperature mix downsampled
    total = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert 0 < len(kept) < total


def test_cli_corpus_split_column(tmp_path, spark):
    out = tmp_path / "prepared"
    r = subprocess.run(
        [
            sys.executable, "-m", "impresso_ta.cli", "corpus",
            "--input", f"{SF}/documents.parquet",
            "--output-dir", str(out),
            "--no-c4", "--no-gopher", "--line-spans", "0", "--no-doc-dedup",
            "--split", "train=0.8,val=0.1,test=0.1",
            "--domain-cap", "10", "--domain-col", "source",
        ],
        capture_output=True, text=True, cwd=REPO_ROOT, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    prepared = spark.read.parquet(str(out / "corpus"))
    assert "split" in prepared.columns
    splits = {row["split"] for row in prepared.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits
    # --domain-cap bounded every source at 10 docs
    per_source = prepared.groupBy("source").count().collect()
    assert per_source and all(row["count"] <= 10 for row in per_source)


def test_cli_corpus_dedup_against(tmp_path, spark):
    """--dedup-against drops input docs near-duplicating the ingested
    corpus before the pipeline stages run."""
    existing_path = tmp_path / "existing.parquet"
    d = spark.read.parquet(f"{SF}/documents.parquet")
    # ingested corpus = the even-id half; the odd half is the new batch
    d.filter("doc_id % 2 = 0").write.parquet(str(existing_path))
    new_path = tmp_path / "incoming.parquet"
    # make one incoming doc a near-dup of an ingested one: copy text
    from pyspark.sql import functions as F

    ex_row = d.filter("doc_id = 0").select("text").first()
    incoming = d.filter("doc_id % 2 = 1").union(
        d.filter("doc_id = 1").withColumn("doc_id", F.lit(99991).cast("long"))
        .withColumn("text", F.lit(ex_row["text"]))
    )
    incoming.write.parquet(str(new_path))
    out = tmp_path / "prepared"
    r = subprocess.run(
        [
            sys.executable, "-m", "impresso_ta.cli", "corpus",
            "--input", str(new_path),
            "--output-dir", str(out),
            "--no-c4", "--no-gopher", "--line-spans", "0", "--no-doc-dedup",
            "--dedup-against", str(existing_path),
            "--jaccard-threshold", "0.9",
        ],
        capture_output=True, text=True, cwd=REPO_ROOT, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    kept = {
        row["doc_id"]
        for row in spark.read.parquet(str(out / "corpus")).collect()
    }
    assert 99991 not in kept          # exact twin of ingested doc 0
    assert len(kept) > 0 and all(k % 2 == 1 for k in kept)
    # the printed counts are the rows in and out of the dedup (every
    # later stage is off, so the corpus holds the dedup's output)
    n_in = spark.read.parquet(str(new_path)).count()
    assert f"incremental_dedup: {n_in} -> {len(kept)}" in r.stdout


def test_dsir_stage_selects_target_like_docs(spark):
    """The dsir_target/dsir_n stage keeps exactly n docs, prefers
    target-like vocabulary, keeps the schema weight-free, and reports
    its boundary in the stats."""
    rows = [(i, "paris museum art gallery exhibition") for i in range(10)] + [
        (100 + i, "zebra xylophone quux blorp gnarl") for i in range(10)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    tgt = spark.createDataFrame(
        [(900, "paris art museum painting louvre")],
        "doc_id long, text string",
    )
    res = prepare_corpus(
        d, c4=False, gopher=False, line_spans=None, doc_dedup=False,
        dsir_target=tgt, dsir_n=8, collect_stats=True,
    )
    out = res.docs.collect()
    assert len(out) == 8
    assert set(res.docs.columns) == {"doc_id", "text"}  # no weight leak
    # the paris-vocabulary docs carry much higher importance weights:
    # every selected doc is from the target-like half
    assert all(r["doc_id"] < 100 for r in out)
    assert res.stats == [("dsir_select", 20, 8)]


def test_dsir_stage_requires_n(spark):
    import pytest

    d = _docs(spark)
    with pytest.raises(ValueError, match="dsir_n"):
        prepare_corpus(d, dsir_target=d.limit(2), dsir_n=None)


def test_cli_dsir_flags(spark, tmp_path):
    """--dsir-target/--dsir-n reach the pipeline through the corpus
    subcommand: the CLI's selection equals the operator's on the same
    frames (the Gumbel draw is deterministic in the doc ids)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    raw = pa.table(
        {
            "doc_id": list(range(12)),
            "text": ["paris museum art gallery exhibition"] * 6
            + ["zebra xylophone quux blorp gnarl"] * 6,
        }
    )
    tgt = pa.table(
        {"doc_id": [900], "text": ["paris art museum painting louvre"]}
    )
    raw_p, tgt_p = str(tmp_path / "raw.pq"), str(tmp_path / "tgt.pq")
    pq.write_table(raw, raw_p)
    pq.write_table(tgt, tgt_p)
    out = str(tmp_path / "out")
    r = subprocess.run(
        [
            sys.executable, "-m", "impresso_ta.cli", "corpus",
            "--input", raw_p, "--output-dir", out,
            "--no-c4", "--no-gopher", "--line-spans", "0",
            "--no-doc-dedup", "--dsir-target", tgt_p, "--dsir-n", "4",
        ],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import duckdb

    got = sorted(
        row[0]
        for row in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{out}/corpus/*.parquet')"
        ).fetchall()
    )
    from impresso_ta.operators.corpus import dsir_resample

    want = sorted(
        row["doc_id"]
        for row in dsir_resample(
            spark.read.parquet(raw_p), spark.read.parquet(tgt_p), n=4
        ).collect()
    )
    assert got == want and len(got) == 4


def test_quality_model_stage_filters_by_learned_score(spark):
    """The quality_model/quality_threshold stage drops the docs the
    trained model scores below the threshold, keeps the schema
    score-free, and reports its boundary in the stats."""
    from impresso_ta.operators.classifier import lr_hashed_train

    rows = [(i, "paris museum art gallery exhibition") for i in range(8)] + [
        (100 + i, "zebra xylophone quux blorp gnarl") for i in range(8)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    train = d.withColumn("y", (F.col("doc_id") < 100).cast("double"))
    model = lr_hashed_train(train, "y", tf=True, learn_rate=100.0)
    res = prepare_corpus(
        d, c4=False, gopher=False, line_spans=None, doc_dedup=False,
        quality_model=model, quality_threshold=0.5, collect_stats=True,
    )
    out = res.docs.collect()
    assert set(res.docs.columns) == {"doc_id", "text"}  # no score leak
    assert {r["doc_id"] for r in out} == set(range(8))
    assert res.stats == [("lr_quality", 16, 8)]
    res.unpersist()


def test_cli_quality_model_flags(spark, tmp_path):
    """--quality-model/--quality-threshold reach the pipeline through
    the corpus subcommand."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from impresso_ta.operators.classifier import lr_hashed_train

    raw = pa.table(
        {
            "doc_id": list(range(12)),
            "text": ["paris museum art gallery exhibition"] * 6
            + ["zebra xylophone quux blorp gnarl"] * 6,
        }
    )
    raw_p = str(tmp_path / "raw.pq")
    pq.write_table(raw, raw_p)
    train = spark.read.parquet(raw_p).withColumn(
        "y", (F.col("doc_id") < 6).cast("double")
    )
    model = lr_hashed_train(train, "y", tf=True, learn_rate=100.0)
    model_p = str(tmp_path / "model.pq")
    model.write.parquet(model_p)
    out = str(tmp_path / "out")
    r = subprocess.run(
        [
            sys.executable, "-m", "impresso_ta.cli", "corpus",
            "--input", raw_p, "--output-dir", out,
            "--no-c4", "--no-gopher", "--line-spans", "0",
            "--no-doc-dedup", "--quality-model", model_p,
            "--quality-threshold", "0.5",
        ],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import duckdb

    got = sorted(
        row[0]
        for row in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{out}/corpus/*.parquet')"
        ).fetchall()
    )
    assert got == list(range(6))


def test_cli_dsir_pair_validated_at_parse_time():
    """--dsir-n without --dsir-target (and vice versa) fails in
    argparse, before any Spark session exists."""
    from impresso_ta.cli import main as cli_main

    import pytest

    for argv in (
        ["corpus", "--input", "x", "--output-dir", "y", "--dsir-n", "5"],
        ["corpus", "--input", "x", "--output-dir", "y",
         "--dsir-target", "t"],
    ):
        with pytest.raises(SystemExit) as exc:
            cli_main(argv)
        assert exc.value.code == 2  # argparse parser.error, not a crash


def test_stratified_sample_exact_counts_and_determinism(spark):
    """stratified_sample: exactly min(n, |stratum|) rows per stratum,
    byte-identical across runs, and a different salt draws a different
    (but equally sized) sample."""
    from impresso_ta.operators.corpus import stratified_sample

    rows = [(i, "en" if i < 50 else "de") for i in range(60)]
    d = spark.createDataFrame(rows, "doc_id long, lang string")
    s1 = stratified_sample(d, "lang", 20)
    got = s1.groupBy("lang").count().collect()
    assert {r["lang"]: r["count"] for r in got} == {"en": 20, "de": 10}
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    ids2 = sorted(
        r["doc_id"] for r in stratified_sample(d, "lang", 20).collect()
    )
    assert ids1 == ids2  # deterministic
    ids3 = sorted(
        r["doc_id"]
        for r in stratified_sample(d, "lang", 20, salt="other").collect()
    )
    assert ids3 != ids1  # but salt-dependent
    assert set(s1.columns) == {"doc_id", "lang"}  # no draw/rank leak


def test_pack_concat_blocks_exactly_full_and_lossless(spark):
    """pack_sequences_concat: every document's pieces reassemble it
    exactly (Σ piece_len = doc tokens, contiguous from 0), and every
    block except each shard's LAST is exactly budget tokens."""
    from impresso_ta.operators.corpus import pack_sequences_concat

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = pack_sequences_concat(docs, budget=500, n_shards=2)
    rows = out.collect()

    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    n_tok = {
        r["doc_id"]: r["n"]
        for r in docs.selectExpr(
            "doc_id", "size(split(trim(text), '\\\\s+')) AS n"
        ).collect()
    }
    for did, pieces in per_doc.items():
        pieces.sort(key=lambda r: r["piece_start"])
        assert sum(p["piece_len"] for p in pieces) == n_tok[did]
        assert pieces[0]["piece_start"] == 0
        for a, b in zip(pieces, pieces[1:]):
            assert b["piece_start"] == a["piece_start"] + a["piece_len"]
            assert b["block"] == a["block"] + 1  # consecutive blocks

    per_block = {}
    for r in rows:
        key = (r["shard"], r["block"])
        per_block[key] = per_block.get(key, 0) + r["piece_len"]
    last = {s: max(b for t, b in per_block if t == s) for s, _ in per_block}
    for (s, b), tot in per_block.items():
        if b < last[s]:
            assert tot == 500, (s, b, tot)
        else:
            assert 0 < tot <= 500


def test_token_budget_select_respects_budget_and_order(spark):
    """token_budget_select: achieved tokens <= budget; the kept set is
    score-downward-closed (nobody kept scores below anyone dropped,
    up to bucket granularity — distinct scores here, so exact); a
    budget smaller than the top bucket's mass selects nothing."""
    from pyspark.sql import functions as F

    from impresso_ta.operators.corpus import token_budget_select

    rows = [(i, "w " * (10 * (i + 1)), float(i)) for i in range(20)]
    d = spark.createDataFrame(rows, "doc_id long, text string, score double")
    out = token_budget_select(d, token_budget=400, score_col="score")
    kept = sorted(r["doc_id"] for r in out.collect())
    tok = {
        r["doc_id"]: r["n"]
        for r in d.selectExpr(
            "doc_id", "size(split(trim(text), '\\\\s+')) AS n"
        ).collect()
    }
    assert sum(tok[i] for i in kept) <= 400
    assert kept, "budget fits at least the top doc"
    # downward-closed in score: kept ids are the TOP ones
    assert kept == list(range(20 - len(kept), 20))
    assert set(out.columns) == {"doc_id", "text", "score"}  # no leak

    tiny = token_budget_select(d, token_budget=5, score_col="score")
    assert tiny.count() == 0


def test_token_budget_select_guards_score_range_overflow(spark):
    """A score spread wide enough that (si-mn)*n_buckets would exceed
    BIGINT raises loudly (the DuckDB twin errors on the same overflow;
    Spark's non-ANSI wraparound would silently assign garbage buckets)."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from impresso_ta.operators.corpus import token_budget_select

    d = spark.createDataFrame(
        [(0, "a b c", 0.0), (1, "d e f", 5e12)],
        "doc_id long, text string, score double",
    )
    with pytest.raises(Exception, match="score range too wide") as ei:
        token_budget_select(d, token_budget=100, score_col="score").collect()
    assert isinstance(ei.value, Py4JJavaError) or "range" in str(ei.value)
