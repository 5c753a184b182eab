"""CLI lifecycle: import command → canonical store → rebuild command —
the reference's impresso-txt-importer / impresso-rebuilder surface."""

import subprocess
import sys
import time
from pathlib import Path

import pytest

from tests.test_importer_ina import ina_tree  # noqa: F401 (fixture)
from tests.test_importer_mets_alto import ALTO_PAGE, METS

REPO_ROOT = Path(__file__).resolve().parents[1]


def _make_corpus(base, days=("02", "03")):
    for d in days:
        issue_dir = base / "GAZ" / "1900" / "01" / d / "a"
        (issue_dir / "text").mkdir(parents=True)
        (issue_dir / "issue-mets.xml").write_text(METS)
        (issue_dir / "text" / "0001.xml").write_text(ALTO_PAGE)


def _run(*argv):
    return subprocess.run(
        [sys.executable, "-m", "impresso_ta.cli", *argv],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        timeout=300,
    )


def test_cli_import_then_rebuild(tmp_path):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    _make_corpus(corpus)
    store = tmp_path / "store"

    r = _run(
        "import",
        "--input-dir", str(corpus),
        "--format", "mets_alto",
        "--output-dir", str(store),
        "--date-ranges", "GAZ=1900-01-01:1900-01-02",
        "--ts", "2024-01-01T00:00:00Z",
        "--store-format", "parquet",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "GAZ-1900: 1 issues, 2 content items, 1 pages" in r.stdout
    # manifest is written through the sink, not just echoed
    import glob
    import json as _json

    manifest_rows = []
    for f in glob.glob(str(store / "manifest" / "part-*")):
        manifest_rows += [
            _json.loads(line) for line in open(f) if line.strip()
        ]
    assert any(
        m["alias"] == "GAZ" and m["n_issues"] == 1 for m in manifest_rows
    )

    r2 = _run(
        "rebuild",
        "--issues", str(store / "issues"),
        "--supports", str(store / "pages"),
        "--output-dir", str(tmp_path / "out"),
        "--default-language", "fr",
        "--ts", "2024-01-01T00:00:00Z",
        "--store-format", "parquet",
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "rebuilt 2 content items" in r2.stdout


def test_passim_rebuild_takes_default_language(spark, tmp_path, capsys):
    """``rebuild --fmt passim --default-language`` fills a CI's missing
    language, as the solr rebuild does, so its tokens are spaced by
    that language's rules instead of glued; a CI with a language keeps
    it."""
    import json as _json

    from impresso_ta.schemas import ISSUE_SCHEMA, PAGE_SCHEMA
    from impresso_ta.sources import write_issues, write_pages
    from tests.fixtures import simple_issue_and_pages

    iss, pages = simple_issue_and_pages()
    for ci in iss["i"]:
        ci["m"]["lg"] = None
    iss["i"][1]["m"]["lg"] = "de"
    store = tmp_path / "store"
    write_issues(spark.createDataFrame([iss], ISSUE_SCHEMA), str(store / "issues"))
    write_pages(spark.createDataFrame(pages, PAGE_SCHEMA), str(store / "pages"))
    out = tmp_path / "passim"
    _call(spark, "cmd_rebuild", [
        "rebuild", "--issues", str(store / "issues"),
        "--supports", str(store / "pages"), "--output-dir", str(out),
        "--fmt", "passim", "--default-language", "fr",
    ])
    lines = spark.read.text(str(out / "rebuilt")).collect()
    rows = {d["id"]: d for d in (_json.loads(r.value) for r in lines)}
    art = rows["GDL-1900-01-02-a-i0001"]
    assert art["lg"] == "fr"
    # 'Bonjourlemonde,\nsuitearti-\narticlefin.\n' without the default
    assert art["text"] == "Bonjour le monde,\nsuite arti-\narticle fin.\n"
    assert rows["GDL-1900-01-02-a-i0002"]["lg"] == "de"
    assert f"rebuilt {len(rows)} content items" in capsys.readouterr().out


def test_rebuild_survives_non_json_page_line(spark, tmp_path, capsys):
    """A page line that is not JSON (truncated, or plain text) joins no
    issue: the CIs that list its page become ``Page ... not found``
    problem rows, and the command still exits 0."""
    import bz2
    import json as _json

    from impresso_ta import cli
    from impresso_ta.schemas import ISSUE_SCHEMA
    from impresso_ta.sources import write_issues
    from tests.fixtures import simple_issue_and_pages

    iss, (p1, p2) = simple_issue_and_pages()
    store = tmp_path / "store"
    write_issues(spark.createDataFrame([iss], ISSUE_SCHEMA), str(store / "issues"))
    (store / "pages").mkdir()
    lines = [_json.dumps(p1), _json.dumps(p2)[:-40], "not json at all"]
    (store / "pages" / "GDL-1900-pages.jsonl.bz2").write_bytes(
        bz2.compress(("\n".join(lines) + "\n").encode())
    )
    for fmt in ("solr", "passim"):
        out = tmp_path / fmt
        args = cli._build_parser().parse_args([
            "rebuild", "--issues", str(store / "issues"),
            "--supports", str(store / "pages"), "--output-dir", str(out),
            "--fmt", fmt,
        ])
        assert cli.cmd_rebuild(args, spark) == 0
        errors = [r.value for r in spark.read.text(str(out / "errors")).collect()]
        assert errors == [
            "GDL-1900-01-02-a-i0001: Page p0002 not found for item "
            "GDL-1900-01-02-a-i0001"
        ]
        assert _lines(spark, out / "rebuilt") == 2
        assert "rebuilt 2 content items" in capsys.readouterr().out


def test_rebuild_config_filter_batches(spark):
    from impresso_ta.schemas import ISSUE_SCHEMA
    from impresso_ta.sources.discovery import rebuild_config_filter
    from tests.fixtures import content_item, issue

    issues = [
        issue(i_id, [content_item(f"{i_id}-i0001", pp=[1])], pp=[f"{i_id}-p0001"])
        for i_id in [
            "GDL-1900-01-02-a",
            "GDL-1949-01-02-a",
            "GDL-1999-01-02-a",
            "IMP-1900-01-02-a",
        ]
    ]
    df = spark.createDataFrame(issues, ISSUE_SCHEMA)
    # reference shape: end year EXCLUSIVE (range(start, end))
    out = rebuild_config_filter(
        df, [{"GDL": [1900, 1949]}, {"IMP": [1900, 1901]}]
    )
    assert {r["id"] for r in out.collect()} == {
        "GDL-1900-01-02-a",
        "IMP-1900-01-02-a",
    }


# the second issue's only page has a token at a negative x origin, so
# --validate rejects that page and the rebuild finds its CIs' page missing
BAD_ALTO_PAGE = ALTO_PAGE.replace(
    'HPOS="10" VPOS="12" WIDTH="90"', 'HPOS="-7" VPOS="12" WIDTH="90"'
)
N_CIS = 4  # two issues of two content items each


def _make_tree_with_rejected_page(base):
    for d, alto in (("02", ALTO_PAGE), ("03", BAD_ALTO_PAGE)):
        issue_dir = base / "GAZ" / "1900" / "01" / d / "a"
        (issue_dir / "text").mkdir(parents=True)
        (issue_dir / "issue-mets.xml").write_text(METS)
        (issue_dir / "text" / "0001.xml").write_text(alto)


def _cached(spark):
    """Ids of the persisted RDDs, local checkpoints included: no CLI path
    checkpoints, so any id a command adds is a cache it left behind.
    Compared as a subset, because the context cleaner may drop an
    earlier test's unreachable checkpoints at any time."""
    return set(spark._jsc.getPersistentRDDs().keys())


def _jobs(spark, run):
    """Call ``run()``; return the Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"jobs-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setJobGroup(None, None)
        # the status tracker is fed by the asynchronous listener bus
        spark._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _call(spark, command, argv):
    """Run one CLI command in-process; return the Spark jobs it ran."""
    from impresso_ta import cli

    return _jobs(
        spark,
        lambda: getattr(cli, command)(cli._build_parser().parse_args(argv), spark),
    )


def _lines(spark, path):
    return spark.read.text(str(path)).count()


def _rows(spark, path):
    """A store's text lines with their partition values, sorted."""
    return sorted(map(tuple, spark.read.text(str(path)).collect()))


def test_cli_jobs_cache_once_and_release(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    corpus = tmp_path / "corpus"
    _make_tree_with_rejected_page(corpus)
    store = tmp_path / "store"
    ts = ["--ts", "2024-01-01T00:00:00Z"]

    before = _cached(spark)
    jobs = _call(spark, "cmd_import", [
        "import", "--input-dir", str(corpus), "--format", "mets_alto",
        "--output-dir", str(store), "--validate", *ts,
    ])
    assert _cached(spark) <= before
    # 9 jobs when the rules ran as a second pass over the parse frame
    assert jobs <= 9, f"{jobs} Spark jobs for one validated import"
    assert _lines(spark, store / "issues") == 2
    assert _lines(spark, store / "pages") == 1

    for fmt in ("solr", "passim"):
        out = tmp_path / fmt
        jobs = _call(spark, "cmd_rebuild", [
            "rebuild", "--issues", str(store / "issues"),
            "--supports", str(store / "pages"), "--output-dir", str(out),
            "--fmt", fmt, *ts,
        ])
        assert _cached(spark) <= before
        # 10 jobs per format before the assembly was cached, when the
        # read, shuffle and Python assembly re-ran for the ok write, the
        # error write and the count; 7 while a count() after the writes
        # gave the printed total, which the ok write now observes
        assert jobs <= 5, f"{fmt}: {jobs} Spark jobs for one rebuild"
        n_ok = _lines(spark, out / "rebuilt")
        n_err = _lines(spark, out / "errors")
        assert n_ok > 0 and n_err > 0
        assert n_ok + n_err == N_CIS
        assert f"rebuilt {n_ok} content items" in capsys.readouterr().out

    docs = f"{sf_dir}/documents.parquet"
    jobs = _call(spark, "cmd_corpus", [
        "corpus", "--input", docs, "--output-dir", str(tmp_path / "prepared"),
    ])
    assert _cached(spark) <= before
    # 50 jobs while doc dedup ran its components as Spark rounds, each a
    # checkpoint and a count, and the post-filter spread ran a shuffle job;
    # 31 while the Jaccard pairs and line dedup joined back to their own
    # aggregates, the pair and survivor passes each recomputed the exact
    # reps and the corpus was re-read to count it
    assert jobs <= 18, f"{jobs} Spark jobs for one corpus run"
    n = spark.read.parquet(str(tmp_path / "prepared" / "corpus")).count()
    assert n and f"prepared corpus: {n} documents" in capsys.readouterr().out
    # --dedup-against persists both sides' MinHash signatures
    d = spark.read.parquet(docs)
    for name, parity in (("existing", 0), ("incoming", 1)):
        d.filter(f"doc_id % 2 = {parity}").write.parquet(str(tmp_path / name))
    _call(spark, "cmd_corpus", [
        "corpus", "--input", str(tmp_path / "incoming"),
        "--output-dir", str(tmp_path / "deduped"),
        "--dedup-against", str(tmp_path / "existing"),
    ])
    assert _cached(spark) <= before
    assert "incremental_dedup: " in capsys.readouterr().out
    # the pipeline fills its caches before the corpus write, which fails
    # here because the output directory lies below a regular file
    blocker = tmp_path / "blocker"
    blocker.write_text("")
    with pytest.raises(Exception):
        _call(spark, "cmd_corpus", [
            "corpus", "--input", docs, "--output-dir", str(blocker / "out"),
        ])
    assert _cached(spark) <= before

    # a command that fails after its caches were filled still releases
    # them: the error write is the last write of both commands
    import impresso_ta.sources as sources

    def fail(*_a, **_k):
        raise RuntimeError("error sink unavailable")

    monkeypatch.setattr(sources, "write_errors", fail)
    with pytest.raises(RuntimeError, match="error sink unavailable"):
        _call(spark, "cmd_import", [
            "import", "--input-dir", str(corpus), "--format", "mets_alto",
            "--output-dir", str(tmp_path / "store2"), "--validate", *ts,
        ])
    assert _cached(spark) <= before
    with pytest.raises(RuntimeError, match="error sink unavailable"):
        _call(spark, "cmd_rebuild", [
            "rebuild", "--issues", str(store / "issues"),
            "--supports", str(store / "pages"),
            "--output-dir", str(tmp_path / "failed"), *ts,
        ])
    assert _cached(spark) <= before


def test_cli_incremental_store_errors(spark, tmp_path, monkeypatch):
    corpus = tmp_path / "corpus"
    _make_corpus(corpus)
    store = tmp_path / "store"
    common = [
        "import", "--input-dir", str(corpus), "--format", "mets_alto",
        "--ts", "2024-01-01T00:00:00Z", "--output-dir",
    ]
    argv = common + [str(store), "--incremental"]
    # a missing store is an empty one: every issue is imported
    _call(spark, "cmd_import", argv)
    assert _lines(spark, store / "issues") == 2

    # an unchanged tree imports nothing and keeps every stored row
    _call(spark, "cmd_import", argv)
    assert _lines(spark, store / "issues") == 2
    assert _lines(spark, store / "pages") == 2

    # a grown tree adds its new issue: the store then equals one full
    # import of that tree
    _make_corpus(corpus, days=("04",))
    _call(spark, "cmd_import", argv)
    full = tmp_path / "full"
    _call(spark, "cmd_import", common + [str(full)])
    assert _lines(spark, store / "issues") == 3
    for out in ("issues", "pages", "manifest"):
        assert _rows(spark, store / out) == _rows(spark, full / out), out

    # any other failure to read the store raises, instead of silently
    # re-importing everything
    import impresso_ta.sources as sources

    def fail(*_a, **_k):
        raise RuntimeError("store unreadable")

    monkeypatch.setattr(sources, "incremental_filter", fail)
    with pytest.raises(RuntimeError, match="store unreadable"):
        _call(spark, "cmd_import", argv)


def test_import_that_discovers_nothing_exits_2(spark, tmp_path, ina_tree, capsys):
    """An input tree the walker finds no issue in is an error, not an
    empty store; deciding it runs no Spark job."""
    from impresso_ta import cli

    empty = tmp_path / "empty"
    empty.mkdir()
    for tree, fmt in ((str(empty), "mets_alto"), (ina_tree, "ina_asr")):
        out = tmp_path / f"out-{fmt}"
        args = cli._build_parser().parse_args([
            "import", "--input-dir", tree, "--format", fmt,
            "--output-dir", str(out),
        ])
        codes = []
        assert _jobs(spark, lambda: codes.append(cli.cmd_import(args, spark))) == 0
        assert codes == [2]
        err = capsys.readouterr().err
        assert f"--input-dir {tree}" in err and f"--format {fmt}" in err
        assert not out.exists()


@pytest.mark.parametrize(
    "argv",
    [
        ["import", "--date-ranges", "GDL=1900-01-01"],
        ["import", "--date-ranges", "GDL=1900-13-01:1950-12-31"],
        ["import", "--date-ranges", "GDL=19000101:19501231"],
        ["import", "--date-ranges", "=1900-01-01:1950-12-31"],
        ["import", "--date-ranges", "GDL=1950-12-31:1900-01-01"],
        ["corpus", "--split", "train=0.9,val"],
        ["corpus", "--split", "train=0.9,val=ten"],
        ["corpus", "--split", "train=nan,val=0.1"],
        ["corpus", "--split", "=1.0"],
        ["corpus", "--line-spans", "-3"],
        ["corpus", "--substring-dedup", "-1"],
        ["corpus", "--domain-cap", "-1"],
        ["corpus", "--shards", "-2"],
        ["corpus", "--dsir-n", "-5"],
        ["corpus", "--dsir-n", "ten"],
        ["corpus", "--quality-dim", "0"],
        ["corpus", "--quality-dim", "-64"],
        ["corpus", "--jaccard-threshold", "0"],
        ["corpus", "--jaccard-threshold", "-0.5"],
        ["corpus", "--jaccard-threshold", "1.5"],
        ["corpus", "--jaccard-threshold", "nan"],
    ],
)
def test_malformed_specs_fail_before_any_session(argv, monkeypatch, capsys):
    from impresso_ta import cli, session

    def no_session(*a, **k):
        raise AssertionError("a malformed spec reached get_spark")

    monkeypatch.setattr(session, "get_spark", no_session)
    required = {
        "import": ["--input-dir", "in", "--format", "mets_alto",
                   "--output-dir", "out"],
        "corpus": ["--input", "in", "--output-dir", "out"],
    }[argv[0]]
    with pytest.raises(SystemExit) as exc:
        cli.main(argv[:1] + required + argv[1:])
    assert exc.value.code == 2
    assert f"argument {argv[1]}" in capsys.readouterr().err


def test_corpus_contract_fails_before_any_work(spark, sf_dir):
    """A bad argument combination raises before the filtered corpus is
    persisted or sized: no Spark job runs and no cache is left behind."""
    from impresso_ta.operators.pipeline import prepare_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    before = _cached(spark)

    def run():
        with pytest.raises(ValueError, match="temperature_target"):
            prepare_corpus(docs, temperature_alpha=0.5)

    assert _jobs(spark, run) == 0
    assert _cached(spark) <= before


@pytest.mark.parametrize(
    "flags, message",
    [
        (["--temperature-alpha", "0.5"], "requires --temperature-target > 0"),
        (["--temperature-target", "100"],
         "no effect without --temperature-alpha"),
    ],
    ids=["alpha-only", "target-only"],
)
def test_corpus_flag_contracts_fail_before_any_session(
    flags, message, monkeypatch, capsys
):
    from impresso_ta import cli, session

    def no_session(*a, **k):
        raise AssertionError("a bad flag combination reached get_spark")

    monkeypatch.setattr(session, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        cli.main(["corpus", "--input", "in", "--output-dir", "out", *flags])
    assert exc.value.code == 2
    assert message in capsys.readouterr().err


def test_audio_passim_rebuild_fails_before_any_session(monkeypatch, capsys):
    """`rebuild --audio --fmt passim` would write empty passim documents
    (audio CIs have records, not pages) and exit 0; it exits 2 before a
    session starts."""
    from impresso_ta import cli, session

    def no_session(*a, **k):
        raise AssertionError("an audio passim rebuild reached get_spark")

    monkeypatch.setattr(session, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        cli.main([
            "rebuild", "--issues", "in", "--supports", "recs",
            "--output-dir", "out", "--audio", "--fmt", "passim",
        ])
    assert exc.value.code == 2
    assert "--fmt passim" in capsys.readouterr().err


def test_specs_parse_to_dicts():
    from impresso_ta import cli

    args = cli._build_parser().parse_args([
        "import", "--input-dir", "in", "--format", "mets_alto",
        "--output-dir", "out",
        "--date-ranges", "GDL=1900-01-01:1950-12-31,IMP=1901-02-03:1901-02-03",
    ])
    assert args.date_ranges == {
        "GDL": ("1900-01-01", "1950-12-31"),
        "IMP": ("1901-02-03", "1901-02-03"),
    }
    args = cli._build_parser().parse_args([
        "corpus", "--input", "in", "--output-dir", "out",
        "--split", "train=0.98,val=0.01,test=0.01",
    ])
    assert args.split == {"train": 0.98, "val": 0.01, "test": 0.01}


def test_numeric_flags_accept_their_bounds():
    """0 still switches the count flags off, and the closed ends of the
    accepted ranges parse."""
    from impresso_ta import cli

    args = cli._build_parser().parse_args([
        "corpus", "--input", "in", "--output-dir", "out",
        "--line-spans", "0", "--substring-dedup", "0", "--domain-cap", "0",
        "--shards", "0", "--dsir-n", "0", "--quality-dim", "1",
        "--jaccard-threshold", "1",
    ])
    assert (args.line_spans, args.substring_dedup, args.domain_cap,
            args.shards, args.dsir_n) == (0, 0, 0, 0, 0)
    assert args.quality_dim == 1 and args.jaccard_threshold == 1.0
