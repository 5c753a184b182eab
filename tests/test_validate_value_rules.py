"""Value-level canonical-schema rules (ref: utils.py:71-89 JSON-Schema
validation at write time), one Python rule set behind both the import's
in-parse validation and the ``validate_*`` DataFrame functions:

1. the reference's real sample imports (FedGazDe TETML, BCUL/CL ABBYY,
   INA-style ASR) pass every rule — the repo's importers emit
   schema-conformant values end-to-end;
2. one deliberately-broken fixture per rule is flagged by exactly that
   rule and routed to the error channel;
3. each rule judges the value a row stores (ASCII digits, three-valued
   nulls, integers as Arrow stores them);
4. ``import_issues(validate=True)`` gives the same rows and error lines
   as ``validate_*`` + ``split_valid`` over an unvalidated import, and a
   rule that raises fails one issue, not the task.
"""

import os
import shutil
from datetime import date
from pathlib import Path

import pytest

from impresso_ta.importers import import_issues
from impresso_ta.operators.validate import (
    issue_violations,
    page_violations,
    record_violations,
    split_valid,
    validate_audio_records,
    validate_issues,
    validate_pages,
)
from impresso_ta.schemas import (
    AUDIO_RECORD_SCHEMA,
    DISCOVERY_SCHEMA,
    ISSUE_SCHEMA,
    PAGE_SCHEMA,
)
from tests.fixtures import content_item, issue, line, page, para, region, token

REF_SAMPLES = "/root/reference/text_preparation/data/sample_data"
REPO_ROOT = Path(__file__).resolve().parents[1]


def _assert_all_valid(validated_df, what):
    bad = validated_df.filter("size(_violations) > 0").select(
        "id", "_violations"
    )
    rows = bad.collect()
    assert not rows, f"{what}: {[(r['id'], r['_violations']) for r in rows]}"


# ---------------------------------------------------------------------------
# Reference sample imports pass rule-for-rule
# ---------------------------------------------------------------------------


@pytest.mark.skipif(
    not os.path.isdir(f"{REF_SAMPLES}/Tetml/FedGazDe/1857/09/26"),
    reason="reference sample data not available",
)
def test_fedgaz_sample_passes_all_rules(spark, tmp_path):
    issue_dir = tmp_path / "FedGazDe" / "1857" / "09" / "26"
    issue_dir.parent.mkdir(parents=True)
    shutil.copytree(f"{REF_SAMPLES}/Tetml/FedGazDe/1857/09/26", issue_dir)
    (tmp_path / "FedGazDe" / "metadata.tsv").write_text(
        "article_docid\tissue_date\tarticle_title\tvolume_language\t"
        "canonical_page_first\tcanonical_page_last\tpruned\n"
        "10002300\t1857-09-26\tBundesgesetz\tde\t1\t2\tTrue\n"
        "10002301\t1857-09-26\tbetreffend die Verfassung\tde\t2\t2\tFalse\n"
        "10002302\t1857-09-26\tKreisschreiben\tde\t3\t4\tFalse\n"
        "10002303\t1857-09-26\tBotschaft\tfr\t5\t6\tFalse\n"
        "10002304\t1857-09-26\tBericht\tde\t7\t12\tFalse\n"
    )
    disc = spark.createDataFrame(
        [("FedGazDe", date(1857, 9, 26), "a", str(issue_dir), "fedgaz")],
        DISCOVERY_SCHEMA,
    )
    res = import_issues(disc, ts="2024-01-01T00:00:00Z")
    _assert_all_valid(validate_issues(res.issues), "FedGaz issues")
    _assert_all_valid(validate_pages(res.pages), "FedGaz pages")


@pytest.mark.skipif(
    not os.path.isdir(f"{REF_SAMPLES}/BCUL/46165"),
    reason="reference sample data not available",
)
def test_bcul_cl_sample_passes_all_rules(spark):
    disc = spark.createDataFrame(
        [("FAL", date(1762, 12, 7), "a", f"{REF_SAMPLES}/BCUL/46165", "abbyy_bcul")],
        DISCOVERY_SCHEMA,
    )
    res = import_issues(disc, ts="2024-01-01T00:00:00Z")
    _assert_all_valid(validate_issues(res.issues), "BCUL issues")
    _assert_all_valid(validate_pages(res.pages), "BCUL pages")


def test_ina_style_audio_passes_all_rules(spark, tmp_path):
    import json

    issue_dir = tmp_path / "CFCE" / "1945" / "07" / "09" / "a"
    issue_dir.mkdir(parents=True)
    (issue_dir / "broadcast.xml").write_text(
        """<?xml version="1.0" encoding="UTF-8"?>
<AudioDoc name="test">
  <SpeakerList><Speaker spkid="S1" lang="fre"/></SpeakerList>
  <SegmentList>
    <SpeechSegment spkid="S1" lang="fre" stime="1.0" etime="4.0">
      <Word stime="1.0" dur="0.5">bonjour</Word>
      <Word stime="1.6" dur="0.4">tous</Word>
    </SpeechSegment>
  </SegmentList>
</AudioDoc>
"""
    )
    (issue_dir / "metadata.json").write_text(
        json.dumps({"title": "Chronique", "duration_sec": 1800})
    )
    disc = spark.createDataFrame(
        [("CFCE", date(1945, 7, 9), "a", str(issue_dir), "ina_asr")],
        DISCOVERY_SCHEMA,
    )
    res = import_issues(disc, ts="2024-01-01T00:00:00Z")
    _assert_all_valid(validate_issues(res.issues), "INA issues")
    _assert_all_valid(validate_audio_records(res.records), "INA records")


# ---------------------------------------------------------------------------
# One broken fixture per rule
# ---------------------------------------------------------------------------

IID = "GDL-1900-01-02-a"


def _issue_with(**overrides):
    base = issue(
        IID,
        [content_item(f"{IID}-i0001", pp=[1], ro=1)],
        pp=[f"{IID}-p0001"],
    )
    base.update(overrides)
    return base


def _validate_one_issue(spark, row):
    df = validate_issues(spark.createDataFrame([row], ISSUE_SCHEMA))
    return df.collect()[0]["_violations"]


def test_issue_rules_fire_individually(spark):
    ci = lambda **kw: content_item(f"{IID}-i0001", **kw)  # noqa: E731
    cases = {
        "id_shape": {"id": "gdl/1900/01/02"},
        "st_enum": {"st": "blog"},
        "sm_enum": {"sm": "papyrus"},
        "st_sm_consistent": {"st": "newspaper", "sm": "audio"},
        "cdt_timestamp": {"cdt": "24-01-01"},
        "ts_timestamp": {"ts": "yesterday"},
        "ci_ids_prefixed": {"i": [content_item("XXX-1900-01-02-a-i0001", pp=[1], ro=1)]},
        "ci_ids_unique": {"i": [ci(pp=[1], ro=1), ci(pp=[1], ro=2)]},
        "ci_tp_enum": {"i": [ci(pp=[1], ro=1, tp="tweet")]},
        "ci_lg_shape": {"i": [ci(pp=[1], ro=1, lg="French")]},
        "ci_ro_positive": {"i": [ci(pp=[1], ro=0)]},
        "ci_pp_in_range": {"i": [ci(pp=[7], ro=1)]},
        "ci_rr_in_range": {"i": [ci(rr=[2], ro=1)]},
        "supports_prefixed": {"pp": ["OTHER-1900-01-02-a-p0001"]},
        # CI must not reference pages either, else ci_pp_in_range also fires
        "supports_present": {"pp": None, "i": [ci(ro=1)]},
    }
    for rule, overrides in cases.items():
        row = _issue_with(**overrides)
        if rule == "id_shape":
            # violating the id also violates prefix rules downstream;
            # only assert membership there
            assert rule in _validate_one_issue(spark, row), rule
        else:
            got = _validate_one_issue(spark, row)
            assert got == [rule], f"{rule}: got {got}"


def test_page_rules_fire_individually(spark):
    pid = f"{IID}-p0001"
    good_region = region(
        [para([line([token("mot", [1, 2, 3, 4])])])], pOf=f"{IID}-i0001"
    )

    def pg(**overrides):
        base = page(pid, [good_region])
        base.update(overrides)
        return base

    cases = {
        "id_shape": pg(id=f"{IID}-page1"),
        "region_coord_arity": pg(
            r=[region([para([line([token("x", [1, 2, 3, 4])])])], c=[1, 2, 3])]
        ),
        "token_coord_arity": pg(
            r=[region([para([line([token("x", [1, 2, 3])])])])]
        ),
        "region_origin_nonneg": pg(
            r=[region([para([line([token("x", [1, 2, 3, 4])])])], c=[-1, 0, 5, 5])]
        ),
        "token_origin_nonneg": pg(
            r=[region([para([line([token("x", [0, -3, 2, 4])])])])]
        ),
        "region_pOf_shape": pg(
            r=[region([para([line([token("x", [1, 2, 3, 4])])])], pOf="not-a-ci")]
        ),
        "cdt_timestamp": pg(cdt="01.01.2024"),
        "ts_timestamp": pg(ts="later"),
        "st_enum": pg(st="zine"),
        "sm_enum": pg(sm="stone"),
    }
    for rule, row in cases.items():
        df = validate_pages(spark.createDataFrame([row], PAGE_SCHEMA))
        got = df.collect()[0]["_violations"]
        assert got == [rule], f"{rule}: got {got}"
    ok = validate_pages(
        spark.createDataFrame([pg()], PAGE_SCHEMA)
    ).collect()[0]["_violations"]
    assert ok == []


def _audio_record(**overrides):
    rid = f"{IID}-r0001"
    base = {
        "id": rid,
        "cdt": "2024-01-01 00:00:00",
        "ts": "2024-01-01T00:00:00Z",
        "st": "radio_broadcast",
        "sm": "audio",
        "cc": True,
        "iiif_base_uri": "https://iiif.example.org/a",
        "stt": "00:00:00",
        "dur": "00:30:00",
        "s": [
            {
                "tc": [0.0, 120.0],
                "pOf": f"{IID}-i0001",
                "u": [
                    {
                        "tc": [0.0, 60.0],
                        "ss": [
                            {
                                "tc": [0.0, 30.0],
                                "t": [{"tx": "bonjour", "tc": [0.5, 0.4]}],
                            }
                        ],
                    }
                ],
            }
        ],
        "n": None,
    }
    base.update(overrides)
    return base


def test_audio_rules_fire_individually(spark):
    def sec(tc=(0.0, 120.0), pOf=f"{IID}-i0001", tok_tc=(0.5, 0.4)):
        return [
            {
                "tc": list(tc),
                "pOf": pOf,
                "u": [
                    {
                        "tc": [0.0, 60.0],
                        "ss": [
                            {"tc": [0.0, 30.0], "t": [{"tx": "x", "tc": list(tok_tc)}]}
                        ],
                    }
                ],
            }
        ]

    cases = {
        "id_shape": _audio_record(id=f"{IID}-record1"),
        "sm_audio": _audio_record(sm="print"),
        "st_enum": _audio_record(st="podcast"),
        "cdt_timestamp": _audio_record(cdt="jan 1"),
        "ts_timestamp": _audio_record(ts="0"),
        "stt_shape": _audio_record(stt="0:0:0"),
        "dur_shape": _audio_record(dur="30 minutes"),
        "tc_arity": _audio_record(s=sec(tok_tc=(0.5,))),
        "tc_nonneg": _audio_record(s=sec(tc=(-1.0, 120.0))),
        "section_pOf_shape": _audio_record(s=sec(pOf="broadcast-1")),
    }
    for rule, row in cases.items():
        df = validate_audio_records(
            spark.createDataFrame([row], AUDIO_RECORD_SCHEMA)
        )
        got = df.collect()[0]["_violations"]
        assert got == [rule], f"{rule}: got {got}"
    ok = validate_audio_records(
        spark.createDataFrame([_audio_record()], AUDIO_RECORD_SCHEMA)
    ).collect()[0]["_violations"]
    assert ok == []


def test_cli_import_with_validate_flag(tmp_path):
    """--validate runs the value-level rules at write time (the CLI twin
    of the reference's write-time JSON-Schema validation) — conformant
    METS/ALTO imports pass with an empty error channel."""
    import subprocess
    import sys

    from tests.test_importer_mets_alto import ALTO_PAGE, METS

    corpus = tmp_path / "corpus"
    issue_dir = corpus / "GAZ" / "1900" / "01" / "02" / "a"
    (issue_dir / "text").mkdir(parents=True)
    (issue_dir / "issue-mets.xml").write_text(METS)
    (issue_dir / "text" / "0001.xml").write_text(ALTO_PAGE)
    store = tmp_path / "store"
    r = subprocess.run(
        [
            sys.executable, "-m", "impresso_ta.cli", "import",
            "--input-dir", str(corpus),
            "--format", "mets_alto",
            "--output-dir", str(store),
            "--ts", "2024-01-01T00:00:00Z",
            "--store-format", "parquet",
            "--validate",
        ],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "GAZ-1900: 1 issues" in r.stdout
    import glob

    err_files = glob.glob(str(store / "errors" / "part-*"))
    contents = "".join(open(f).read() for f in err_files)
    assert "violated" not in contents


def test_broken_rows_route_to_error_channel(spark):
    df = validate_issues(
        spark.createDataFrame(
            [_issue_with(), _issue_with(st="blog")], ISSUE_SCHEMA
        )
    )
    ok, errors = split_valid(df, "validate")
    assert ok.count() == 1
    err = errors.collect()
    assert len(err) == 1
    assert err[0]["stage"] == "validate"
    assert "violated st_enum" in err[0]["error"]


# ---------------------------------------------------------------------------
# Rule semantics: a rule judges the value the row stores
# ---------------------------------------------------------------------------


def _page_with(region_c, token_c):
    r = region(
        [para([line([token("x", token_c)])])], pOf=f"{IID}-i0001", c=region_c
    )
    return page(f"{IID}-p0001", [r])


@pytest.mark.parametrize("c", [[5], []], ids=["one", "empty"])
def test_short_coord_array_gets_only_its_arity_violation(spark, c):
    """An origin a short coordinate array lacks is unknown, not an
    ``element_at`` out of bounds that aborts the whole job."""
    row = _page_with(c, c)
    want = ["region_coord_arity", "token_coord_arity"]
    assert page_violations(row) == want
    df = validate_pages(spark.createDataFrame([row], PAGE_SCHEMA))
    assert df.collect()[0]["_violations"] == want


def test_split_valid_runs_the_rules_once_per_row(spark):
    """The error frame filters on ``_violations`` and formats it; the
    optimizer must not copy the rules' UDF into both operators."""
    bad = _page_with([0, 0, 5, 5], [1, 2, 3])
    _, errors = split_valid(
        validate_pages(spark.createDataFrame([bad], PAGE_SCHEMA)), "validate-page"
    )
    plan = errors._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BatchEvalPython") == 1
    assert [r["error"] for r in errors.collect()] == ["violated token_coord_arity"]


def test_id_and_timestamp_digits_are_ascii(spark):
    """Java's ``\\d`` in ``rlike`` matches ASCII digits only; so must the
    Python rules (Arabic-Indic digits are ``\\d`` to Python by default)."""
    arabic = "١٩٠٠"
    bad_id = f"GDL-{arabic}-01-02-a"
    bad_issue = _issue_with(
        id=bad_id, cdt=f"{arabic}-01-01 00:00:00", i=[], pp=[f"{bad_id}-p0001"]
    )
    assert issue_violations(bad_issue) == ["id_shape", "cdt_timestamp"]
    assert _validate_one_issue(spark, bad_issue) == ["id_shape", "cdt_timestamp"]
    bad_page = _page_with([0, 0, 5, 5], [1, 2, 3, 4])
    bad_page["id"] = f"{IID}-p{arabic}"
    assert page_violations(bad_page) == ["id_shape"]
    assert record_violations(_audio_record(stt=f"{arabic[:2]}:00:00")) == [
        "stt_shape"
    ]


def test_null_fields_and_elements_fire_no_rule(spark):
    """Three-valued logic: a null is unknown, and never fires a rule by
    itself."""
    ci = content_item(f"{IID}-i0001", pp=[None, 1], ro=None, tp=None, lg=None)
    nameless = content_item(None, pp=[1], ro=1)
    row = _issue_with(i=[ci, nameless], st=None, sm=None, cdt=None)
    # the null CI id is neither foreign nor a duplicate
    assert issue_violations(row) == []
    # CI ids are non-nullable in the schema, so the frame gets only the
    # first CI
    assert _validate_one_issue(spark, _issue_with(i=[ci], st=None)) == []

    null_origin = _page_with([None, 1, 2, 3], [None, 0, 2, 2])
    assert page_violations(null_origin) == []
    df = validate_pages(spark.createDataFrame([null_origin], PAGE_SCHEMA))
    assert df.collect()[0]["_violations"] == []
    # a present negative origin still fires next to a null one
    assert page_violations(_page_with([None, -1, 2, 3], [1, 2, 3, 4])) == [
        "region_origin_nonneg"
    ]

    rec = _audio_record()
    rec["s"][0]["u"][0]["ss"][0]["t"][0]["tc"] = [None, 0.4]
    assert record_violations(rec) == []


def test_integer_fields_are_judged_as_stored(spark):
    """The pandas→Arrow cast of an int column truncates floats toward
    zero, so ``[-0.5, 0, 2, 2]`` is stored (and judged) as
    ``[0, 0, 2, 2]``."""
    import pandas as pd

    raw = _page_with([1.5, -0.5, 5, 5], [-0.5, 0, 2, 2])

    def emit(batches):
        for _ in batches:
            yield pd.DataFrame([raw], columns=PAGE_SCHEMA.fieldNames())

    stored = spark.range(1).mapInPandas(emit, schema=PAGE_SCHEMA)
    region_row = stored.collect()[0]["r"][0]
    assert region_row["c"] == [1, 0, 5, 5]
    assert region_row["p"][0]["l"][0]["t"][0]["c"] == [0, 0, 2, 2]
    assert page_violations(raw) == []
    assert validate_pages(stored).collect()[0]["_violations"] == []

    # reading order and page references are integers too
    ci = content_item(f"{IID}-i0001", pp=[1.9], ro=0.5)
    assert issue_violations(_issue_with(i=[ci])) == ["ci_ro_positive"]


# ---------------------------------------------------------------------------
# The import's in-parse rules equal the DataFrame functions
# ---------------------------------------------------------------------------

TS = "2024-01-01T00:00:00Z"


def _lines(df):
    return sorted(df.toJSON().collect())


def _two_pass(res):
    """``validate_*`` + ``split_valid`` over an unvalidated import."""
    issues, issue_errs = split_valid(validate_issues(res.issues), "validate-issue")
    pages, page_errs = split_valid(validate_pages(res.pages), "validate-page")
    records, record_errs = split_valid(
        validate_audio_records(res.records), "validate-record"
    )
    errors = (
        res.errors.unionByName(issue_errs)
        .unionByName(page_errs)
        .unionByName(record_errs)
    )
    return [_lines(df) for df in (issues, pages, records, errors)]


def _in_parse(res):
    return [_lines(df) for df in (res.issues, res.pages, res.records, res.errors)]


def _assert_parity(disc):
    want = _two_pass(import_issues(disc, ts=TS))
    got = _in_parse(import_issues(disc, ts=TS, validate=True))
    assert got == want
    return got


def _mets_tree(base):
    """The CLI tests' tree with one rejected page, plus an issue whose
    alias breaks every id rule (a rejected issue)."""
    from tests.test_cli import _make_tree_with_rejected_page
    from tests.test_importer_mets_alto import ALTO_PAGE, METS

    _make_tree_with_rejected_page(base)
    issue_dir = base / "G.Z" / "1900" / "01" / "02" / "a"
    (issue_dir / "text").mkdir(parents=True)
    (issue_dir / "issue-mets.xml").write_text(METS)
    (issue_dir / "text" / "0001.xml").write_text(ALTO_PAGE)


def test_in_parse_validation_matches_dataframe_rules_mets(spark, tmp_path):
    import json

    from impresso_ta.sources import detect_issues

    corpus = tmp_path / "corpus"
    _mets_tree(corpus)
    disc = detect_issues(spark, str(corpus), "mets_alto")
    issues, pages, records, errors = _assert_parity(disc)
    assert (len(issues), len(pages), len(records)) == (2, 1, 0)
    stages = sorted(json.loads(e)["stage"] for e in errors)
    assert stages == ["validate-issue", "validate-page", "validate-page"]


INA_XML = """<?xml version="1.0" encoding="UTF-8"?>
<AudioDoc name="test">
  <SpeakerList><Speaker spkid="S1" lang="fre"/></SpeakerList>
  <SegmentList>
    <SpeechSegment spkid="S1" lang="fre" stime="1.0" etime="4.0">
      <Word stime="{stime}" dur="0.5">bonjour</Word>
      <Word stime="1.6" dur="0.4">tous</Word>
    </SpeechSegment>
  </SegmentList>
</AudioDoc>
"""


def test_in_parse_validation_matches_dataframe_rules_audio(spark, tmp_path):
    """The INA-style fixture, and a twin whose first word starts at a
    negative offset (a rejected record)."""
    import json

    rows = []
    for day, stime in (("09", "1.0"), ("10", "-1.0")):
        issue_dir = tmp_path / "CFCE" / "1945" / "07" / day / "a"
        issue_dir.mkdir(parents=True)
        (issue_dir / "broadcast.xml").write_text(INA_XML.format(stime=stime))
        (issue_dir / "metadata.json").write_text(
            json.dumps({"title": "Chronique", "duration_sec": 1800})
        )
        rows.append(
            ("CFCE", date(1945, 7, int(day)), "a", str(issue_dir), "ina_asr")
        )
    disc = spark.createDataFrame(rows, DISCOVERY_SCHEMA)
    issues, pages, records, errors = _assert_parity(disc)
    assert (len(issues), len(pages), len(records)) == (2, 0, 1)
    assert len(errors) == 1 and "violated tc_nonneg" in errors[0]


@pytest.mark.skipif(
    not os.path.isdir(f"{REF_SAMPLES}/BCUL/46165"),
    reason="reference sample data not available",
)
def test_in_parse_validation_matches_dataframe_rules_bcul(spark):
    disc = spark.createDataFrame(
        [("FAL", date(1762, 12, 7), "a", f"{REF_SAMPLES}/BCUL/46165", "abbyy_bcul")],
        DISCOVERY_SCHEMA,
    )
    _assert_parity(disc)


def test_rejected_issue_keeps_its_valid_pages(spark):
    """A rejected issue leaves ``issues`` but its valid pages stay, as in
    ``validate_*`` + ``split_valid``; a rejected page leaves ``pages``."""
    from impresso_ta.importers.base import (
        IMPORT_ROW_SCHEMA,
        _split_combined,
        _validated,
    )

    good = _page_with([0, 0, 5, 5], [1, 2, 3, 4])
    bad = _page_with([0, 0, 5, 5], [1, 2, 3])
    bad["id"] = f"{IID}-p0002"
    row = _issue_with(st="blog", pp=[good["id"], bad["id"]])
    issue_row, pages, rejected = _validated(row, [good, bad], is_audio=False)
    assert issue_row is None and pages == [good]
    assert rejected == [
        {
            "canonical_path": bad["id"],
            "stage": "validate-page",
            "error": "violated token_coord_arity",
        },
        {
            "canonical_path": IID,
            "stage": "validate-issue",
            "error": "violated st_enum",
        },
    ]
    combined = spark.createDataFrame(
        [(None, pages, None, IID, None, rejected)], IMPORT_ROW_SCHEMA
    )
    res = _split_combined(combined)
    assert res.issues.count() == 0
    assert [r["id"] for r in res.pages.collect()] == [good["id"]]
    assert sorted(r["stage"] for r in res.errors.collect()) == [
        "validate-issue",
        "validate-page",
    ]


def test_raising_rule_fails_one_issue_not_the_task(monkeypatch):
    """A coordinate of ``inf`` has no integer value (``int()`` raises
    OverflowError): that issue becomes an import error row, as any other
    failure inside the parse does."""
    from impresso_ta.importers import base

    class InfCoords(base.FormatPlugin):
        name = "inf_coords"

        def parse_issue_dir(self, alias, date, edition, path):
            row = _issue_with()
            row["_pages"] = [_page_with([float("inf"), 0, 5, 5], [1, 2, 3, 4])]
            return row

    monkeypatch.setitem(base._PLUGINS, InfCoords.name, InfCoords())
    args = ("inf_coords", "GDL", "1900-01-02", "a", "unused", TS)
    assert base._parse_one(*args)["pages"][0]["id"] == f"{IID}-p0001"
    row = base._parse_one(*args, validate=True)
    assert row["issue"] is None and row["pages"] is None
    assert row["canonical_path"] == IID
    assert row["error"].startswith("OverflowError: ")
