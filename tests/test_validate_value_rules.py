"""Value-level canonical-schema rules (ref: utils.py:71-89 JSON-Schema
validation at write time) ported as column expressions:

1. the reference's real sample imports (FedGazDe TETML, BCUL/CL ABBYY,
   INA-style ASR) pass every rule — the repo's importers emit
   schema-conformant values end-to-end;
2. one deliberately-broken fixture per rule is flagged by exactly that
   rule and routed to the error channel.
"""

import os
import shutil
from datetime import date
from pathlib import Path

import pytest

from impresso_ta.importers import import_issues
from impresso_ta.operators.validate import (
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
