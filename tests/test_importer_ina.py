"""INA-style ASR import: utterance grouping by speaker, majority-vote
language, one CI per broadcast — then the audio rebuild end-to-end."""

import json

import pytest

from impresso_ta.importers import import_issues
from impresso_ta.rebuild import rebuild_issues_solr
from impresso_ta.schemas import DISCOVERY_SCHEMA
from datetime import date

ASR_XML = """<?xml version="1.0" encoding="UTF-8"?>
<AudioDoc name="test">
  <SpeakerList>
    <Speaker spkid="S1" lang="fre"/>
    <Speaker spkid="S2" lang="fre"/>
  </SpeakerList>
  <SegmentList>
    <SpeechSegment spkid="S1" lang="fre" stime="1.0" etime="4.0">
      <Word stime="1.0" dur="0.5">bonjour</Word>
      <Word stime="1.6" dur="0.4">à</Word>
      <Word stime="2.1" dur="0.6">tous</Word>
    </SpeechSegment>
    <SpeechSegment spkid="S1" lang="fre" stime="4.0" etime="6.0">
      <Word stime="4.1" dur="0.5">mesdames</Word>
    </SpeechSegment>
    <SpeechSegment spkid="S2" lang="eng" stime="6.0" etime="9.5">
      <Word stime="6.1" dur="0.5">hello</Word>
      <Word stime="6.8" dur="0.5">there</Word>
    </SpeechSegment>
  </SegmentList>
</AudioDoc>
"""


@pytest.fixture(scope="module")
def audio_import(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("ina")
    issue_dir = base / "CFCE" / "1945" / "07" / "09" / "a"
    issue_dir.mkdir(parents=True)
    (issue_dir / "broadcast.xml").write_text(ASR_XML)
    (issue_dir / "metadata.json").write_text(
        json.dumps(
            {
                "title": "Chronique du jour",
                "program": "Chronique",
                "channel": "Chaîne A",
                "duration_sec": 1800,
            }
        )
    )
    disc = spark.createDataFrame(
        [("CFCE", date(1945, 7, 9), "a", str(issue_dir), "ina_asr")],
        DISCOVERY_SCHEMA,
    )
    return import_issues(disc, ts="2024-01-01T00:00:00Z")


def test_audio_issue_shape(audio_import):
    res = audio_import
    assert res.errors.count() == 0 and res.pages.count() == 0
    issue = res.issues.collect()[0].asDict(recursive=True)
    assert issue["id"] == "CFCE-1945-07-09-a"
    assert issue["st"] == "radio_broadcast" and issue["sm"] == "audio"
    assert issue["rp"] == "Chronique" and issue["rc"] == "Chaîne A"
    ci = issue["i"][0]
    assert ci["m"]["id"] == "CFCE-1945-07-09-a-i0001"
    assert ci["m"]["tp"] == "radio_broadcast_episode"
    assert ci["m"]["lg"] == "fr"  # majority vote: fre ×4 (2 spk + 2 seg) > eng
    assert ci["m"]["rr"] == [1]


def test_audio_record_utterances(audio_import):
    rec = audio_import.records.collect()[0].asDict(recursive=True)
    assert rec["id"] == "CFCE-1945-07-09-a-r0001"
    assert rec["dur"] == "00:30:00"  # sidecar metadata, not etime
    assert rec["stt"] == "00:00:00"
    section = rec["s"][0]
    # section spans first utterance start → max etime
    assert section["tc"] == [1.0, 8.5]
    assert section["pOf"] == "CFCE-1945-07-09-a-i0001"
    utts = section["u"]
    # S1's two consecutive segments merge into one utterance; S2 separate
    assert len(utts) == 2
    assert utts[0]["tc"] == [1.0, 5.0]
    assert len(utts[0]["ss"]) == 2
    assert utts[1]["tc"] == [6.0, 3.5]
    assert utts[0]["ss"][0]["t"][0] == {"tc": [1.0, 0.5], "tx": "bonjour"}


def _asr_xml(segments):
    """ASR XML for ``[(speaker, lang, [word, ...]), ...]``: one second
    per word, each word spoken for half of it."""
    speakers = sorted({(spk, lang) for spk, lang, _ in segments})
    t = 0.0
    body = []
    for spk, lang, words in segments:
        ws = "".join(
            f'<Word stime="{t + i:.1f}" dur="0.5">{w}</Word>'
            for i, w in enumerate(words)
        )
        body.append(
            f'<SpeechSegment spkid="{spk}" lang="{lang}" stime="{t:.1f}" '
            f'etime="{t + len(words):.1f}">{ws}</SpeechSegment>'
        )
        t += len(words)
    spk_list = "".join(
        f'<Speaker spkid="{spk}" lang="{lang}"/>' for spk, lang in speakers
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?><AudioDoc name="x">'
        f"<SpeakerList>{spk_list}</SpeakerList>"
        f"<SegmentList>{''.join(body)}</SegmentList></AudioDoc>"
    )


def _manifest_row(alias, day, **fields):
    row = {"Alias Collection": alias, "Date d'enregistrement": day}
    row.update(fields)
    return row


# An INA delivery in the reference layout (ref: ina/detect.py:46-117):
# one directory per broadcast, named by notice key, next to an
# ``ina_metadata.json`` manifest keyed by those names, with French
# archive fields and dd/mm/yyyy dates. Broadcast -> (manifest row, ASR
# segments); ``None`` means that side is missing.
INA_TREE = {
    "PH000000001_DB00001": (
        _manifest_row(
            "CFCE", "08/09/1996",
            **{
                "Titre propre": "Magazine du dimanche",
                "Titre collection": "Le magazine",
                "Canal de diffusion": "France Culture",
                "Société de programmes": "Radio France",
                "Durée": "00:55:00",
                "Résumé": "Revue de la semaine.",
                "Identifiant de la notice": "PH000000001",
                "Noms fichers": "DB00001.mp3",
            },
        ),
        [
            ("S1", "fre", ["bonjour", "à", "tous"]),
            ("S1", "fre", ["voici", "la", "revue"]),
            ("S2", "fre", ["merci"]),
        ],
    ),
    "PH000000002_DB00002": (
        # the archive summary overrides the French ASR language vote;
        # the date cell carries stray spaces, which discovery strips
        _manifest_row(
            "CFCE", " 15/09/1996 ",
            **{"Résumé": "En anglais : entretien.", "Durée": "00:10:00"},
        ),
        [("S1", "fre", ["good", "evening"])],
    ),
    "PH000000003_DB00003": (
        _manifest_row(
            "RDN", "12/01/1950",
            **{
                "Titre propre": "Accords économiques internationaux",
                "Titre collection": "La ronde des nations",
                "Canal de diffusion": "Chaîne Parisienne",
                "Société de programmes": "RTF",
                "Durée": "00:17:13",
            },
        ),
        [
            ("S1", "fre", ["les", "accords"]),
            ("S2", "fre", ["sont", "signés"]),
            ("S1", "fre", ["à", "Genève"]),
        ],
    ),
    # manifest row whose directory was never delivered: ignored
    "PH000000004_DB00004": (_manifest_row("RDN", "01/02/1951"), None),
    # directory the manifest does not list: ignored
    "PH000000005_DB00005": (None, [("S1", "fre", ["orphelin"])]),
}


@pytest.fixture(scope="module")
def ina_tree(tmp_path_factory):
    base = tmp_path_factory.mktemp("ina_manifest")
    manifest = {}
    for name, (row, segments) in INA_TREE.items():
        if row is not None:
            manifest[name] = row
        if segments is not None:
            (base / name).mkdir()
            (base / name / f"{name.split('_')[1]}.xml").write_text(
                _asr_xml(segments), encoding="utf-8"
            )
    (base / "ina_metadata.json").write_text(
        json.dumps(manifest, ensure_ascii=False), encoding="utf-8"
    )
    return str(base)


@pytest.fixture(scope="module")
def manifest_import(spark, ina_tree):
    from impresso_ta.sources.discovery import detect_issues_ina

    disc = detect_issues_ina(spark, ina_tree)
    return import_issues(disc, ts="2024-01-01T00:00:00Z")


def test_ina_manifest_discovery(spark, ina_tree):
    """Manifest-driven discovery (ref: ina/detect.py:46-117): alias from
    'Alias Collection', date from dd/mm/yyyy 'Date d'enregistrement',
    only dirs present in both manifest and filesystem."""
    from impresso_ta.sources.discovery import detect_issues_ina

    rows = sorted(
        (r["alias"], str(r["date"]), r["edition"], r["path"].split("/")[-1])
        for r in detect_issues_ina(spark, ina_tree).collect()
    )
    assert rows == [
        ("CFCE", "1996-09-08", "a", "PH000000001_DB00001"),
        ("CFCE", "1996-09-15", "a", "PH000000002_DB00002"),
        ("RDN", "1950-01-12", "a", "PH000000003_DB00003"),
    ]


def test_ina_manifest_import_metadata(manifest_import):
    """French manifest fields map onto issue/CI metadata the way the
    reference's _fetch_broadcast_metadata / _parse_content_item do
    (ref: ina/classes.py:262-289): program = Titre collection, channel =
    Canal (Société), title = Titre propre, dur = manifest Durée."""
    res = manifest_import
    assert res.errors.count() == 0
    issues = {
        r["id"]: r.asDict(recursive=True) for r in res.issues.collect()
    }
    assert sorted(issues) == [
        "CFCE-1996-09-08-a", "CFCE-1996-09-15-a", "RDN-1950-01-12-a",
    ]
    rdn = issues["RDN-1950-01-12-a"]
    assert rdn["rp"] == "La ronde des nations"
    assert rdn["rc"] == "Chaîne Parisienne (RTF)"
    ci = rdn["i"][0]
    assert ci["m"]["t"] == "Accords économiques internationaux"
    assert ci["m"]["lg"] == "fr"
    assert ci["m"]["archival_note"] is None and ci["l"] is None
    cfce = issues["CFCE-1996-09-08-a"]
    assert cfce["rp"] == "Le magazine"
    assert cfce["rc"] == "France Culture (Radio France)"
    assert cfce["i"][0]["m"]["archival_note"] == "Revue de la semaine."
    assert cfce["i"][0]["l"]["source"] == (
        "Identifiant de la notice (in metadata): PH000000001; "
        "Noms fichers (in metadata): DB00001.mp3; "
        "Noms fichers (in practice): DB00001"
    )
    # "En anglais" in the Résumé short-circuits the ASR language vote
    assert issues["CFCE-1996-09-15-a"]["i"][0]["m"]["lg"] == "en"
    durs = {r["id"]: r["dur"] for r in res.records.collect()}
    assert durs == {
        "CFCE-1996-09-08-a-r0001": "00:55:00",
        "CFCE-1996-09-15-a-r0001": "00:10:00",
        "RDN-1950-01-12-a-r0001": "00:17:13",
    }


def test_ina_manifest_rebuild_counts(manifest_import):
    """The rebuilt CIs per alias: count, fulltext and break offsets.
    Each speech segment ends one ``ssb`` offset; every utterance after
    the first (consecutive same-speaker segments merge) starts one
    ``ub``; a single section has no ``sb``."""
    from impresso_ta.rebuild.solr import split_errors

    res = manifest_import
    ok, errors = split_errors(
        rebuild_issues_solr(res.issues, res.records, ts="2024-01-01T00:00:00Z")
    )
    assert errors.count() == 0
    got = {
        r["id"]: (r["ft"], list(r["ssb"]), list(r["ub"]), list(r["sb"]))
        for r in ok.collect()
    }
    assert got == {
        "CFCE-1996-09-08-a-i0001": (
            "bonjour à tous voici la revue merci ", [14, 29, 35], [30], []
        ),
        "CFCE-1996-09-15-a-i0001": ("good evening ", [12], [], []),
        "RDN-1950-01-12-a-i0001": (
            "les accords sont signés à Genève ", [11, 23, 32], [12, 24], []
        ),
    }
    per_alias = {}
    for ci_id, (ft, ssb, ub, sb) in got.items():
        alias = ci_id.split("-")[0]
        n, n_text, n_breaks = per_alias.get(alias, (0, 0, 0))
        per_alias[alias] = (
            n + 1, n_text + bool(ft), n_breaks + len(ssb) + len(ub) + len(sb)
        )
    assert per_alias == {"CFCE": (2, 2, 5), "RDN": (1, 1, 5)}


def test_audio_rebuild_from_import(audio_import):
    res = audio_import
    rebuilt = rebuild_issues_solr(res.issues, res.records, ts="2024-01-01T00:00:00Z")
    row = rebuilt.collect()[0].asDict(recursive=True)
    assert row["ft"] == "bonjour à tous mesdames hello there "
    assert row["stt"] == "00:00:00" and row["dur"] == "00:30:00"
    assert row["sb"] == []  # single section → no section breaks
    assert len(row["rreb"][0]["t"]) == 6
