"""Canonical → rebuilt ("solr") pipeline, Spark-first.

Replaces the reference's driver-side loop + Dask bag pipeline
(ref: rebuilders/rebuilder.py:155-292 ``filter_and_process_cis`` /
``rebuild_issues``) with ONE distributed plan, which the passim format
(rebuild/passim.py) shares:

    issues ⨝ supports (grouped by issue id, one pinned shuffle)
        → per-issue assembly in one batch-level ``mapInArrow`` pass:
          rejoin CIs (J3/J4) + assemble fulltext (W3/W4)
        → rebuilt rows with errors-as-data columns (F5/S15)

Issues are independent units of a few MB each: the grouping key (issue
id) is high-cardinality, so this is one even shuffle of the pages table.
All CI-level joins the reference hand-rolls in Python dict scans
(ref: paper_rebuilders.py:285-313 page lookup + pOf region filter) happen
inside the task against a single issue's data.
"""

from __future__ import annotations

import datetime
import functools
from typing import Any, Callable, Iterable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from impresso_ta.schemas import REBUILT_CI_SCHEMA, TYPE_MAPPINGS
from impresso_ta.rebuild.text import rebuild_audio_text, rebuild_text

# Rebuilt schema + errors-as-data columns (never throw per-record; the
# reference logs and continues — ref: core.py:110-146, helpers.py:52-77).
REBUILT_WITH_ERRORS_SCHEMA = StructType(
    REBUILT_CI_SCHEMA.fields
    + [
        StructField("has_problem", BooleanType(), False),
        StructField("error", StringType(), True),
    ]
)


def _find_support(supports: list[dict], marker: str) -> Optional[dict]:
    """Find the support doc whose id contains e.g. ``p0004`` (ref:
    paper_rebuilders.py:290-295 substring match, first hit)."""
    for doc in supports:
        if marker in (doc.get("id") or ""):
            return doc
    return None


def _consensus_cc(docs: list[dict]) -> Optional[bool]:
    """cc = mean(support.cc) == 1.0; None when any cc missing (ref:
    paper_rebuilders.py:315-319)."""
    ccs = [d.get("cc") for d in docs]
    if not ccs or any(cc is None for cc in ccs):
        return None
    return all(ccs)


def _base_solr_ci(
    ci: dict, issue: dict, ts: Optional[str]
) -> tuple[dict, Optional[str], Optional[str]]:
    """Metadata part of the rebuilt CI (ref: rebuilders/helpers.py:176-259
    ``rebuild_for_solr``). Returns (solr_ci, mapped_type, language)."""
    m = ci["m"]
    ci_id = m["id"]
    # Parse from the right: aliases may themselves contain dashes
    # (functions/ids.py supports them), so the last 5 components are
    # (yyyy, mm, dd, edition, ciNNNN) and everything before is the alias.
    year, month, day, _, ci_num = ci_id.split("-")[-5:]
    d = datetime.date(int(year), int(month), int(day)).isoformat()

    tp = m.get("tp")
    mapped_type = TYPE_MAPPINGS.get(tp, tp)
    lang = m.get("lg")
    reading_order = m["ro"] if m.get("ro") is not None else int(ci_num[1:])
    st = issue.get("st")
    sm = issue.get("sm")
    is_audio = sm == "audio"
    has_olr = not (mapped_type is None or st == "radio_broadcast")

    solr_ci: dict[str, Any] = {
        "id": ci_id,
        "ts": ts,
        "d": d,
        "cc": True if is_audio else ci.get("_cc"),
        "olr": has_olr,
        "st": st,
        "sm": sm,
        "lg": lang,
        "tp": mapped_type,
        "ro": reading_order,
        "title": m.get("t"),
        "var_t": m.get("var_t"),
        "archival_note": m.get("archival_note"),
        "rp": issue.get("rp") if st == "radio_broadcast" else None,
        "rc": issue.get("rc") if st == "radio_broadcast" else None,
    }
    if is_audio:
        solr_ci["rr"] = sorted({int(r) for r in (m.get("rr") or [])})
    else:
        solr_ci["pp"] = sorted({int(p) for p in (m.get("pp") or [])})
    return solr_ci, mapped_type, lang


# ref: rebuilders/helpers.py:29-34
IIIF_ENDPOINT_BASE_2_SUFFIX = {
    "https://ub-sipi.ub.unibas.ch/impresso": "max/0/default.jpg",
    "https://scriptorium.bcu-lausanne.ch/api": "300,/0/default.jpg",
}
DEFAULT_IMG_SUFFIX = "full/0/default.jpg"


def _reconstruct_iiif_link(ci: dict) -> Optional[str]:
    """Image-CI IIIF link (ref: helpers.py:417-485): the image area of
    the CI's coordinates under its IIIF endpoint's suffix."""
    import posixpath

    m = ci.get("m") or {}
    iiif = m.get("iiif_link") or ci.get("iiif_link")
    coords = ci.get("c") or m.get("c")
    if not iiif or not coords:
        return None
    coords_str = ",".join(str(int(c)) for c in coords)
    uri_base, old_suffix = posixpath.split(iiif)
    img_suffix = DEFAULT_IMG_SUFFIX
    for base, suffix in IIIF_ENDPOINT_BASE_2_SUFFIX.items():
        if base in uri_base:
            img_suffix = suffix
    if old_suffix == "default.jpg":
        if coords_str in iiif and img_suffix in iiif:
            return iiif
        uri_base = "/".join(uri_base.split("/")[:-3])
    return posixpath.join(uri_base, coords_str, img_suffix)


def rebuild_issue_cis(
    issue: dict,
    supports: list[dict],
    ts: Optional[str] = None,
    default_language: Optional[str] = None,
) -> Iterable[dict]:
    """Rebuild every content item of one issue (pure Python, one task).

    ``supports`` are the issue's canonical page docs (print) or audio
    record docs (audio), in any order. Yields rebuilt-CI dicts with
    ``has_problem``/``error`` set instead of raising.
    """
    is_audio = issue.get("sm") == "audio"
    supports = sorted(supports, key=lambda d: d.get("id") or "")

    for ci in issue.get("i") or []:
        m = ci.get("m") or {}
        ci_id = m.get("id") or f"{issue.get('id')}-i????"
        try:
            solr_ci, mapped_type, lang = _base_solr_ci(
                {**ci, "_cc": None}, issue, ts
            )
            if lang is None and default_language is not None:
                # opt-in divergence from the reference: without a language
                # the whitespace rules return None (tokens glue together);
                # a corpus-level default keeps rebuilt text usable
                lang = default_language
                solr_ci["lg"] = default_language
            nos = solr_ci["rr"] if is_audio else solr_ci["pp"]
            prefix = "r" if is_audio else "p"

            found: list[dict] = []
            missing: list[str] = []
            for no in nos:
                marker = f"{prefix}{str(no).zfill(4)}"
                doc = _find_support(supports, marker)
                if doc is None:
                    missing.append(marker)
                else:
                    found.append(doc)
            if missing:
                solr_ci["has_problem"] = True
                solr_ci["error"] = (
                    f"{'Audio' if is_audio else 'Page'} {','.join(missing)} "
                    f"not found for item {ci_id}"
                )
                yield solr_ci
                continue

            if is_audio:
                # stt/dur of the first record of the CI (ref:
                # helpers.py:348-351); cc is True by default for audio.
                # ``found`` is id-resolved (not positional): with a sparse
                # record set (e.g. r0002/r0003 and no r0001) positional
                # ``supports[no-1]`` would read the wrong record.
                if found:
                    rec = found[0]
                    solr_ci["stt"] = rec.get("stt")
                    solr_ci["dur"] = rec.get("dur")
            else:
                solr_ci["cc"] = _consensus_cc(found)

            if mapped_type == "img":
                solr_ci["iiif_link"] = _reconstruct_iiif_link(ci)
                solr_ci["has_problem"] = False
                solr_ci["error"] = None
                yield solr_ci
                continue

            issue_id = issue.get("id")
            fulltext = ""
            if is_audio:
                ssb: list[int] = []
                ub: list[int] = []
                sb: list[int] = []
                rreb = []
                for no in nos:
                    marker = f"r{str(no).zfill(4)}"
                    rec = _find_support(supports, marker)
                    sections = [
                        s
                        for s in (rec.get("s") or [])
                        if s.get("pOf") == ci_id
                    ]
                    fulltext, coords, offsets = rebuild_audio_text(
                        sections, lang, fulltext or None
                    )
                    ssb += offsets["speech_seg"]
                    ub += offsets["utterance"]
                    sb += offsets["section"]
                    rreb.append(
                        {
                            "id": f"{issue_id}-{marker}",
                            "n": no,
                            "t": coords["tokens"],
                            "u": coords["utterances"],
                            "s": coords["sections"],
                        }
                    )
                solr_ci.update(
                    {"ssb": ssb, "ub": ub, "sb": sb, "rreb": rreb, "ft": fulltext}
                )
            else:
                lb: list[int] = []
                pb: list[int] = []
                rb: list[int] = []
                ppreb = []
                for no in nos:
                    marker = f"p{str(no).zfill(4)}"
                    page = _find_support(supports, marker)
                    regions = [
                        r
                        for r in (page.get("r") or [])
                        if r.get("pOf") == ci_id
                    ]
                    fulltext, coords, offsets = rebuild_text(
                        regions, lang, fulltext or None
                    )
                    lb += offsets["line"]
                    pb += offsets["para"]
                    rb += offsets["region"]
                    ppreb.append(
                        {
                            "id": f"{issue_id}-{marker}",
                            "n": no,
                            "t": coords["tokens"],
                            "r": coords["regions"],
                        }
                    )
                solr_ci.update(
                    {"lb": lb, "pb": pb, "rb": rb, "ppreb": ppreb, "ft": fulltext}
                )

            solr_ci["has_problem"] = False
            solr_ci["error"] = None
            yield solr_ci
        except Exception as exc:  # noqa: BLE001 — errors-as-data, never throw
            yield {
                "id": ci_id,
                "has_problem": True,
                "error": f"{type(exc).__name__}: {exc}",
            }


def _flatten_legacy_lines(page: dict) -> dict:
    """Flatten the legacy BNF line nesting found in the reference's own
    shipped canonical outputs (data/out/canonical_out/pages/*.bz2 for
    excelsior/lafronde/marieclaire/oeuvre): paragraphs there store
    ``l = [[line, notes], ...]`` — the (line, notes) tuples an older
    exporter wrote verbatim instead of zipping them apart (the current
    reference code does the unzip, bnf/parsers.py:52-62, so only legacy
    files carry it; the reference's own rebuilder crashes on them).
    Dict entries pass through untouched, so normal pages are unchanged."""
    for reg in page.get("r") or []:
        for para in reg.get("p") or []:
            entries = para.get("l") or []
            if any(isinstance(e, list) for e in entries):
                para["l"] = [
                    x
                    for e in entries
                    for x in (e if isinstance(e, list) else [e])
                    if isinstance(x, dict)
                ]
    return page


def _rebuild_issues(
    issues_df: DataFrame,
    supports_df: DataFrame,
    assemble: Callable[[dict, list[dict]], Iterable[dict]],
    schema: StructType,
    support_fields: Iterable[str],
) -> DataFrame:
    """The one rebuild plan of both formats: supports grouped per issue
    (one shuffle), joined to issues, then ONE batch-level ``mapInArrow``
    pass that runs ``assemble(issue, supports)`` on every issue.

    Each support rides the shuffle as one JSON string: a page frame
    from a jsonl store (``id``, ``js``; see ``read_pages``) as its raw
    line, a typed frame (parquet pages, audio records) as
    ``to_json`` of the ``support_fields`` the assembly reads.
    ``assemble`` yields one dict per output row, with the ``schema``
    fields it knows set.
    """
    import json

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if "js" in supports_df.columns:
        support_js = F.col("js")
    else:
        fields = set(support_fields)
        support_js = F.to_json(
            F.struct(
                *[f.name for f in supports_df.schema.fields if f.name in fields]
            )
        )
    # Pin the grouping exchange with an explicit keyed repartition: the
    # groupBy reuses it (ClusteredDistribution(issue_id) is satisfied —
    # ONE shuffle either way), but a user-specified partition count is
    # exempt from AQE partition coalescing. AQE sizes partitions by
    # shuffle BYTES, and the assembly's cost is per-ROW compute
    # (token-tree assembly), so byte-sized coalescing can serialize it:
    # on the zipfian sf1 profile (1024 issues, ~50 docs each) AQE
    # collapsed the join output to ONE task — 34.8 s vs 11.2 s with the
    # exchange pinned. collect_list has no byte-reducing map-side
    # combine, so nothing is lost by aggregating after the exchange.
    # A null-id support (a jsonl line that is not JSON) joins no issue,
    # so it is dropped here. The non-nullable key then gives the left
    # join no ``isnotnull(issue_id)`` to infer and push below this
    # projection as a second run of the regex.
    keyed = supports_df.filter(F.col("id").isNotNull()).select(
        F.coalesce(
            F.regexp_replace(F.col("id"), "-[pr][0-9]{4}$", ""), F.lit("")
        ).alias("issue_id"),
        support_js.alias("js"),
    )
    keyed = keyed.repartition(
        int(keyed.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        "issue_id",
    )
    grouped = keyed.groupBy("issue_id").agg(
        F.collect_list("js").alias("_supports")
    )
    joined = issues_df.join(
        grouped, issues_df["id"] == grouped["issue_id"], "left"
    )

    # The input crosses the JVM→Python boundary as JSON text: one issue
    # JSON string plus the list of its supports' JSON strings, each
    # parsed once here, not as nested Arrow structs: ``to_json`` runs
    # inside whole-stage codegen and ``json.loads`` is a C parser, while
    # ``RecordBatch.to_pylist()`` on the deeply-nested token tree walks it
    # value-by-value in Python — measured 6× slower at sf0.1 (6.0 s vs
    # 1.0 s for 5k issues, single-threaded). ``to_json`` also drops null
    # fields; rebuild/text.py reads absent and null alike (``.get``).
    #
    # One Python round trip per Arrow batch (~thousands of issues), not
    # per issue: the per-key applyInPandas cogroup measured ~3× slower on
    # small-issue corpora (each key pays a full pandas/Arrow cycle).
    names = schema.fieldNames()
    arrow_schema = to_arrow_schema(schema)

    def fn(batches):
        for batch in batches:
            out: list[dict] = []
            for issue_js, supports_js in zip(
                batch.column(0).to_pylist(), batch.column(1).to_pylist()
            ):
                issue = json.loads(issue_js)
                supports = [
                    _flatten_legacy_lines(json.loads(js))
                    for js in supports_js or []
                ]
                for row in assemble(issue, supports):
                    out.append({k: row.get(k) for k in names})
            yield pa.RecordBatch.from_pylist(out, schema=arrow_schema)

    return joined.select(
        F.to_json(F.struct(*issues_df.columns)).alias("issue"), "_supports"
    ).mapInArrow(fn, schema=schema)


def rebuild_issues_solr(
    issues_df: DataFrame,
    supports_df: DataFrame,
    ts: Optional[str] = None,
    default_language: Optional[str] = None,
) -> DataFrame:
    """Rebuild all CIs: :func:`rebuild_issue_cis` per issue, through the
    one rebuild plan (:func:`_rebuild_issues`).

    ``issues_df`` rows follow ISSUE_SCHEMA; ``supports_df`` rows follow
    PAGE_SCHEMA or AUDIO_RECORD_SCHEMA, or are the page JSON lines of
    ``read_pages`` (``id``, ``js``). Returns REBUILT_WITH_ERRORS_SCHEMA;
    split problem rows with ``split_errors``.
    """
    return _rebuild_issues(
        issues_df,
        supports_df,
        functools.partial(
            rebuild_issue_cis, ts=ts, default_language=default_language
        ),
        REBUILT_WITH_ERRORS_SCHEMA,
        # an audio record's sections are ``s``; cdt/ts/st/sm/iiif/notes
        # are dead weight in the grouping
        ("id", "cc", "r", "stt", "dur", "s"),
    )


def split_errors(rebuilt_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F5: split problem-free CIs from the error channel
    (ref: helpers.py:52-77 + rebuilder.py:206-212)."""
    ok = rebuilt_df.filter(~F.col("has_problem")).drop("has_problem", "error")
    errors = rebuilt_df.filter(F.col("has_problem")).select(
        F.col("id").alias("canonical_path"),
        F.lit("rebuild").alias("stage"),
        F.coalesce(F.col("error"), F.lit("unknown")).alias("error"),
    )
    return ok, errors
