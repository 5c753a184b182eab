"""Canonical → passim-document pipeline (ref: rebuilders/helpers.py:262-311
``rebuild_for_passim`` + paper_rebuilders.py:233-269).

Runs the solr pipeline's one rebuild plan (``solr._rebuild_issues``);
only the per-CI assembly differs (every token becomes a region with
start/length/xywh coords, lines end with ``\\n``, hyphenated parts are
kept verbatim). Passim documents are print-only: an audio record has no
pages.
"""

from __future__ import annotations

import functools
from typing import Any, Iterable, Optional

from pyspark.sql import DataFrame
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from impresso_ta.schemas import PASSIM_SCHEMA, TYPE_MAPPINGS
from impresso_ta.rebuild.text import rebuild_text_passim
from impresso_ta.rebuild.solr import _find_support, _rebuild_issues

PASSIM_WITH_ERRORS_SCHEMA = StructType(
    PASSIM_SCHEMA.fields
    + [
        StructField("has_problem", BooleanType(), False),
        StructField("error", StringType(), True),
    ]
)


def rebuild_issue_passim(
    issue: dict, supports: list[dict], default_language: Optional[str] = None
) -> Iterable[dict]:
    """Passim documents for one (print) issue's content items.

    ``default_language`` stands in for a CI without ``lg``, as in
    :func:`impresso_ta.rebuild.solr.rebuild_issue_cis`: without a
    language the whitespace rules glue the tokens together."""
    supports = sorted(supports, key=lambda d: d.get("id") or "")
    issue_id = issue.get("id") or ""
    id_parts = issue_id.split("-")
    alias, date_str = "-".join(id_parts[:-4]), "-".join(id_parts[-4:-1])

    for ci in issue.get("i") or []:
        m = ci.get("m") or {}
        ci_id = m.get("id") or f"{issue_id}-i????"
        try:
            tp = m.get("tp")
            mapped_type = TYPE_MAPPINGS.get(tp, tp)
            lang = m.get("lg")
            if lang is None:
                lang = default_language
            doc: dict[str, Any] = {
                "series": alias,
                "date": date_str,
                "id": ci_id,
                "cc": None,
                "tp": mapped_type,
                "lg": lang,
                "title": m.get("t"),
                "pages": [],
            }

            page_nos = sorted({int(p) for p in (m.get("pp") or [])})
            fulltext = ""
            missing: list[str] = []
            for no in page_nos:
                marker = f"p{str(no).zfill(4)}"
                page = _find_support(supports, marker)
                if page is None:
                    missing.append(marker)
                    continue
                regions = [
                    r for r in (page.get("r") or []) if r.get("pOf") == ci_id
                ]
                fulltext, out_regions = rebuild_text_passim(
                    regions, lang, fulltext or None
                )
                doc["pages"].append(
                    {
                        "id": f"{issue_id}-{marker}",
                        "seq": no,
                        "regions": out_regions,
                    }
                )
            if missing:
                doc["has_problem"] = True
                doc["error"] = f"Page {','.join(missing)} not found for item {ci_id}"
                yield doc
                continue
            doc["text"] = fulltext
            doc["has_problem"] = False
            doc["error"] = None
            yield doc
        except Exception as exc:  # noqa: BLE001
            yield {
                "series": alias,
                "date": date_str,
                "id": ci_id,
                "has_problem": True,
                "error": f"{type(exc).__name__}: {exc}",
            }


def rebuild_issues_passim(
    issues_df: DataFrame,
    supports_df: DataFrame,
    default_language: Optional[str] = None,
) -> DataFrame:
    """Passim rebuild: :func:`rebuild_issue_passim` per issue, through
    the solr pipeline's one rebuild plan. ``supports_df`` must be a page
    store (``read_pages``: JSON text or typed pages): audio records carry
    no ``r`` regions, and their CIs no ``pp``, so every document would
    come out empty."""
    if "r" not in supports_df.columns and "js" not in supports_df.columns:
        raise ValueError(
            "passim documents are print-only: the supports are neither "
            "page JSON text ('js') nor have a page regions column 'r' "
            f"(columns: {supports_df.columns})"
        )
    return _rebuild_issues(
        issues_df,
        supports_df,
        functools.partial(
            rebuild_issue_passim, default_language=default_language
        ),
        PASSIM_WITH_ERRORS_SCHEMA,
        ("id", "cc", "r"),
    )
