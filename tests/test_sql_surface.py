"""Canonical jsonl page stores read as JSON text: the legacy BNF line
nesting is repaired where the rebuild parses each page."""

import json

from impresso_ta.schemas import ISSUE_SCHEMA
from tests.fixtures import content_item, issue


def test_legacy_bnf_line_nesting_repaired(spark, tmp_path):
    """Pages whose paragraphs store l = [[line, notes], ...] (the legacy
    BNF exporter shape found in the reference's shipped canonical
    outputs) rebuild with their tokens intact, in both formats."""
    from impresso_ta.rebuild import rebuild_issues_passim, rebuild_issues_solr
    from impresso_ta.sources.readers import read_pages

    iid = "XXX-1900-01-02-a"
    ci_id = f"{iid}-i0001"
    legacy_page = {
        "id": f"{iid}-p0001",
        "cc": True,
        "r": [
            {
                "c": [0, 0, 10, 10],
                "pOf": ci_id,
                "p": [
                    {
                        "c": [0, 0, 10, 10],
                        "l": [
                            [{"c": [0, 0, 5, 5],
                              "t": [{"c": [0, 0, 2, 2], "tx": "Hello"}]}, []],
                            [{"c": [0, 5, 5, 5],
                              "t": [{"c": [0, 5, 2, 2], "tx": "world"}]}, []],
                        ],
                    }
                ],
            }
        ],
    }
    path = tmp_path / "pages.jsonl"
    path.write_text(json.dumps(legacy_page) + "\n")
    pages = read_pages(spark, str(path))
    issues = spark.createDataFrame(
        [issue(iid, [content_item(ci_id, pp=[1], lg="en")], pp=[f"{iid}-p0001"])],
        ISSUE_SCHEMA,
    )

    (solr,) = rebuild_issues_solr(issues, pages).collect()
    assert not solr["has_problem"], solr["error"]
    assert "Hello world" in solr["ft"]
    assert solr["lb"] == [5, 11]  # one line break per repaired line

    (passim,) = rebuild_issues_passim(issues, pages).collect()
    assert not passim["has_problem"], passim["error"]
    assert passim["text"] == "Hello\nworld\n"
