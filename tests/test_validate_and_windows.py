"""Value-level schema validation (ref utils.py:71-89)."""

from impresso_ta.operators.validate import (
    split_valid,
    validate_issues,
    validate_pages,
)
from impresso_ta.schemas import ISSUE_SCHEMA, PAGE_SCHEMA
from tests.fixtures import content_item, issue, line, page, para, region, token


def test_validate_issues_pass_and_fail(spark):
    good, _ = _good_issue()
    bad = issue(
        "BAD-ID-FORMAT",  # id_shape violation
        [content_item("OTHER-1900-01-02-a-i0001", pp=[1])],  # not prefixed
        pp=None,  # supports_present violation
    )
    bad["st"] = "blog"  # st_enum violation
    df = validate_issues(
        spark.createDataFrame([good, bad], ISSUE_SCHEMA)
    )
    rows = {r["id"]: r["_violations"] for r in df.collect()}
    assert rows[good["id"]] == []
    assert set(rows["BAD-ID-FORMAT"]) == {
        "id_shape",
        "st_enum",
        "ci_ids_prefixed",
        "ci_pp_in_range",  # CI references page 1 but the issue has no pages
        "supports_present",
    }

    ok, errors = split_valid(df, "import")
    assert ok.count() == 1
    err = errors.collect()[0]
    assert err["canonical_path"] == "BAD-ID-FORMAT"
    assert "violated id_shape" in err["error"]


def _good_issue():
    iid = "GDL-1900-01-02-a"
    iss = issue(
        iid,
        [content_item(f"{iid}-i0001", pp=[1])],
        pp=[f"{iid}-p0001"],
    )
    pg = page(
        f"{iid}-p0001",
        [region([para([line([token("mot", [1, 2, 3, 4])])])], pOf=f"{iid}-i0001")],
    )
    return iss, pg


def test_validate_pages_coord_arity(spark):
    _, good_page = _good_issue()
    bad_page = page(
        "GDL-1900-01-02-a-p0002",
        [region([para([line([token("x", [1, 2, 3])])])])],  # 3-arity coords
    )
    df = validate_pages(
        spark.createDataFrame([good_page, bad_page], PAGE_SCHEMA)
    )
    rows = {r["id"]: r["_violations"] for r in df.collect()}
    assert rows["GDL-1900-01-02-a-p0001"] == []
    assert rows["GDL-1900-01-02-a-p0002"] == ["token_coord_arity"]
