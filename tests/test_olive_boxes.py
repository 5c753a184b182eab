"""Olive X7 box strategies: per-strategy scale-factor unit tests (ref
olive/helpers.py:486-603), JPEG header sizing, and E2E conversion on the
reference's real GDL sample driven by a generated image-info sidecar
(the reference ships none — its own test points image_dirs at an
unavailable mount, so conversion is unexercised there)."""

import importlib.util
import json
import os
import struct
from datetime import date

import pytest

from impresso_ta.importers import import_issues
from impresso_ta.importers.olive_boxes import (
    convert_xywh_box,
    get_scale_factor,
    jpeg_x_dim,
    parse_page_meta,
)
from impresso_ta.rebuild import rebuild_issues_solr
from impresso_ta.schemas import DISCOVERY_SCHEMA

SAMPLE = "/root/reference/text_preparation/data/sample_data/Olive/GDL/1900/01/02"
PG1 = os.path.join(SAMPLE, "Document", "1", "Pg001.xml")

needs_sample = pytest.mark.skipif(
    not os.path.isdir(SAMPLE), reason="reference sample data not available"
)
pil_required = pytest.mark.skipif(
    importlib.util.find_spec("PIL") is None, reason="Pillow not installed"
)


def _fake_jpeg(width, height):
    """Minimal JPEG: SOI + SOF0 segment carrying the dimensions."""
    sof = struct.pack(">BBHBHHB", 0xFF, 0xC0, 8 + 3, 8, height, width, 1)
    return b"\xff\xd8" + sof + b"\xff\xd9"


def test_jpeg_x_dim():
    assert jpeg_x_dim(_fake_jpeg(994, 1353)) == 994
    assert jpeg_x_dim(b"not a jpeg") is None


@pil_required
def test_jpeg_x_dim_matches_pil_width():
    """The SOF header scan (which replaces the reference's cv.imdecode)
    reads the same width as a real codec, on files a real encoder
    wrote."""
    import io

    from PIL import Image

    for i, (w, h) in enumerate([(31, 17), (64, 64), (120, 45)]):
        buf = io.BytesIO()
        Image.new("RGB", (w, h), (i * 40 % 256, 100, 50)).save(buf, format="JPEG")
        assert jpeg_x_dim(buf.getvalue()) == w


@needs_sample
def test_parse_page_meta_real_sample():
    meta = parse_page_meta(open(PG1, "rb").read())
    assert meta["page_no"] == "1"
    assert meta["images_resolution"] == "144"
    assert meta["page_width"] == "994"
    assert meta["page_img_xres_dpi"] == "300"


@needs_sample
def test_scale_factor_tif():
    meta = parse_page_meta(open(PG1, "rb").read())
    assert get_scale_factor(meta, "tif", "Img/Pg001.tif") == 300 / 144
    # missing source resolution → unresolvable
    assert (
        get_scale_factor(
            {"images_resolution": "144", "page_img_xres_dpi": None},
            "tif",
            "x.tif",
        )
        is None
    )


def test_scale_factor_png_highest():
    meta = {"images_resolution": "144"}
    assert get_scale_factor(meta, "png_highest", "Pg001_144.png") == 1.0
    assert get_scale_factor(meta, "png_highest", "Pg001_72.png") is None
    assert get_scale_factor(meta, "png_highest", "nounderscorepng") is None


def test_scale_factor_jpg_uniq():
    meta = {"page_width": "994"}
    assert (
        get_scale_factor(meta, "jpg_uniq", "p1.jpg", _fake_jpeg(994, 1353))
        == 1.0
    )
    assert (
        get_scale_factor(meta, "jpg_uniq", "p1.jpg", _fake_jpeg(720, 1000))
        is None
    )
    assert get_scale_factor(meta, "jpg_uniq", "p1.jpg", None) is None


def test_scale_factor_unimplemented_strategies():
    # png_uniq is a TODO in the reference; jpg_highest has no branch
    assert get_scale_factor({}, "png_uniq", "x.png") is None
    assert get_scale_factor({}, "jpg_highest", "x.jpg") is None


def test_convert_box_round_parity():
    # round() per element over the same float products the reference's
    # compute_box forms (30*(300/144) floats to 62.500000000000007 → 63)
    s = 300 / 144
    assert convert_xywh_box([10, 20, 30, 41], s) == [
        round(10 * s),
        round(20 * s),
        round(30 * s),
        round(41 * s),
    ] == [21, 42, 63, 85]


@pytest.fixture(scope="module")
def image_dirs(tmp_path_factory):
    """Sidecar for GDL-1900-01-02-a: tif strategy on every page (the
    sample's Pg XMLs really carry PAGE_IMG 300dpi vs images 144dpi)."""
    base = tmp_path_factory.mktemp("images")
    idir = base / "GDL" / "1900" / "01" / "02" / "a"
    idir.mkdir(parents=True)
    info = [
        {"pg": n, "strat": "tif", "s": f"Img/Pg00{n}.tif"} for n in (1, 2, 3, 4)
    ]
    (idir / "GDL-1900-01-02-a-image-info.json").write_text(json.dumps(info))
    return str(base)


@pytest.fixture(scope="module")
def converted_and_raw(spark, image_dirs):
    disc = spark.createDataFrame(
        [
            ("GDL", date(1900, 1, 2), "a", f"{SAMPLE}::image_dirs={image_dirs}", "olive"),
        ],
        DISCOVERY_SCHEMA,
    )
    res = import_issues(disc, ts="2024-01-01T00:00:00Z")
    disc_raw = spark.createDataFrame(
        [("GDL", date(1900, 1, 2), "a", SAMPLE, "olive")], DISCOVERY_SCHEMA
    )
    raw = import_issues(disc_raw, ts="2024-01-01T00:00:00Z")
    return res, raw


@needs_sample
def test_olive_conversion_e2e(converted_and_raw):
    res, raw = converted_and_raw
    assert res.errors.count() == 0
    pages = {r["id"]: r.asDict(recursive=True) for r in res.pages.collect()}
    raw_pages = {
        r["id"]: r.asDict(recursive=True) for r in raw.pages.collect()
    }
    s = 300 / 144
    assert len(pages) == 4
    for pid, page in pages.items():
        assert page["cc"] is True, pid
        assert page["iiif_img_base_uri"].endswith(pid)
        # every box is the rounded rescale of the unconverted import
        for reg, raw_reg in zip(page["r"], raw_pages[pid]["r"]):
            assert reg["c"] == [round(v * s) for v in raw_reg["c"]]
            tok = reg["p"][0]["l"][0]["t"][0]
            raw_tok = raw_reg["p"][0]["l"][0]["t"][0]
            assert tok["c"] == [round(v * s) for v in raw_tok["c"]]
    assert all(p["cc"] is False for p in raw_pages.values())


@needs_sample
def test_olive_conversion_preserves_ids(converted_and_raw):
    res, raw = converted_and_raw
    iss = res.issues.collect()[0].asDict(recursive=True)
    raw_iss = raw.issues.collect()[0].asDict(recursive=True)
    assert [ci["m"]["id"] for ci in iss["i"]] == [
        ci["m"]["id"] for ci in raw_iss["i"]
    ]


@needs_sample
def test_olive_rebuild_cc_consensus(spark, converted_and_raw):
    res, _ = converted_and_raw
    rb = rebuild_issues_solr(res.issues, res.pages, ts="2024-01-01T00:00:00Z")
    rows = [r.asDict(recursive=True) for r in rb.collect()]
    arts = [r for r in rows if r.get("tp") == "ar" and not r.get("has_problem")]
    # all four pages converted → cc consensus True on every article
    assert arts and all(a["cc"] is True for a in arts)


# ---- synthetic issue with a Picture entity (no sample ships Pc XMLs:
# GDL-1900-01-03's lone Picture entity has no Pc file and is skipped,
# reference-parity) ----

TOC_XML = """<?xml version="1.0"?>
<Xmd>
 <Page PAGE_NO="1">
  <Entity ID="Ar00100" ENTITY_TYPE="Article"/>
  <Entity ID="Pc00101" ENTITY_TYPE="Picture" EMBEDDED_INTO="Ar00100"/>
 </Page>
</Xmd>
"""

AR_XML = """<?xml version="1.0"?>
<XMD-entity ID="Ar00100" ENTITY_TYPE="Article" PAGE_NO="1" LANGUAGE="French">
 <Meta NAME="Un titre" ISSUE_DATE="02/01/1900"/>
 <Link SOURCE="Ar00100.pdf"/>
 <Primitive ID="P1" BOX="10 20 200 80">
  <L BOX="10 20 200 40" P="S"/>
  <W BOX="10 20 60 40">Bonjour</W>
  <W BOX="70 20 140 40">monde</W>
 </Primitive>
</XMD-entity>
"""

PC_XML = """<?xml version="1.0"?>
<XMD-entity ID="Pc00101" ENTITY_TYPE="Picture" PAGE_NO="1">
 <Meta NAME="photo" IMAGES_RESOLUTION="144"/>
 <Img BOX="100 200 300 400" HREF="Img/Pc00101.png"/>
</XMD-entity>
"""

PG_XML = """<?xml version="1.0"?>
<XMD-PAGE PRXML_VER="2.2">
 <Meta PAGE_NO="1" IMAGES_RESOLUTION="144" PAGE_WIDTH="994" PAGE_HEIGHT="1353"/>
 <DataFiles>
  <Files TYPE="PAGE_IMG" PRESENT="1" XRESOLUTION_DPI="288"/>
 </DataFiles>
</XMD-PAGE>
"""


@pytest.fixture(scope="module")
def synthetic_olive(tmp_path_factory):
    base = tmp_path_factory.mktemp("olive_syn")
    issue = base / "issue"
    doc = issue / "Document" / "1"
    doc.mkdir(parents=True)
    (issue / "TOC.xml").write_text(TOC_XML)
    (doc / "Ar00100.xml").write_text(AR_XML)
    (doc / "Pc00101.xml").write_text(PC_XML)
    (doc / "Pg001.xml").write_text(PG_XML)
    imdir = base / "images" / "GDL" / "1900" / "01" / "02" / "a"
    imdir.mkdir(parents=True)
    (imdir / "GDL-1900-01-02-a-image-info.json").write_text(
        json.dumps([{"pg": 1, "strat": "tif", "s": "Img/Pg001.tif"}])
    )
    return str(issue), str(base / "images")


def test_olive_picture_promotion_and_iiif(spark, synthetic_olive):
    issue_dir, image_dirs = synthetic_olive
    disc = spark.createDataFrame(
        [
            (
                "GDL",
                date(1900, 1, 2),
                "a",
                f"{issue_dir}::image_dirs={image_dirs}",
                "olive",
            )
        ],
        DISCOVERY_SCHEMA,
    )
    res = import_issues(disc, ts="2024-01-01T00:00:00Z")
    assert res.errors.count() == 0
    iss = res.issues.collect()[0].asDict(recursive=True)
    by_tp = {ci["m"]["tp"]: ci for ci in iss["i"]}
    # picture → image, coords scaled ×2 (288/144) from xywh [100,200,200,200]
    img = by_tp["image"]
    assert img["m"]["cc"] is True
    assert img["c"] == [200, 400, 400, 400]
    assert img["m"]["iiif_link"] == (
        "https://impresso-project.ch/api/proxy/iiif/"
        "GDL-1900-01-02-a-p0001/info.json"
    )
    assert img["pOf"] == by_tp["article"]["m"]["id"]
    # page converted: token [10,20,50,20] → ×2
    page = res.pages.collect()[0].asDict(recursive=True)
    assert page["cc"] is True
    tok = page["r"][0]["p"][0]["l"][0]["t"][0]
    assert tok["c"] == [20, 40, 100, 40]

    # rebuilt image CI resolves a region IIIF link
    rb = rebuild_issues_solr(res.issues, res.pages, ts="2024-01-01T00:00:00Z")
    rows = [r.asDict(recursive=True) for r in rb.collect()]
    imgs = [r for r in rows if r.get("tp") == "img"]
    assert len(imgs) == 1
    link = imgs[0]["iiif_link"]
    assert link == (
        "https://impresso-project.ch/api/proxy/iiif/"
        "GDL-1900-01-02-a-p0001/200,400,400,400/full/0/default.jpg"
    )
