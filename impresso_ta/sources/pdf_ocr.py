"""S9: SwissInfo PDF OCR pre-extraction.

The reference runs this OUT of the engine as a driver-side loop over a
directory (ref: importer_scripts/preprocessing/
swissinfo_extract_ocr_from_pdfs.py — pymupdf text dicts + pdf2image JP2
conversion, one OCR JSON per radio bulletin, consumed downstream by the
SwissInfo importer). The engine-native form distributes the same
per-file pipeline:

- **discover** PDFs with Spark's ``binaryFile`` source;
- **skip already-processed bulletins** with the F3/J1 incremental
  anti-join on the canonical id (the reference's ``os.path.exists``
  check, as a set operation instead of N stat calls) — the anti-join
  runs on a bytes-free listing pass, and only the SURVIVING files'
  bytes are ever read;
- **decode + extract** per file inside ``mapInPandas`` (Arrow batches)
  from the ``binaryFile`` ``content`` column — bytes flow through
  Spark's Hadoop-FS layer, so ``s3a://``/``gs://``/``hdfs://`` sources
  work identically to local mounts and never ship through a shuffle
  (the scan feeds ``mapInPandas`` directly). A POSIX ``open()`` path
  exists only behind the explicit ``local_read=True`` opt-in (for
  mounted archives whose PDFs exceed comfortable row sizes), and it
  refuses non-local URIs loudly instead of quietly turning every row
  into an error row;
- **emit** one OCR-JSON row per bulletin matching the reference's
  structure bit-for-bit: ``canonical_id, lang, original_path,
  jp2_full_paths, ocr_pages`` with per-page
  ``blocks_with_lines``/``blocks_without_lines`` and ``rescaled_bbox``
  at block/line/span level (ref lines 93-148).

The canonical id is derived ONCE, with JVM string expressions on the
listing (validated with ``try_to_timestamp``/``try_cast`` to the same
tolerance as the Python parser), and that SAME value is carried through
the anti-join into the emitted rows — the skip key and the output id
cannot disagree on any filename. Files whose names don't parse are
routed to the S15 error channel BEFORE the anti-join (they carry no id,
so they are never silently "unskippable").

PDF decoding itself is pluggable: the default extractor uses pymupdf
when importable (real on a normally provisioned cluster with no user
code) and otherwise raises a loud
``NotImplementedError`` stating the contract; tests inject a
deterministic fake, so the Spark-side plumbing (schema, partitioning,
batch shape, rescale/split logic, incremental skip) is real and tested
without the native lib.
"""

from __future__ import annotations

import datetime
import json
import os
import re
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# page_extractor contract: pdf bytes -> iterable of
# (page_text_dict, dest_img_size) per page, where page_text_dict is the
# pymupdf ``page.get_text("dict")`` shape ({"width", "height", "blocks"})
# and dest_img_size is the rendered image's (width, height).
PageExtractor = Callable[[bytes], Iterable[tuple[dict, tuple[float, float]]]]

OCR_SCHEMA = (
    "canonical_id string, lang string, original_path string, "
    "ocr_json string, n_pages int, error string"
)

# pdf2image's default render DPI — the reference's JP2 images (and
# therefore its rescale targets) come from convert_from_path() at this
# resolution; PDF text-dict coordinates are in 72-dpi points.
_DEFAULT_RENDER_DPI = 200


def _default_page_extractor(content: bytes):
    """Opportunistically real: when pymupdf is importable the default
    decodes with no user code — ``page.get_text("dict")`` for the text
    dicts, and the destination
    image size computed from the page rect at pdf2image's default 200
    dpi (the reference takes the PIL image size from convert_from_path;
    deriving it from the rect avoids rendering every page just to
    measure it — ±1 px of pdftoppm's rounding is possible). Without
    pymupdf it raises a loud NotImplementedError stating the pluggable
    contract — never a silent no-op."""
    try:
        import pymupdf  # noqa: PLC0415
    except ImportError:
        try:
            import fitz as pymupdf  # the pre-1.24 install name
        except ImportError:
            raise NotImplementedError(
                "PDF decoding needs pymupdf (text dicts; page sizes are "
                "derived from the page rect at 200 dpi, pdf2image's "
                "default), which is not installed in this environment. "
                "Pass page_extractor=... with the contract: bytes -> "
                "iterable of (page_text_dict, (img_w, img_h)) per page."
            ) from None

    def _pages():
        doc = pymupdf.open(stream=content, filetype="pdf")
        scale = _DEFAULT_RENDER_DPI / 72.0
        for page in doc:
            rect = page.rect
            dest = (round(rect.width * scale), round(rect.height * scale))
            yield page.get_text("dict"), dest

    return _pages()


def canonical_from_filename(filename: str) -> tuple[str, str]:
    """Canonical path + language from a bulletin filename
    ``<prefix>_<prefix>_<program>_<YYYYMMDD>_<LANG>[_<EDITION>].<ext>``
    → ``SOC_<program>/<yyyy>/<mm>/<dd>/<edition>`` (ref lines 150-191;
    the reference's ``chr(elements[5] + 96)`` would TypeError on the
    string element — the intended int parse is applied here)."""
    elements = os.path.basename(filename).split(".")[0].split("_")
    program = elements[2]
    date = datetime.datetime.strptime(elements[3], "%Y%m%d").date()
    lang = elements[4]
    edition = chr(int(elements[5]) + 96) if len(elements) > 5 else "a"
    path = (
        f"SOC_{program}/{date.year}/{str(date.month).zfill(2)}/"
        f"{str(date.day).zfill(2)}/{edition}"
    )
    return path, lang.lower()


def _rescale(coords, curr_size, dest_size):
    """x1,y1,x2,y2 rescale between image sizes (ref utils.rescale_coords
    xy_format=True path)."""
    sx = dest_size[0] / curr_size[0]
    sy = dest_size[1] / curr_size[1]
    return [coords[0] * sx, coords[1] * sy, coords[2] * sx, coords[3] * sy]


def rescale_block_coords(block: dict, curr_size, dest_size) -> dict:
    """Add ``rescaled_bbox`` at block/line/span level (ref lines 50-93)."""
    if "bbox" in block:
        block["rescaled_bbox"] = _rescale(block["bbox"], curr_size, dest_size)
    for line in block.get("lines", ()):
        if "bbox" in line:
            line["rescaled_bbox"] = _rescale(
                line["bbox"], curr_size, dest_size
            )
        for span in line.get("spans", ()):
            if "bbox" in span:
                span["rescaled_bbox"] = _rescale(
                    span["bbox"], curr_size, dest_size
                )
    return block


def process_blocks_of_page(
    page_num: int, page_text_dict: dict, page_image_size
) -> dict:
    """Clean (drop image/mask payloads), rescale, and split a page's OCR
    blocks into with/without-lines lists (ref lines 95-148)."""
    curr = (page_text_dict["width"], page_text_dict["height"])
    lineless, with_lines = [], []
    for og_block in page_text_dict["blocks"]:
        block = {
            k: v for k, v in og_block.items() if k not in ("image", "mask")
        }
        block = rescale_block_coords(block, curr, page_image_size)
        (with_lines if "lines" in block else lineless).append(block)
    return {
        "page_num": page_num,
        "ocr_page_size": list(curr),
        "jp2_img_size": list(page_image_size),
        "blocks_with_lines": with_lines,
        "blocks_without_lines": lineless,
    }


def build_ocr_json(
    path: str,
    content: bytes,
    page_extractor: PageExtractor,
    canonical: tuple[str, str] | None = None,
) -> dict:
    """One bulletin's OCR JSON, the reference's structure (lines
    293-316). ``jp2_full_paths`` records the canonical image ids the JP2
    conversion would produce — the conversion itself is the importer's
    out-of-engine image leg (pdf2image + PIL JPEG2000), which this
    engine does not run.

    ``canonical`` — a precomputed ``(canonical_path, lang)`` pair —
    lets the distributed path pass the LISTING-derived identity through
    so the incremental skip key and the emitted id are the same value
    by construction; standalone callers omit it and the filename is
    parsed here."""
    canonical_path, lang = (
        canonical if canonical is not None else canonical_from_filename(path)
    )
    canonical_issue_id = canonical_path.replace("/", "-")
    pages = [
        process_blocks_of_page(i, page_dict, img_size)
        for i, (page_dict, img_size) in enumerate(page_extractor(content))
    ]
    return {
        "canonical_id": canonical_issue_id,
        "lang": lang,
        "original_path": path,
        "jp2_full_paths": [
            os.path.join(
                "images",
                canonical_path,
                f"{canonical_issue_id}-p{str(i + 1).zfill(4)}.jp2",
            )
            for i in range(len(pages))
        ],
        "ocr_pages": pages,
    }


def derive_bulletin_ids(files: DataFrame) -> DataFrame:
    """Add ``canonical_id`` / ``_cpath`` / ``lang`` columns derived from
    ``path`` with JVM string expressions — null on any filename the
    Python parser (``canonical_from_filename``) would reject, and equal
    to its output on every filename it accepts:

    - the date element is validated with ``try_to_timestamp`` (a bad
      or impossible date → null, like ``strptime`` raising),
    - the optional edition element with ``try_cast`` to int (like
      ``int()`` raising),
    - missing elements via null-safe ``get()`` (like ``IndexError``),
    - the year is cast int→string so ``0007`` renders as ``7`` exactly
      as Python's ``date.year`` does.

    One derivation dialect feeds BOTH the incremental-skip anti-join
    and (carried through the plan) the emitted rows, so a file can
    never be skippable under one id and emitted under another."""
    stem = F.get(F.split(F.element_at(F.split("path", "/"), -1), r"\."), 0)
    parts = F.split(stem, "_")
    d = F.try_to_timestamp(F.get(parts, 3), F.lit("yyyyMMdd"))
    edition_raw = F.get(parts, 5)
    edition_int = edition_raw.try_cast("int")
    edition_ok = edition_raw.isNull() | edition_int.isNotNull()
    edition = F.when(
        edition_raw.isNotNull(), F.char(edition_int + 96)
    ).otherwise(F.lit("a"))
    cpath = F.concat_ws(
        "/",
        F.concat(F.lit("SOC_"), F.get(parts, 2)),
        F.year(d).cast("string"),
        F.lpad(F.month(d).cast("string"), 2, "0"),
        F.lpad(F.dayofmonth(d).cast("string"), 2, "0"),
        edition,
    )
    valid = (
        (F.size(parts) >= 5)
        & F.get(parts, 2).isNotNull()
        & d.isNotNull()
        & edition_ok
    )
    return (
        files.withColumn("_cpath", F.when(valid, cpath))
        .withColumn("canonical_id", F.regexp_replace("_cpath", "/", "-"))
        .withColumn("lang", F.when(valid, F.lower(F.get(parts, 4))))
    )


def _make_extract(extractor: PageExtractor):
    """Build the mapInPandas worker. Rows must carry ``path``,
    ``canonical_id``, ``_cpath``, ``lang``, and optionally ``content``;
    when ``content`` is absent (the ``local_read`` opt-in) the file is
    opened executor-side from the local/NFS mount. Module-level (not a
    closure inside extract_pdf_ocr) so tests can drive it directly with
    non-POSIX paths and prove bytes arrive via the column."""

    def _extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in (
                "canonical_id", "lang", "original_path", "ocr_json",
                "n_pages", "error",
            )}
            has_content = "content" in pdf.columns
            for i in range(len(pdf)):
                path = pdf["path"].iloc[i]
                cid = pdf["canonical_id"].iloc[i]
                lang = pdf["lang"].iloc[i]
                try:
                    if has_content:
                        content = bytes(pdf["content"].iloc[i])
                    else:
                        local = (
                            path[len("file:"):]
                            if path.startswith("file:")
                            else path
                        )
                        with open(local, "rb") as f:
                            content = f.read()
                    doc = build_ocr_json(
                        path,
                        content,
                        extractor,
                        canonical=(pdf["_cpath"].iloc[i], lang),
                    )
                    out["canonical_id"].append(doc["canonical_id"])
                    out["lang"].append(doc["lang"])
                    out["original_path"].append(path)
                    out["ocr_json"].append(json.dumps(doc, sort_keys=True))
                    out["n_pages"].append(len(doc["ocr_pages"]))
                    out["error"].append(None)
                except Exception as exc:  # S15: errors are data
                    out["canonical_id"].append(cid)
                    out["lang"].append(lang)
                    out["original_path"].append(path)
                    out["ocr_json"].append(None)
                    out["n_pages"].append(None)
                    out["error"].append(f"{path}: {exc}"[:500])
            yield pd.DataFrame(out)

    return _extract


_EXTRACT_COLS = ["path", "canonical_id", "_cpath", "lang"]

#: Incremental mode's surviving-path list is re-scanned in slices of this
#: many paths per binaryFile RELATION — bounds each relation's load()
#: list and per-relation file index (a crawl batch with millions of new
#: files becomes many bounded scans, not one million-path load() call).
#: The returned union still spans all slices; see the in-function note
#: for when to batch slices through the sink instead.
SURVIVOR_PATHS_PER_SCAN = 10_000


def extract_pdf_ocr(
    spark: SparkSession,
    in_dir: str,
    page_extractor: PageExtractor | None = None,
    existing_ids: DataFrame | None = None,
    local_read: bool = False,
) -> DataFrame:
    """Distributed S9: every ``*.pdf`` under ``in_dir`` → one OCR-JSON
    row ``(canonical_id, lang, original_path, ocr_json, n_pages,
    error)``.

    Scale shape, by case:

    - **no ``existing_ids``**: ONE ``binaryFile`` scan carrying
      ``(path, content)`` feeds ``mapInPandas`` directly — bytes come
      through Spark's Hadoop-FS layer (object stores included), never
      cross a shuffle, and are read exactly once.
    - **with ``existing_ids``** (the F3/J1 incremental run): a
      bytes-FREE listing pass derives the canonical ids and anti-joins
      the (broadcast) done-set first; only the surviving — i.e. new —
      files are then scanned WITH content. Skipped files' bytes are
      never read, which is the whole point of incremental at 100 TB:
      re-running over a mostly-done archive costs the listing, not the
      bytes. The surviving path list passes through the driver — file
      paths, not data, the same cardinality Spark's own file index
      already materializes driver-side for any scan of the directory —
      and is re-scanned in SURVIVOR_PATHS_PER_SCAN-sized slices, each a
      bounded, independently executable binaryFile relation (the
      returned union still references all survivors; batch the slices
      through the sink yourself when the survivor count itself is the
      problem).
    - **``local_read=True``** (opt-in for giant PDFs on a local/NFS
      mount, the reference's operating model): listing stays
      bytes-free and each task ``open()``s its files; refused loudly
      for non-local ``in_dir`` schemes — on an object store the old
      silent failure mode was every row becoming an S15 error row.

    Filenames the canonical-id grammar rejects become S15 error rows
    BEFORE the anti-join, from the same JVM derivation that builds the
    skip key (see ``derive_bulletin_ids``) — id dialects cannot drift.
    A failing PDF decode becomes an error row too, never a task
    failure.
    """
    extractor = page_extractor or _default_page_extractor
    # any RFC-3986 scheme prefix counts — single-slash spellings like
    # hdfs:/nn/x are legal Hadoop URIs and must hit the guard too
    # (round-8 review: the old '://'-only check let them through into
    # the exact silent-error-row mode the guard exists to refuse)
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):", in_dir)
    scheme = m.group(1) if m else None
    if local_read and scheme not in (None, "file"):
        raise ValueError(
            f"local_read=True requires a local/NFS-mounted in_dir, got "
            f"scheme {scheme!r} — executor-side open() cannot reach it; "
            "use the default content path (Hadoop-FS) for object stores."
        )

    def _listing(with_content: bool, paths=None) -> DataFrame:
        reader = (
            spark.read.format("binaryFile")
            # character-class glob: archives mix .pdf/.PDF (the reference
            # lists the directory unfiltered and would pick up both)
            .option("pathGlobFilter", "*.[pP][dD][fF]")
        )
        loaded = reader.load(paths if paths is not None else in_dir)
        cols = ["path", "content"] if with_content else ["path"]
        return derive_bulletin_ids(loaded.select(*cols))

    def _error_rows(invalid: DataFrame) -> DataFrame:
        return invalid.select(
            F.lit(None).cast("string").alias("canonical_id"),
            F.lit(None).cast("string").alias("lang"),
            F.col("path").alias("original_path"),
            F.lit(None).cast("string").alias("ocr_json"),
            F.lit(None).cast("int").alias("n_pages"),
            F.concat(
                F.col("path"),
                F.lit(
                    ": invalid bulletin filename (expected "
                    "<p>_<p>_<program>_<YYYYMMDD>_<LANG>[_<EDITION>].pdf)"
                ),
            ).alias("error"),
        )

    def _anti(df: DataFrame) -> DataFrame:
        if existing_ids is None:
            return df
        return df.join(
            F.broadcast(existing_ids.select("canonical_id").distinct()),
            "canonical_id",
            "left_anti",
        )

    extract = _make_extract(extractor)

    if local_read or existing_ids is None:
        # one pass over the directory; bytes ride along unless local_read
        derived = _listing(with_content=not local_read)
        invalid = _error_rows(derived.filter(F.col("canonical_id").isNull()))
        todo = _anti(derived.filter(F.col("canonical_id").isNotNull()))
        cols = _EXTRACT_COLS + ([] if local_read else ["content"])
        extracted = todo.select(*cols).mapInPandas(extract, OCR_SCHEMA)
        return invalid.unionByName(extracted)

    # incremental + content path: prune on the bytes-free listing FIRST,
    # then scan content for the survivors only. The surviving paths DO
    # cross the driver (same cardinality as Spark's own driver-side file
    # index for the directory — paths, never bytes), sliced so each
    # binaryFile RELATION holds at most SURVIVOR_PATHS_PER_SCAN paths.
    # Honest scope of that bound: the returned (lazy) DataFrame is the
    # UNION of the slices, so the one plan that executes still
    # references every path across its scan nodes — what slicing bounds
    # is each relation's load() argument list and per-relation file
    # index, not whole-plan size or total driver footprint. A crawl
    # batch large enough for THAT to matter should drive the slices
    # through write_ocr_json one at a time (each slice is a complete,
    # independently executable extraction). The alternative (scan
    # everything WITH content and semi-join the survivors) keeps paths
    # off the driver but re-reads every skipped file's bytes — the
    # exact cost incremental mode exists to avoid.
    derived = _listing(with_content=False)
    invalid = _error_rows(derived.filter(F.col("canonical_id").isNull()))
    survivors = _anti(derived.filter(F.col("canonical_id").isNotNull()))
    paths = [r["path"] for r in survivors.select("path").collect()]
    if not paths:
        return invalid.unionByName(spark.createDataFrame([], OCR_SCHEMA))
    out = invalid
    for i in range(0, len(paths), SURVIVOR_PATHS_PER_SCAN):
        extracted = (
            _listing(
                with_content=True,
                paths=paths[i : i + SURVIVOR_PATHS_PER_SCAN],
            )
            .select(*_EXTRACT_COLS, "content")
            .mapInPandas(extract, OCR_SCHEMA)
        )
        out = out.unionByName(extracted)
    return out


def write_ocr_json(ocr_df: DataFrame, out_dir: str, mode: str = "append") -> None:
    """Persist extraction output partitioned by (program, year) derived
    from the canonical id — the engine's packaging unit (one file per
    bulletin, the reference's layout, is pathological at scale: see
    sources/sinks.py). Error rows go to the S15 ``_errors`` channel."""
    ok = ocr_df.filter(F.col("error").isNull())
    ok = (
        ok.withColumn("program", F.split("canonical_id", "-").getItem(0))
        .withColumn(
            "year", F.split("canonical_id", "-").getItem(1).cast("int")
        )
    )
    ok.write.partitionBy("program", "year").mode(mode).json(
        os.path.join(out_dir, "ocr")
    )
    errs = ocr_df.filter(F.col("error").isNotNull()).select(
        "original_path", "error"
    )
    errs.write.mode(mode).json(os.path.join(out_dir, "_errors"))
