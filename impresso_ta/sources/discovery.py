"""Issue discovery: directory trees → the discovery DataFrame (SURVEY S1/S2)
plus the config-driven filters F1 (alias), F2 (dates), F3 (incremental).

The reference walks ``base/{alias}/{yyyy}/{mm}/{dd}[/{ed}]`` on the driver
(ref: importers/detect.py:127-217). Here the walk is also driver-side (a
directory listing is tiny relative to the data — millions of rows at
most), but the result is a DataFrame immediately so every downstream step
is distributed. The importers open each issue's files by path, so the
tree must be on a filesystem every executor can read.
"""

from __future__ import annotations

import os
import re
from datetime import date as _date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impresso_ta.schemas import DISCOVERY_SCHEMA

# base/{alias}/{yyyy}/{mm}/{dd}/{edition}
_EDITION_RE = re.compile(r"^[a-z]$")


def detect_issues(
    spark: SparkSession,
    base_dir: str,
    fmt: str,
    default_edition: str = "a",
) -> DataFrame:
    """Walk ``base/{alias}/{yyyy}/{mm}/{dd}[/{ed}]`` → discovery DataFrame
    (the rows of :func:`walk_issues`)."""
    return spark.createDataFrame(
        walk_issues(base_dir, fmt, default_edition), DISCOVERY_SCHEMA
    )


def walk_issues(base_dir: str, fmt: str, default_edition: str = "a") -> list[tuple]:
    """The discovery rows ``(alias, date, edition, path, format)`` of
    ``base/{alias}/{yyyy}/{mm}/{dd}[/{ed}]``, listed on the driver.

    Directories without an edition level get ``default_edition`` (the
    reference does the same, ref: detect.py:175-189). Listing order is
    normalized (sorted) so downstream numbering is deterministic.
    """
    rows = []
    for alias in sorted(os.listdir(base_dir)):
        alias_dir = os.path.join(base_dir, alias)
        if not os.path.isdir(alias_dir):
            continue
        for root, dirs, _files in os.walk(alias_dir):
            dirs.sort()  # deterministic traversal
            rel = os.path.relpath(root, alias_dir)
            parts = [] if rel == "." else rel.split(os.sep)
            if len(parts) == 3 and all(p.isdigit() for p in parts):
                yyyy, mm, dd = (int(p) for p in parts)
                editions = [d for d in sorted(dirs) if _EDITION_RE.match(d)]
                if editions:
                    for ed in editions:
                        rows.append(
                            (
                                alias,
                                _date(yyyy, mm, dd),
                                ed,
                                os.path.join(root, ed),
                                fmt,
                            )
                        )
                    dirs.clear()  # don't descend past the edition level
                else:
                    rows.append(
                        (alias, _date(yyyy, mm, dd), default_edition, root, fmt)
                    )
                    dirs.clear()
    return rows


def detect_issues_onb(
    spark: SparkSession, base_dir: str
) -> tuple[DataFrame, DataFrame]:
    """ONB ANNOP discovery (ref: onb_annop/detect.py:46-113 — the half of
    that importer the reference actually implemented; its classes.py is an
    empty file, so import itself has no reference semantics to match).

    Layout ``base/ANNO/{alias}/{yyyy}/{mm}/{dd}/NNNNNNNN.xml``: no
    edition level (always 'a'); page files have numeric stems that become
    page numbers. Returns (discovery_df, pages_df) where pages_df is
    (path, page_id, file) with page ids minted from the NUMERIC sort of
    the stems (``10.xml`` after ``2.xml`` — the reference sorts by int).
    """
    rows = []
    page_rows = []
    anno = os.path.join(base_dir, "ANNO")
    for alias in sorted(os.listdir(anno)):
        alias_dir = os.path.join(anno, alias)
        if not os.path.isdir(alias_dir):
            continue
        for root, dirs, files in os.walk(alias_dir):
            dirs.sort()
            rel = os.path.relpath(root, alias_dir)
            parts = [] if rel == "." else rel.split(os.sep)
            if len(parts) == 3 and all(p.isdigit() for p in parts):
                yyyy, mm, dd = (int(p) for p in parts)
                d = _date(yyyy, mm, dd)
                rows.append((alias, d, "a", root, "onb_annop"))
                issue_id = f"{alias}-{yyyy:04d}-{mm:02d}-{dd:02d}-a"
                xmls = [f for f in files if f.endswith(".xml")]
                xmls.sort(key=lambda f: int(os.path.splitext(f)[0]))
                for fname in xmls:
                    n = int(os.path.splitext(fname)[0])
                    page_rows.append((root, f"{issue_id}-p{n:04d}", fname))
                dirs.clear()
    return (
        spark.createDataFrame(rows, DISCOVERY_SCHEMA),
        spark.createDataFrame(
            page_rows, "path string, page_id string, file string"
        ),
    )


def detect_issues_ina(spark: SparkSession, base_dir: str) -> DataFrame:
    """INA radio-broadcast discovery (ref: ina/detect.py:46-117): the base
    dir holds one directory per broadcast (named by archive notice key,
    e.g. ``PH808003302_DB09994``) plus an ``ina_metadata.json`` manifest
    keyed by those directory names. Alias comes from the manifest's
    ``Alias Collection``, the date from ``Date d'enregistrement``
    (dd/mm/yyyy), edition is always 'a' (the reference hardcodes it).

    Only directories present in BOTH the manifest and the filesystem are
    yielded (the reference intersects the same way); manifest rows whose
    directory is absent are ignored, not errors.
    """
    import json
    from datetime import datetime as _dt

    manifest_path = os.path.join(base_dir, "ina_metadata.json")
    with open(manifest_path, encoding="utf-8") as f:
        manifest = json.load(f)
    rows = []
    for name in sorted(os.listdir(base_dir)):
        path = os.path.join(base_dir, name)
        if not os.path.isdir(path) or name not in manifest:
            continue
        meta = manifest[name]
        d = _dt.strptime(
            meta["Date d'enregistrement"].strip(), "%d/%m/%Y"
        ).date()
        rows.append((meta["Alias Collection"], d, "a", path, "ina_asr"))
    return spark.createDataFrame(rows, DISCOVERY_SCHEMA)


def detect_issues_from_csv(
    spark: SparkSession, csv_path: str, fmt: str
) -> DataFrame:
    """S3 (ref: swa/detect.py:60-185): a CSV manifest drives discovery —
    first-class DataFrame source instead of a pandas partition-apply.

    Expected columns: alias, date (yyyy-mm-dd), edition, path. Extra
    columns are ignored; rows with an unparseable date are dropped (the
    reference logs-and-skips the same way).
    """
    raw = spark.read.option("header", "true").csv(csv_path)
    return (
        raw.select(
            F.col("alias"),
            # try_to_date: malformed dates → null → dropped (ANSI-mode
            # to_date would fail the whole job on one bad manifest row)
            F.try_to_date("date").alias("date"),
            F.coalesce(F.col("edition"), F.lit("a")).alias("edition"),
            F.col("path"),
            F.lit(fmt).alias("format"),
        )
        .filter(F.col("date").isNotNull())
    )


def detect_issues_from_api(
    spark: SparkSession,
    fetch,
    fmt: str,
) -> DataFrame:
    """S4 (ref: bnf_en/detect.py:162-361): API-enumerated discovery.

    ``fetch`` is a callable returning an iterable of dicts with keys
    alias/date(iso str or date)/edition/path — the HTTP specifics (Gallica
    pagination, ark resolution) live in the injected fetcher so the engine
    stays pure and the result is cacheable. Runs driver-side (a discovery
    listing is tiny); the returned DataFrame then joins/filters like any
    other discovery source (J11 = broadcast join downstream).
    """
    rows = []
    for item in fetch():
        d = item["date"]
        if isinstance(d, str):
            d = _date.fromisoformat(d)
        rows.append(
            (item["alias"], d, item.get("edition", "a"), item["path"], fmt)
        )
    return spark.createDataFrame(rows, DISCOVERY_SCHEMA)


def alias_filter(
    discovery_df: DataFrame, aliases: list[str], exclude: bool = False
) -> DataFrame:
    """F1 (ref: detect.py:159-166): keep/drop titles."""
    pred = F.col("alias").isin(aliases)
    return discovery_df.filter(~pred if exclude else pred)


def date_filter(
    discovery_df: DataFrame,
    ranges: dict[str, tuple[str, str]] | None = None,
    year_only: bool = False,
) -> DataFrame:
    """F2 (ref: detect.py:12-66): per-title date ranges
    (``{"GDL": ("1900-01-01", "1950-12-31")}``); ``year_only`` compares
    years instead of full dates."""
    if not ranges:
        return discovery_df
    pred = None
    for alias, (start, end) in ranges.items():
        if year_only:
            clause = (F.col("alias") == alias) & F.year("date").between(
                int(start[:4]), int(end[:4])
            )
        else:
            clause = (F.col("alias") == alias) & F.col("date").between(
                F.lit(start).cast("date"), F.lit(end).cast("date")
            )
        pred = clause if pred is None else (pred | clause)
    # titles without a configured range pass through untouched
    unconfigured = ~F.col("alias").isin(list(ranges))
    return discovery_df.filter(pred | unconfigured)


def incremental_filter(
    discovery_df: DataFrame, done_df: DataFrame
) -> DataFrame:
    """F3/J1 (ref: generic_importer.py:240-249): LEFT ANTI join against the
    already-imported (alias, date, edition) set."""
    return discovery_df.join(
        done_df.select("alias", "date", "edition"),
        ["alias", "date", "edition"],
        "left_anti",
    )


def apply_import_config(discovery_df: DataFrame, config: dict) -> DataFrame:
    """Selective import driven by the reference's config-JSON shape
    (ref: config/importer_config/*.json; detect.py:70-125 select_issues):
    ``{"titles": {alias: dates}, "exclude_titles": [...], "year_only": b}``
    where ``dates`` is ``[]`` (whole title), a list of '%Y/%m/%d' dates
    (years when ``year_only``), or a 'start-end' range string.

    Semantics notes vs the reference:
    - exclude mode (non-empty ``exclude_titles``) drops those aliases and
      applies NO date filter — same as the reference;
    - the reference's own guard is inverted (detect.py:105 raises
      AttributeError whenever a filter IS present), so this implements
      the documented intent (config.example.md), not the dead code path.
    """
    import datetime as _dt

    titles = config.get("titles") or {}
    exclude = config.get("exclude_titles") or []
    year_only = bool(config.get("year_only"))

    if exclude:
        return discovery_df.filter(~F.col("alias").isin(list(exclude)))

    def _parse(d: str) -> _dt.date:
        return _dt.datetime.strptime(d, "%Y/%m/%d").date()

    pred = None
    for alias, dates in titles.items():
        base = F.col("alias") == alias
        if isinstance(dates, str):
            start, end = (_parse(p) for p in dates.split("-"))
            if year_only:
                this = base & (F.year("date") >= start.year) & (
                    F.year("date") <= end.year
                )
            else:
                this = base & (F.col("date") >= F.lit(start)) & (
                    F.col("date") <= F.lit(end)
                )
        elif dates:
            if year_only:
                years = [_parse(d).year for d in dates]
                this = base & F.year("date").isin(years)
            else:
                this = base & F.col("date").isin([_parse(d) for d in dates])
        else:
            this = base
        pred = this if pred is None else (pred | this)
    return discovery_df.filter(pred) if pred is not None else discovery_df


def rebuild_config_filter(issues_df: DataFrame, batches: list[dict]) -> DataFrame:
    """Select issues per the reference's rebuild config shape (ref:
    config/rebuilt_config/GDL.json; rebuilder.py:367-423): a list of
    ``{alias: [start_year, end_year]}`` batches, end EXCLUSIVE
    (``range(start, end)``).

    The reference processes one batch per Dask-client lifetime with
    ``client.restart()`` between as a memory bound; here the union of
    all batches is ONE filter on the issue id — Spark's spill/AQE makes
    the batch loop unnecessary, so the config degrades to a predicate.
    """
    alias = F.regexp_extract(F.col("id"), r"^([^-]+)-", 1)
    year = F.regexp_extract(F.col("id"), r"^[^-]+-(\d{4})-", 1).cast("int")
    pred = None
    for batch in batches:
        for a, (start, end) in batch.items():
            this = (alias == a) & (year >= start) & (year < end)
            pred = this if pred is None else (pred | this)
    return issues_df.filter(pred) if pred is not None else issues_df
