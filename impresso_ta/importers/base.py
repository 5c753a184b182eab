"""Importer plugin protocol + the distributed import pipeline.

The reference's import driver (ref: importers/core.py:330-527) hand-builds
Dask bags with tuned partition sizes, two shuffles, FileLock-guarded
appends and manual memory release. Here the whole import is ONE
``mapInPandas`` pass over the discovery DataFrame: each task parses a
batch of issue directories (executor-side IO, like the reference's
workers) and emits a combined (issue, pages[], error) row; downstream
splits and partitioned writes replace the Dask groupby shuffles
(SURVEY A1/A3 → partitioned write).

Errors-as-data: a failing issue becomes an error row (canonical_path +
message, matching ref core.py:54-88 formatting), never a task failure.
"""

from __future__ import annotations

from typing import Any, Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from impresso_ta.schemas import (
    AUDIO_RECORD_SCHEMA,
    ERROR_SCHEMA,
    ISSUE_SCHEMA,
    PAGE_SCHEMA,
)

_PLUGINS: dict[str, "FormatPlugin"] = {}


class FormatPlugin:
    """A format importer: one issue directory → canonical issue + pages.

    Subclasses implement ``parse_issue_dir`` returning the canonical issue
    dict with an extra ``_pages`` key holding the canonical page dicts.
    Implementations must be deterministic (stable CI numbering over
    explicitly sorted inputs — SURVEY W2) and must raise on unparseable
    input (the pipeline converts raises into error rows).
    """

    name: str = "abstract"

    def parse_issue_dir(
        self, alias: str, date: str, edition: str, path: str
    ) -> dict[str, Any]:
        raise NotImplementedError


def register(plugin: FormatPlugin) -> None:
    _PLUGINS[plugin.name] = plugin


def get_plugin(name: str) -> FormatPlugin:
    if name not in _PLUGINS:
        raise KeyError(
            f"Unknown importer format {name!r}; registered: {sorted(_PLUGINS)}"
        )
    return _PLUGINS[name]


IMPORT_ROW_SCHEMA = StructType(
    [
        StructField("issue", ISSUE_SCHEMA, True),
        StructField("pages", ArrayType(PAGE_SCHEMA), True),
        StructField("records", ArrayType(AUDIO_RECORD_SCHEMA), True),
        StructField("canonical_path", StringType(), False),
        StructField("error", StringType(), True),
        # value-rule rejections of this issue's rows (``validate=True``)
        StructField("rejected", ArrayType(ERROR_SCHEMA), True),
    ]
)
IMPORT_COLUMNS = IMPORT_ROW_SCHEMA.fieldNames()


def _error_row(canonical_path: str, exc: Exception) -> dict[str, Any]:
    """The IMPORT_ROW_SCHEMA dict of an issue that failed to import."""
    row = dict.fromkeys(IMPORT_COLUMNS)
    row.update(
        canonical_path=canonical_path, error=f"{type(exc).__name__}: {exc}"
    )
    return row


def _validated(issue: dict, supports: list, is_audio: bool):
    """Apply the value-level rules to one parsed issue and its supports.

    Returns ``(issue, supports, rejected)``: a rejected issue becomes
    None while its valid supports stay, rejected supports are dropped,
    and ``rejected`` holds one ERROR_SCHEMA dict per rejected row."""
    from impresso_ta.operators.validate import (
        issue_violations,
        page_violations,
        record_violations,
        violation_error,
    )

    rejected = []

    def passes(row, rules, stage) -> bool:
        violations = rules(row)
        if violations:
            rejected.append(violation_error(row.get("id"), stage, violations))
        return not violations

    support_rules, stage = (
        (record_violations, "validate-record")
        if is_audio
        else (page_violations, "validate-page")
    )
    supports = [s for s in supports if passes(s, support_rules, stage)]
    if not passes(issue, issue_violations, "validate-issue"):
        issue = None
    return issue, supports, rejected


def _parse_one(
    fmt: str,
    alias: str,
    date_str: str,
    edition: str,
    path: str,
    ts: Optional[str],
    validate: bool = False,
) -> dict[str, Any]:
    """One issue dir → one IMPORT_ROW_SCHEMA dict (errors-as-data). With
    ``validate``, rows that break a value-level rule move to
    ``rejected``."""
    from impresso_ta.importers import get_plugin as _get

    canonical_path = f"{alias}-{date_str}-{edition}"
    try:
        plugin = _get(fmt)
        issue = plugin.parse_issue_dir(alias, date_str, edition, path)
        supports = issue.pop("_pages", [])
        is_audio = issue.get("sm") == "audio"
        if ts is not None:
            issue.setdefault("cdt", ts)
            issue.setdefault("ts", ts)
            for p in supports:
                p.setdefault("cdt", ts)
                p.setdefault("ts", ts)
        rejected = []
        if validate:
            # a rule that raises on a value the parser produced fails
            # this issue only
            issue, supports, rejected = _validated(issue, supports, is_audio)
    except Exception as exc:  # noqa: BLE001 errors-as-data
        return _error_row(canonical_path, exc)
    return {
        "issue": issue,
        "pages": None if is_audio else supports,
        "records": supports if is_audio else None,
        "canonical_path": canonical_path,
        "error": None,
        "rejected": rejected,
    }


def _date_str(row) -> str:
    return (
        row.date.strftime("%Y-%m-%d")
        if hasattr(row.date, "strftime")
        else str(row.date)
    )


def _import_udtf(ts: Optional[str], validate: bool = False):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                _parse_one(
                    row.format, row.alias, _date_str(row), row.edition,
                    row.path, ts, validate,
                )
                for row in pdf.itertuples(index=False)
            ]
            yield pd.DataFrame(out, columns=IMPORT_COLUMNS)

    return fn


def import_issues(
    discovery_df: DataFrame, ts: Optional[str] = None, validate: bool = False
) -> "ImportResult":
    """Run the import: discovery rows → ImportResult(issues, pages,
    records, errors). Unpacks as a 3-tuple (issues, supports, errors)
    for print-only corpora.

    With ``validate``, the value-level rules of
    :mod:`impresso_ta.operators.validate` run inside the parse: a rejected
    issue, page or record leaves its output for an error row with stage
    ``validate-issue|page|record`` (a rejected issue's valid pages stay).

    One UDTF pass, no shuffle; at 100 TB the discovery frame is
    repartitioned so each task holds a handful of issues (an issue is a
    few MB of XML; the reference used 20 issues/partition, core.py:394 —
    here AQE-sized input splits achieve the same without tuning).
    """
    combined = discovery_df.mapInPandas(
        _import_udtf(ts, validate), schema=IMPORT_ROW_SCHEMA
    )
    return _split_combined(combined)


def _split_combined(combined: DataFrame) -> "ImportResult":
    # null issue: an import error, or an issue the rules rejected (its
    # valid pages or records stay)
    issues_df = combined.filter(F.col("issue").isNotNull()).select("issue.*")
    pages_df = (
        combined.filter(F.col("pages").isNotNull())
        .select(F.explode("pages").alias("page"))
        .select("page.*")
    )
    records_df = (
        combined.filter(F.col("records").isNotNull())
        .select(F.explode("records").alias("record"))
        .select("record.*")
    )
    # one pass over the parse: an import error, else the rule rejections
    import_error = F.struct(
        "canonical_path", F.lit("import").alias("stage"), "error"
    )
    errors_df = combined.select(
        F.explode(
            F.when(F.col("error").isNotNull(), F.array(import_error)).otherwise(
                F.col("rejected")
            )
        ).alias("e")
    ).select("e.*")
    return ImportResult(issues_df, pages_df, records_df, errors_df, combined)


def _import_files_udtf(ts: Optional[str]):
    """Like :func:`_import_udtf`, but each row carries the issue's file
    BYTES (``files`` = array<struct<relpath,content>>): the task
    materializes them onto executor-local scratch (the same disk Spark
    spills to), runs the unchanged plugin against that directory, and
    cleans up — no shared/POSIX mount needed anywhere."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os
        import shutil
        import tempfile

        # ONE scratch parent per task, a subdir per issue, ONE rmtree at
        # the end: the per-issue mkdtemp+rmtree variant measured 2x the
        # materialization cost at the import scale probe
        parent = tempfile.mkdtemp(prefix="impresso_import_")
        try:
            seq = 0
            for pdf in batches:
                out = []
                for row in pdf.itertuples(index=False):
                    date_str = _date_str(row)
                    seq += 1
                    tmpdir = os.path.join(parent, str(seq))
                    try:
                        try:
                            for f in row.files:
                                rp = f["relpath"]
                                if rp.startswith(("/", "..")) or "/../" in rp:
                                    raise ValueError(f"unsafe relpath {rp!r}")
                                dest = os.path.join(tmpdir, rp)
                                os.makedirs(
                                    os.path.dirname(dest), exist_ok=True
                                )
                                with open(dest, "wb") as fh:
                                    fh.write(f["content"])
                        except Exception as exc:  # noqa: BLE001
                            out.append(
                                _error_row(
                                    f"{row.alias}-{date_str}-{row.edition}",
                                    exc,
                                )
                            )
                            continue
                        out.append(
                            _parse_one(
                                row.format, row.alias, date_str, row.edition,
                                tmpdir, ts,
                            )
                        )
                    finally:
                        # scratch is bounded by ONE issue, not the task's
                        # whole partition: a 100 TB run must never
                        # accumulate its partition's bytes on local disk
                        shutil.rmtree(tmpdir, ignore_errors=True)
                yield pd.DataFrame(out, columns=IMPORT_COLUMNS)
        finally:
            shutil.rmtree(parent, ignore_errors=True)

    return fn


def import_issues_distributed(
    spark,
    base_uri: str,
    fmt: str,
    ts: Optional[str] = None,
    default_edition: str = "a",
) -> "ImportResult":
    """Object-store twin of discover+:func:`import_issues` in one pass:
    a ``binaryFile`` listing under ``base_uri`` flows each issue's file
    BYTES through Spark (grouped per ``{alias}/{yyyy}/{mm}/{dd}[/{ed}]``
    issue directory), so nothing ever re-``open()``s a path executor-side
    — on ``s3a://``/``gs://`` stores the POSIX form would silently turn
    every issue into an error row (the S9 lesson; VERDICT r7).

    Edition semantics match the walker (``detect_issues`` parity): a date
    level with single-letter edition dirs yields only those editions;
    files directly under such a date dir are ignored; an editionless date
    dir is one issue under ``default_edition``.

    Cost shape at 100 TB: ONE listing job, ONE shuffle keyed by issue
    (an issue is a few MB of XML — collect_list per issue is bounded by
    issue size, never corpus size), then the same single UDTF pass as
    :func:`import_issues`. Plugins are unchanged: each task materializes
    its issues onto executor-local scratch one at a time.

    Formats whose sidecars live OUTSIDE the issue dir (INA's base-level
    ``ina_metadata.json``) need their dedicated detect + ``import_issues``
    instead — this twin covers self-contained issue dirs.
    """
    from impresso_ta.sources.discovery import (
        _normalize_base,
        assert_listing_matched,
        issue_listing_parts,
    )

    base = _normalize_base(base_uri)
    listing = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(base)
    )
    # walker parity: once a date level has ANY edition dir, files sitting
    # directly under the date dir belong to no issue. The election runs
    # on a BYTES-FREE second listing (content pruned — a listing is
    # paths + sizes, cheap at any corpus size) and joins back as a
    # broadcast, so the byte rows never cross a window sort — their only
    # exchange is the per-issue groupBy (plan-tested). Both sides share
    # ONE path grammar (issue_listing_parts) with discovery's
    # detect_issues_distributed, so detect and import cannot disagree.
    paths_only = issue_listing_parts(listing.select("path"), base)
    assert_listing_matched(listing.select("path"), paths_only, base_uri)
    election = (
        paths_only.filter((F.col("alias") != "") & F.col("date").isNotNull())
        .groupBy("alias", "yyyy", "mm", "dd")
        .agg(
            (F.max(F.col("ed").isNotNull().cast("int")) == 1).alias("_any_ed")
        )
    )
    parts = issue_listing_parts(listing.select("path", "content"), base)
    parts = parts.filter(
        (F.col("alias") != "") & F.col("date").isNotNull()
    )
    parts = parts.join(
        F.broadcast(election), ["alias", "yyyy", "mm", "dd"], "inner"
    ).filter(F.col("ed").isNotNull() | ~F.col("_any_ed"))
    grouped = (
        parts.groupBy("alias", "yyyy", "mm", "dd", "ed", "date")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("relpath", "content"))
            ).alias("files")
        )
        .select(
            "alias",
            "date",
            F.coalesce("ed", F.lit(default_edition)).alias("edition"),
            F.lit(fmt).alias("format"),
            "files",
        )
    )
    combined = grouped.mapInPandas(
        _import_files_udtf(ts), schema=IMPORT_ROW_SCHEMA
    )
    return _split_combined(combined)


class ImportResult:
    """Named result: .issues, .pages, .records, .errors. Also unpacks as
    ``issues, pages, errors = import_issues(...)`` for print-only corpora
    (audio corpora use the named ``.records``).

    ``.combined`` is the one parse frame all four outputs derive from. It
    stays lazy here; a caller that runs several actions over the outputs
    persists it so each issue is parsed once."""

    def __init__(self, issues, pages, records, errors, combined):
        self.issues = issues
        self.pages = pages
        self.records = records
        self.errors = errors
        self.combined = combined

    def __iter__(self):
        return iter((self.issues, self.pages, self.errors))


def empty_errors_df(spark) -> DataFrame:
    return spark.createDataFrame([], ERROR_SCHEMA)


def read_bytes_with_retries(
    path: str, attempts: int = 3, _opener=open
) -> bytes:
    """Read a file, retrying transient IOErrors up to ``attempts`` times
    (ref: mets_alto/classes.py:81-99,196-226 — 3 attempts per XML read,
    written for flaky network filesystems/S3 mounts). Non-IO errors
    (parse failures) propagate immediately to the error channel."""
    last: IOError | None = None
    for _ in range(attempts):
        try:
            with _opener(path, "rb") as f:
                return f.read()
        except IOError as exc:
            last = exc
    raise last
