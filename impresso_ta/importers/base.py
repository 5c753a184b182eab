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
