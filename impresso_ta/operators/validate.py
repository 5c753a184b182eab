"""Canonical-schema validation as a ``_violations`` list (errors-as-data).

The reference validates every serialized issue/page against external JSON
Schemas at write time (ref: utils.py:71-89 called from core.py:280-292,
:618) and can bypass validation for speed (classes.py:78-83). Structural
conformance is already guaranteed here by the fixed StructTypes (a row
cannot exist off-schema), so the rules below check the VALUE-level
constraints the JSON Schemas encode: ID shapes, enum membership, required
fields, referential consistency between ``i``/``pp``.

The rules are plain Python over one canonical row as a dict:
:func:`issue_violations`, :func:`page_violations` and
:func:`record_violations`. The import applies them inside its parse,
where it already holds every row as a dict (``import_issues(...,
validate=True)``), so the CLI's ``--validate`` costs no second pass. The
DataFrame functions (:func:`validate_issues` and its twins) apply the
same three functions through one UDF, and :func:`split_valid` routes
violating rows to the error channel without failing the job.

A rule judges the value the row stores, not the Python object a parser
built, so it matches what a Spark expression over the stored row would
say:

- a null field or element is unknown and never fires a rule by itself
  (three-valued logic);
- integer fields are compared as Arrow stores them: the pandas→Arrow
  cast of an ``int`` column truncates a float toward zero, so ``int()``
  comes first;
- the regexes match with ``re.ASCII``, because Java's ``\\d`` (Spark's
  ``rlike``) matches ASCII digits only.
"""

from __future__ import annotations

import re
from typing import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from impresso_ta.schemas import KNOWN_CI_TYPES, SOURCE_MEDIUMS, SOURCE_TYPES

ISSUE_ID_RE = r"^[A-Za-z0-9_]+(-[A-Za-z0-9_]+)*-\d{4}-\d{2}-\d{2}-[a-z]\d*$"
PAGE_ID_RE = ISSUE_ID_RE[:-1] + r"-p\d{4}$"
RECORD_ID_RE = ISSUE_ID_RE[:-1] + r"-r\d{4}$"
CI_ID_RE = ISSUE_ID_RE[:-1] + r"-i\d{4}$"

# value-shape regexes of the canonical JSON Schemas (reconstructed from the
# reference's serializers — the schema files are an empty submodule there):
# timestamps from impresso-essentials timestamp() / strftime (space or T
# separated, optional zone), HH:MM:SS audio offsets (ref: ina/classes.py
# _get_duration strftime("%H:%M:%S")), 2-3 letter lowercase language codes.
TIMESTAMP_RE = r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:?\d{2})?$"
HMS_RE = r"^\d{2,}:\d{2}:\d{2}$"
LANG_RE = r"^[a-z]{2,3}$"

_ISSUE_ID, _PAGE_ID, _RECORD_ID, _CI_ID, _TIMESTAMP, _HMS, _LANG = (
    re.compile(p, re.ASCII)
    for p in (
        ISSUE_ID_RE, PAGE_ID_RE, RECORD_ID_RE, CI_ID_RE, TIMESTAMP_RE,
        HMS_RE, LANG_RE,
    )
)

def _mismatch(pattern: re.Pattern, value: str | None) -> bool:
    """A present value that ``pattern`` does not find (``rlike``)."""
    return value is not None and pattern.search(value) is None


def _outside(value: str | None, allowed: Iterable[str]) -> bool:
    return value is not None and value not in allowed


def _int(value) -> int | None:
    """The integer Arrow stores for ``value``: floats truncate toward
    zero, and NaN arrives as null."""
    return None if value is None or value != value else int(value)


def _any_int(values: Iterable, bad: Callable[[int], bool]) -> bool:
    """Some present element is ``bad`` once stored as an integer."""
    return any(bad(v) for v in map(_int, values) if v is not None)


def _each(row: dict, key: str) -> list[dict]:
    """The struct elements of ``row[key]``; a null array is empty and a
    null element has every field null."""
    return [x or {} for x in row.get(key) or ()]


def issue_violations(d: dict) -> list[str]:
    """Names of the value-level rules the canonical issue ``d`` violates,
    in rule order (ref: utils.py:71-89 validate_issue_schema; enum/shape
    sources cited per rule):

    - ``id_shape``/``ci_ids_prefixed``/``ci_ids_unique`` — canonical ID
      grammar (ref: importers/classes.py canonical_path usage).
    - ``st_enum``/``sm_enum``/``st_sm_consistent`` — SourceType/
      SourceMedium members and the print|typescript→paper,
      audio→radio dispatch (ref: core.py:185-204).
    - ``cdt_timestamp``/``ts_timestamp`` — serializer timestamp shape.
    - ``ci_tp_enum`` — tp ∈ KNOWN_CI_TYPES (ref: importers/__init__.py
      CONTENTITEM_TYPES + importer type maps).
    - ``ci_lg_shape`` — 2-3 letter lowercase code.
    - ``ci_ro_positive`` — reading order is 1-based.
    - ``ci_pp_in_range``/``ci_rr_in_range`` — CI page/record numbers
      must index into issue.pp/rr (ref: verify_imported_issues checks
      CI/page consistency).
    - ``supports_prefixed``/``supports_present`` — the issue has pages
      or records, and their ids belong to this issue.
    """
    iid, st, sm = d.get("id"), d.get("st"), d.get("sm")
    metas = [ci.get("m") or {} for ci in _each(d, "i")]
    ci_ids = [m.get("id") for m in metas]
    pp, rr = d.get("pp") or [], d.get("rr") or []

    def foreign(ids: Iterable[str | None]) -> bool:
        return iid is not None and any(
            x is not None and not x.startswith(iid) for x in ids
        )

    def bad_refs(key: str, n: int) -> bool:
        return any(
            _any_int(m.get(key) or (), lambda k: k < 1 or k > n) for m in metas
        )

    rules = {
        "id_shape": _mismatch(_ISSUE_ID, iid),
        "st_enum": _outside(st, SOURCE_TYPES),
        "sm_enum": _outside(sm, SOURCE_MEDIUMS),
        # only the PAIRING, gated on both being valid enum members (the
        # enum rules fire separately): audio ⇔ not-newspaper
        "st_sm_consistent": st in SOURCE_TYPES
        and sm == "audio"
        and st != "radio_broadcast",
        "cdt_timestamp": _mismatch(_TIMESTAMP, d.get("cdt")),
        "ts_timestamp": _mismatch(_TIMESTAMP, d.get("ts")),
        "ci_ids_prefixed": foreign(ci_ids),
        # null ids compare equal here, as in array_distinct
        "ci_ids_unique": len(set(ci_ids)) != len(ci_ids),
        "ci_tp_enum": any(_outside(m.get("tp"), KNOWN_CI_TYPES) for m in metas),
        "ci_lg_shape": any(_mismatch(_LANG, m.get("lg")) for m in metas),
        "ci_ro_positive": _any_int((m.get("ro") for m in metas), lambda r: r < 1),
        "ci_pp_in_range": bad_refs("pp", len(pp)),
        "ci_rr_in_range": bad_refs("rr", len(rr)),
        "supports_prefixed": foreign([*pp, *rr]),
        "supports_present": not pp and not rr,
    }
    return [name for name, fired in rules.items() if fired]


def _origin_negative(c) -> bool:
    """x or y of ``[x, y, w, h]`` is below 0. Width and height are
    deliberately unconstrained: the reference's own char-run word boxes
    keep first-char origin + last-char extent (ref: bcul/helpers.py:
    150-210), which yields negative extents on non-monotonic OCR runs,
    and those outputs pass the reference's schema validation. A
    coordinate that a short array lacks is unknown, not negative, so
    ``[5]`` and ``[]`` get only their arity violation."""
    return c is not None and _any_int(c[:2], lambda v: v < 0)


def page_violations(d: dict) -> list[str]:
    """Names of the value-level rules the canonical page ``d`` violates,
    in rule order: ID shape, coord arity ([x,y,w,h] exactly) and
    non-negative origin on every region and token, region ``pOf`` shape,
    timestamps and enums."""
    regions = _each(d, "r")
    tokens = [
        t
        for r in regions
        for p in _each(r, "p")
        for ln in _each(p, "l")
        for t in _each(ln, "t")
    ]
    region_cs = [r.get("c") for r in regions]
    token_cs = [t.get("c") for t in tokens]
    rules = {
        "id_shape": _mismatch(_PAGE_ID, d.get("id")),
        "region_coord_arity": any(c is not None and len(c) != 4 for c in region_cs),
        "token_coord_arity": any(c is not None and len(c) != 4 for c in token_cs),
        "region_origin_nonneg": any(map(_origin_negative, region_cs)),
        "token_origin_nonneg": any(map(_origin_negative, token_cs)),
        "region_pOf_shape": any(_mismatch(_CI_ID, r.get("pOf")) for r in regions),
        "cdt_timestamp": _mismatch(_TIMESTAMP, d.get("cdt")),
        "ts_timestamp": _mismatch(_TIMESTAMP, d.get("ts")),
        "st_enum": _outside(d.get("st"), SOURCE_TYPES),
        "sm_enum": _outside(d.get("sm"), SOURCE_MEDIUMS),
    }
    return [name for name, fired in rules.items() if fired]


def record_violations(d: dict) -> list[str]:
    """Names of the value-level rules the canonical audio record ``d``
    violates, in rule order (the audio twin of :func:`page_violations` —
    ref: utils.py validate_audio_schema, shapes from ina/classes.py:
    52-62,108-124):

    - ``id_shape`` — ``-r\\d{4}`` record id grammar.
    - ``sm_audio``/``st_enum`` — records are always source medium
      "audio" (ref: ina/classes.py SourceMedium.AO) with a valid type.
    - ``stt_shape``/``dur_shape`` — HH:MM:SS offsets
      (ref: ina/classes.py _get_duration strftime).
    - ``tc_arity`` — every time-coord array at section/utterance/
      speech-segment/token level is [start, duration], exactly 2.
    - ``tc_nonneg`` — starts and durations are non-negative seconds.
    - ``section_pOf_shape`` — sections point at a canonical CI id
      (ref: ina/classes.py parse() sections pOf).
    """
    sections = _each(d, "s")
    levels = []
    for s in sections:
        levels.append(s)
        for u in _each(s, "u"):
            levels.append(u)
            for seg in _each(u, "ss"):
                levels.append(seg)
                levels += _each(seg, "t")
    tcs = [x["tc"] for x in levels if x.get("tc") is not None]
    sm = d.get("sm")
    rules = {
        "id_shape": _mismatch(_RECORD_ID, d.get("id")),
        "sm_audio": sm is not None and sm != "audio",
        "st_enum": _outside(d.get("st"), SOURCE_TYPES),
        "cdt_timestamp": _mismatch(_TIMESTAMP, d.get("cdt")),
        "ts_timestamp": _mismatch(_TIMESTAMP, d.get("ts")),
        "stt_shape": _mismatch(_HMS, d.get("stt")),
        "dur_shape": _mismatch(_HMS, d.get("dur")),
        "tc_arity": any(len(tc) != 2 for tc in tcs),
        "tc_nonneg": any(v is not None and v < 0 for tc in tcs for v in tc),
        "section_pOf_shape": any(_mismatch(_CI_ID, s.get("pOf")) for s in sections),
    }
    return [name for name, fired in rules.items() if fired]


def violation_error(row_id: str, stage: str, violations: list[str]) -> dict:
    """The error row :func:`split_valid` emits for a rejected row."""
    return {
        "canonical_path": row_id,
        "stage": stage,
        "error": "; ".join(f"violated {v}" for v in violations),
    }


def _with_violations(
    df: DataFrame, rules: Callable[[dict], list[str]], fields: tuple[str, ...]
) -> DataFrame:
    """Attach ``_violations: array<string>``: ``rules`` over each row.

    Only ``fields``, the columns ``rules`` reads, cross to Python. The UDF
    is marked nondeterministic so that the optimizer cannot copy it into
    both a filter on ``_violations`` and a projection of it: a filter and
    an error message over the same column, as in :func:`split_valid`,
    would otherwise run the rules twice per row."""
    violations = F.udf(
        lambda row: rules(row.asDict(recursive=True)), ArrayType(StringType())
    ).asNondeterministic()
    return df.withColumn(
        "_violations", violations(F.struct(*[df[c] for c in fields]))
    )


def validate_issues(issues_df: DataFrame) -> DataFrame:
    """Attach ``_violations`` (:func:`issue_violations`) to canonical
    issue rows."""
    return _with_violations(
        issues_df,
        issue_violations,
        ("id", "st", "sm", "cdt", "ts", "i", "pp", "rr"),
    )


def validate_pages(pages_df: DataFrame) -> DataFrame:
    """Attach ``_violations`` (:func:`page_violations`) to canonical page
    rows."""
    return _with_violations(
        pages_df, page_violations, ("id", "r", "cdt", "ts", "st", "sm")
    )


def validate_audio_records(records_df: DataFrame) -> DataFrame:
    """Attach ``_violations`` (:func:`record_violations`) to canonical
    audio-record rows."""
    return _with_violations(
        records_df,
        record_violations,
        ("id", "sm", "st", "cdt", "ts", "stt", "dur", "s"),
    )


def split_valid(validated_df: DataFrame, stage: str) -> tuple[DataFrame, DataFrame]:
    """Route rows with violations to the error channel (S15 shape)."""
    ok = validated_df.filter(F.size("_violations") == 0).drop("_violations")
    errors = (
        validated_df.filter(F.size("_violations") > 0)
        .select(
            F.col("id").alias("canonical_path"),
            F.lit(stage).alias("stage"),
            F.concat_ws(
                "; ",
                F.transform(
                    F.col("_violations"), lambda v: F.concat(F.lit("violated "), v)
                ),
            ).alias("error"),
        )
    )
    return ok, errors


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Data-quality column profile (the deequ/great-expectations summary
    pass): one row per column with exact n_rows / n_null / n_distinct
    and lexicographic min/max of the string form.

    ONE pass over the data: rows explode to (column, value_str) pairs —
    a |cols|× row expansion of only the profiled columns (unprofiled
    payload is pruned at the scan) — then a single map-side-combined
    groupBy(column). Exact distinct counts are what the oracle can
    check; at 100 TB swap count_distinct for approx_count_distinct and
    drop the oracle row (the plan shape is unchanged). String-form
    min/max is deliberate: one output schema for heterogeneous columns,
    deterministic across engines.
    """
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.column", "p.v")
    return pairs.groupBy("column").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("v")).alias("n_null"),
        F.countDistinct("v").alias("n_distinct"),
        F.min("v").alias("min_val"),
        F.max("v").alias("max_val"),
    )
