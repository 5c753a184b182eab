"""Canonical ID minting/parsing as pure column expressions (SURVEY X4/X5).

Canonical templates (ref: docs/architecture.rst; impresso_essentials
``canonical_path`` used at core.py:264-276); issue, page and CI ids are
minted here, all four are parsed by ``parse_canonical_id``:
- issue  ``{alias}-{yyyy}-{mm}-{dd}-{edition}``
- page   ``{issue_id}-p{nnnn}``
- record ``{issue_id}-r{nnnn}``
- CI     ``{issue_id}-i{nnnn}``

Everything stays JVM-side (format_string / split / regexp) — no UDFs, so
these participate in whole-stage codegen and constant folding.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def issue_id_col(alias: Column, date: Column, edition: Column) -> Column:
    """Mint ``GDL-1900-01-02-a`` from (alias, date, edition)."""
    return F.concat_ws(
        "-", alias, F.date_format(date, "yyyy-MM-dd"), edition
    )


def page_id_col(issue_id: Column, page_no: Column) -> Column:
    """Mint ``{issue}-p0004`` (ref: importers/classes.py:94)."""
    return F.format_string("%s-p%04d", issue_id, page_no)


def ci_id_col(issue_id: Column, ci_no: Column) -> Column:
    """Mint ``{issue}-i0048`` — must be deterministic/stable across runs."""
    return F.format_string("%s-i%04d", issue_id, ci_no)


def parse_canonical_id(id_col: Column) -> Column:
    """Split a canonical ID into a struct (alias, date, edition[, support]).

    Inverse of the minting functions; replaces impresso_essentials
    ``parse_canonical_filename`` (used at ref: rebuilders/helpers.py:273).
    Works for issue, page (``-pNNNN``), record (``-rNNNN``) and CI
    (``-iNNNN``) ids: the trailing component lands in ``support`` (null for
    plain issue ids).
    """
    parts = F.split(id_col, "-")
    n = F.size(parts)
    has_support = parts[4].rlike("^[pri][0-9]{4}$") & (n > 5) | (
        n > 4
    ) & F.element_at(parts, -1).rlike("^[pri][0-9]{4}$")
    support = F.when(has_support, F.element_at(parts, -1))
    # alias may itself contain '-': alias = all parts before the yyyy part.
    # Find the date anchor: parts[-4:-1] for id with support else parts[-3:]
    date_start = F.when(has_support, n - 4).otherwise(n - 3)
    alias = F.array_join(F.slice(parts, 1, date_start - 1), "-")
    yyyy = F.element_at(parts, date_start).cast("int")
    mm = F.element_at(parts, date_start + 1).cast("int")
    dd = F.element_at(parts, date_start + 2).cast("int")
    edition = F.element_at(parts, date_start + 3)
    return F.struct(
        alias.alias("alias"),
        F.make_date(yyyy, mm, dd).alias("date"),
        edition.alias("edition"),
        support.alias("support"),
    )
