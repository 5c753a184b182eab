"""Fuzzy text location (SURVEY X11).

The reference's FedGaz importer locates article boundaries by searching
(fuzzily) for the next article's title inside the page fulltext with the
``regex`` module's approximate-match syntax ``{e<=k}``
(ref: fedgaz/classes.py:242-345). Generalized here as a corpus operator:
given (text, needle) pairs, find the best approximate occurrence and
return its span — the candidate-filter (J9 broadcast metadata join)
should run FIRST so the expensive fuzzy scan touches only candidate rows,
exactly the reference's candidate→search staging.

Runs as an Arrow-batched ``mapInPandas`` (the ``regex`` library is
C-backed; per-row work is a single approximate search).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FUZZY_MATCH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("start", IntegerType(), True),
        StructField("end", IntegerType(), True),
        StructField("matched", StringType(), True),
        StructField("n_errors", IntegerType(), True),
    ]
)


def fuzzy_locate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    needle_col: str = "needle",
    max_errors: int = 2,
) -> DataFrame:
    """Best approximate occurrence of ``needle`` in ``text`` per row.

    Output: (doc_id, start, end, matched, n_errors); nulls when no match
    within ``max_errors`` edits. BESTMATCH semantics (minimal edit count),
    ties → leftmost — deterministic.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import regex

        cache: dict[str, "regex.Pattern"] = {}

        def pattern_for(needle: str):
            if needle not in cache:
                cache[needle] = regex.compile(
                    f"(?b)(?:{regex.escape(needle)}){{e<={max_errors}}}"
                )
            return cache[needle]

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                doc_id = int(getattr(row, id_col))
                text = getattr(row, text_col) or ""
                needle = getattr(row, needle_col)
                rec = {
                    "doc_id": doc_id,
                    "start": None,
                    "end": None,
                    "matched": None,
                    "n_errors": None,
                }
                if needle:
                    m = pattern_for(needle).search(text)
                    if m is not None:
                        rec.update(
                            start=m.start(),
                            end=m.end(),
                            matched=m.group(0),
                            n_errors=sum(m.fuzzy_counts),
                        )
                out.append(rec)
            yield pd.DataFrame(
                out, columns=[f.name for f in FUZZY_MATCH_SCHEMA.fields]
            )

    return df.select(id_col, text_col, needle_col).mapInPandas(
        fn, schema=FUZZY_MATCH_SCHEMA
    )


def fuzzy_blocked_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 2,
    block_expr=None,
    collapse_clones: bool = True,
    guard_block_size: int | None = 50_000,
    contracted: bool = False,
    broadcast_pairs: bool = True,
) -> DataFrame:
    """Record-linkage fuzzy join: BLOCK (equi-join on a cheap normalized
    key) then VERIFY (exact Levenshtein <= ``max_dist``) — the standard
    blocking scheme that keeps approximate string matching off the
    all-pairs cliff (Christen 2012; same candidate->verify staging as
    the MinHash band join).

    ``block_expr`` maps a string column to its blocking key; the default
    is the lowercased first alphanumeric token (fast, JVM-side). Two
    strings in different blocks are never compared — blocking recall is
    the caller's modeling decision, exactly as in record-linkage
    practice.

    Scale shape: the equi-join key is (block, LENGTH BUCKET) — the
    |len(a)-len(b)| <= max_dist constraint is not just a fused filter
    but part of the SHUFFLE KEY. Buckets have width max_dist+1; the
    right side lands in its own bucket, the left side probes EVERY
    bucket its compatible length range [len-k, len+k] touches (a
    sequence of at most three for width k+1) — lossless by
    construction, and duplicate-free: a right row's single bucket
    matches at most one of the left's distinct probe rows. This matters twice at scale:
    a hot block (one first-token shared by 10^5 rows) splits into
    per-length-bucket join keys instead of one straggler partition —
    the round-8 sf1 bench measured exactly that failure (a 200k-part
    corpus with ~92 first-token blocks serialized ~47 min into ONE
    task before this fix) — and non-near-length pairs never even MEET
    in the join, instead of meeting and failing the fused filter.
    The exact Levenshtein <= k verify is unchanged.

    Clone collapse (``collapse_clones``, default on): the Levenshtein
    verify runs over DISTINCT string values per side, and matching value
    pairs are expanded back through two equi-joins on the string value.
    Output-identical to verifying the raw rows — the join predicate and
    ``edit_dist`` depend only on the two string VALUES, so every raw row
    pair (a, b) appears in the expansion iff (value(a), value(b)) passed
    the verify, with the same distance. This is the join-shaped twin of
    ``dedup.collapse_exact_reps``: a clone-heavy corpus (the round-8
    sf1 entity-resolution bench held a 200k-part table whose ~92 blocks
    were built from near-identical name templates) pays Levenshtein on
    |distinct|² per (block, bucket) instead of |rows|², while the
    expansion cost is proportional to TRUE OUTPUT pairs — the part no
    mitigation can remove. Two extra exchanges (one distinct per side)
    buy a verify-mass collapse that took the sf1 entity-resolution query
    from >9 min (bench-skipped) to seconds.

    Contracted output (``contracted=True``, requires the default
    ``collapse_clones``): return the VALUE-level verified pairs with
    per-side multiplicities — ``(value_l, value_r, edit_dist, n_left,
    n_right)`` — and never expand back to row pairs. The expansion
    identity the default path implements (every raw row pair (a, b)
    appears iff (value(a), value(b)) verified, with the same distance)
    means the contracted form carries the SAME information: the expanded
    result is exactly the contracted pairs fanned out ``n_left ×
    n_right`` ways through two value equi-joins, which the caller can
    perform lazily IF row granularity is ever needed — and downstream
    consumers don't need it (clustering can run on value-level edges and
    label rows through one assignment join; dedup survivors keep one row
    per value). Cost becomes proportional to DISTINCT verified pairs
    instead of true row pairs: the round-9 sf1 bench corpus (200k rows,
    64 distinct name templates) emits ~400M expanded pairs in ~380 s but
    only ~2k distinct value pairs — the 131×-pairs-for-10×-data wall is
    an artifact of the output CONTRACT, not the join. The per-side
    counts ride the existing distinct aggregation (groupBy count
    replaces distinct — same exchange), so contracted mode is strictly
    cheaper than the default: same blocked verify, no expansion joins.

    ``guard_block_size`` is the runtime tripwire mirroring
    ``minhash_lsh_pairs``'s ``guard_bucket_size``: a per-(block,
    length-bucket) count rides each join input as a window over the SAME
    key the join shuffles on (shared exchange, no extra job), and an
    in-plan ``assert_true`` fails LOUDLY the moment one side of a single
    join key exceeds the bound — after clone collapse, that means >bound
    DISTINCT near-same-length strings share a first token, a genuine
    |l|×|r| cross product the verify cannot absorb. The error names the
    fixes (a finer ``block_expr``, upstream salting/capping, or
    ``guard_block_size=None`` to accept the cost). Never fires below the
    bound, so oracle-pinned semantics are unchanged.
    """
    from pyspark.sql import functions as F

    def default_block(col):
        return F.lower(
            F.regexp_extract(col, r"([A-Za-z0-9]+)", 1)
        )

    blk = block_expr or default_block
    w = max_dist + 1

    def blocked_left(df):
        return df.withColumn("_blk", blk(F.col(left_col))).withColumn(
            "_bkt",
            F.explode(
                F.sequence(
                    F.expr(f"(length({left_col}) - {max_dist}) div {w}"),
                    F.expr(f"(length({left_col}) + {max_dist}) div {w}"),
                )
            ),
        )

    def blocked_right(df):
        return df.withColumn("_blk", blk(F.col(right_col))).withColumn(
            "_bkt", F.expr(f"length({right_col}) div {w}")
        )

    def guarded(df, side):
        if guard_block_size is None:
            return df
        from pyspark.sql.window import Window

        gw = Window.partitionBy("_blk", "_bkt")
        tripwire = F.assert_true(
            F.count("*").over(gw) <= F.lit(guard_block_size),
            F.concat(
                F.lit(
                    f"fuzzy_blocked_join: the {side} side puts more than "
                    f"{guard_block_size} "
                    + (
                        "distinct values"
                        if collapse_clones
                        else "rows (collapse_clones=False)"
                    )
                    + " into one (block, length-bucket) join key — the "
                    "Levenshtein verify degrades to that key's cross "
                    "product. Use a finer block_expr, salt or cap the "
                    "hot key upstream, or pass guard_block_size=None "
                    "to accept the cost. key="
                ),
                F.col("_blk"),
                F.lit("/bucket="),
                F.col("_bkt").cast("string"),
            ),
        )
        return (
            df.withColumn("_guard", tripwire)
            .filter(F.col("_guard").isNull())
            .drop("_guard")
        )

    def verify_join(l_df, r_df):
        lc, rc = F.col(f"l.{left_col}"), F.col(f"r.{right_col}")
        return (
            guarded(blocked_left(l_df), "left")
            .alias("l")
            .join(
                guarded(blocked_right(r_df), "right").alias("r"),
                (F.col("l._blk") == F.col("r._blk"))
                & (F.col("l._bkt") == F.col("r._bkt"))
                & (F.abs(F.length(lc) - F.length(rc)) <= F.lit(max_dist))
                & (F.levenshtein(lc, rc) <= F.lit(max_dist)),
            )
        )

    if not collapse_clones:
        if contracted:
            raise ValueError(
                "fuzzy_blocked_join: contracted=True requires "
                "collapse_clones=True (the contracted output IS the "
                "value-level verify result)"
            )
        lc, rc = F.col(f"l.{left_col}"), F.col(f"r.{right_col}")
        return verify_join(left, right).select(
            "l.*", "r.*", F.levenshtein(lc, rc).alias("edit_dist")
        ).drop("_blk", "_bkt")

    if contracted:
        # groupBy-count IS the distinct (same exchange), so the
        # multiplicities are free; no expansion joins follow.
        cl = left.groupBy(left_col).agg(F.count("*").alias("_nl"))
        cr = right.groupBy(right_col).agg(F.count("*").alias("_nr"))
        lc, rc = F.col(f"l.{left_col}"), F.col(f"r.{right_col}")
        return verify_join(cl, cr).select(
            lc.alias("value_l"),
            rc.alias("value_r"),
            F.levenshtein(lc, rc).alias("edit_dist"),
            F.col("l._nl").alias("n_left"),
            F.col("r._nr").alias("n_right"),
        )

    dl = left.select(left_col).distinct()
    dr = right.select(right_col).distinct()
    lc, rc = F.col(f"l.{left_col}"), F.col(f"r.{right_col}")
    pairs = verify_join(dl, dr).select(
        lc.alias("_fz_lv"),
        rc.alias("_fz_rv"),
        F.levenshtein(lc, rc).alias("edit_dist"),
    )
    # the verified value-pair frame is bounded by DISTINCT pairs —
    # broadcast it so the first expansion join is map-side at the left
    # scan's full parallelism. Without the hint the expansion shuffles
    # on the string VALUE, whose domain is |distinct verified values| —
    # on a clone-heavy corpus that collapses emission onto a handful of
    # reducers (measured at sf1: 64 distinct part names -> 376.7 s for
    # the ~400M-row expansion; with the hint 113 s, same rows). A
    # corpus whose distinct-pair set exceeds the broadcast cap (8 GB /
    # driver memory) has two honest outs, both named here because the
    # failure mode is a hard error, not a slow plan: contracted=True
    # (the expansion itself is the mistake at that diversity) or
    # broadcast_pairs=False (r9's shuffle expansion — slow but
    # completes).
    maybe_bcast = F.broadcast if broadcast_pairs else (lambda df: df)
    return (
        left.alias("le")
        .join(
            maybe_bcast(pairs.alias("p")),
            F.col(f"le.{left_col}") == F.col("p._fz_lv"),
        )
        .join(
            right.alias("re"),
            F.col("p._fz_rv") == F.col(f"re.{right_col}"),
        )
        .select("le.*", "re.*", "p.edit_dist")
    )
