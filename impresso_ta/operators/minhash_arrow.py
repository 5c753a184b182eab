"""Arrow-batch MinHash signature build (guide §4.2 applied to the dedup
family's one remaining interpreted/shuffled hotspot).

The MinHash signature of a document is a pure per-row function of its
own text: distinct k-word shingles -> 48-bit md5-prefix hashes -> min of
``num_perm`` affine transforms mod 2^31-1. The expression form in
``dedup._minhash_parts`` nevertheless pays a corpus-proportional explode
(one (long, long) row per shingle OCCURRENCE) plus a full exchange into
a 24-min hash aggregate, because that is the only way to say it
relationally. This module computes the identical signature frame in ONE
``mapInArrow`` pass over (doc_id, text): the explode and the signature
exchange disappear from the plan, and only the band-bucket join's
exchange (genuinely distributed work) remains downstream.

Exactness (everything here is integer/string work — no floats anywhere):

- tokens come from :func:`arrowkit.java_tokens` (bit-exact
  ``split(trim(text), '\\s+')`` twin, trailing/leading empties kept);
- grams replicate ``dedup._word_grams``: position-order k-word grams
  joined by single spaces, ONE short gram for documents under k words,
  ``array_distinct`` keeps first occurrences (order is irrelevant to
  min/count/sort consumers, multiplicity is what matters);
- ``h`` replicates :func:`dedup.shingle_hash48`:
  ``int(md5(shingle)[:12 hex], 16)`` — 48 bits, so
  ``a*h + b <= 47*(2^48-1) + 2^31 < 2^63`` never overflows int64 and
  numpy's ``%`` on non-negatives equals the JVM's;
- ``mh_i = min((2i+1)*h + 104729*(i+1) % M) % M`` with
  ``M = 2147483647`` — same constants as ``_minhash_parts``;
- ``n_shingles`` is the distinct-shingle count (48-bit collisions keep
  their multiplicity in ``hs``, exactly like the exploded frame);
- ``hs`` (optional) is the per-doc ``sort_array(collect_list(h))``
  multiset the row-local verify intersects — emitted in the SAME pass,
  so the separate sets groupBy (and its corpus re-explode) disappears
  too.

Same contract caveats as the exploded form relies on in practice:
``doc_id`` values are expected non-NULL and unique (the relational form
would merge shingles of duplicate ids into one group; every caller in
this package feeds unique ids).
"""

from __future__ import annotations

from hashlib import md5 as _md5

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from impresso_ta.operators.arrowkit import java_tokens

_MERSENNE = 2147483647  # == dedup._MERSENNE (kept literal: no circular import)


def _batch_shingle_hashes(ids, texts, k: int):
    """Per-batch core shared by the Arrow passes: distinct k-word-gram
    48-bit hashes per document (module doc has the exactness contract).
    Returns (doc_ids, per-doc distinct-shingle counts, flat hash list)."""
    out_ids: list[int] = []
    counts: list[int] = []
    all_h: list[int] = []
    for i, text in zip(ids, texts):
        if text is None:
            continue
        toks = java_tokens(text)
        n = len(toks)
        if n >= k:
            grams = dict.fromkeys(
                " ".join(toks[j : j + k]) for j in range(n - k + 1)
            )
        else:
            grams = {" ".join(toks): None}
        out_ids.append(i)
        counts.append(len(grams))
        all_h.extend(
            int.from_bytes(_md5(g.encode("utf-8")).digest()[:6], "big")
            for g in grams
        )
    return out_ids, counts, all_h


def _sig_schema(num_perm: int, with_sets: bool) -> StructType:
    fields = [StructField("doc_id", LongType())]
    fields += [StructField(f"mh{i}", LongType()) for i in range(num_perm)]
    fields.append(StructField("n_shingles", LongType()))
    if with_sets:
        fields.append(StructField("hs", ArrayType(LongType())))
    return StructType(fields)


def minhash_signatures_arrow(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_perm: int,
    with_sets: bool = False,
) -> DataFrame:
    """(doc_id, mh0..mh{num_perm-1}, n_shingles[, hs]) — bit-identical to
    the ``_minhash_parts`` signature groupBy (plus, with ``with_sets``,
    the verify-array groupBy), zero exchanges beyond the small-input
    spread. NULL-text documents are absent, like the exploded form."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    from impresso_ta.operators.partitioning import spread_small_input

    # int64-overflow guard for the affine transform (see module doc)
    if not (2 * num_perm - 1) * ((1 << 48) - 1) + _MERSENNE < (1 << 63):
        raise ValueError(
            f"num_perm={num_perm} overflows the int64 affine hash "
            "(a*h + b with 48-bit h); use num_perm <= 16384"
        )

    out_schema = _sig_schema(num_perm, with_sets)
    arrow_schema = to_arrow_schema(out_schema)
    coeffs = [
        (2 * i + 1, 104729 * (i + 1) % _MERSENNE) for i in range(num_perm)
    ]

    base = spread_small_input(
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"), F.col(text_col)
        )
    )

    def fn(batches):
        for batch in batches:
            out_ids, counts, all_h = _batch_shingle_hashes(
                batch.column(0).to_pylist(), batch.column(1).to_pylist(), k
            )
            if not out_ids:
                continue
            h = np.asarray(all_h, dtype=np.int64)
            cnt = np.asarray(counts, dtype=np.int64)
            offsets = np.zeros(len(cnt) + 1, dtype=np.int64)
            np.cumsum(cnt, out=offsets[1:])
            starts = offsets[:-1]
            arrays = [pa.array(out_ids, type=pa.int64())]
            for a, b in coeffs:
                arrays.append(
                    pa.array(np.minimum.reduceat((a * h + b) % _MERSENNE, starts))
                )
            arrays.append(pa.array(cnt))
            if with_sets:
                doc_idx = np.repeat(np.arange(len(cnt)), cnt)
                order = np.lexsort((h, doc_idx))
                # list offsets are int32 by Arrow's ListArray contract:
                # a batch whose TOTAL shingle count exceeds 2^31 would
                # silently wrap — fail loudly instead (unreachable at
                # default maxRecordsPerBatch)
                if offsets[-1] >= (1 << 31):
                    raise ValueError(
                        "shingle count per Arrow batch exceeds int32 list "
                        "offsets; lower spark.sql.execution.arrow."
                        "maxRecordsPerBatch"
                    )
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(offsets.astype(np.int32)), pa.array(h[order])
                    )
                )
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return base.mapInArrow(fn, schema=out_schema)
