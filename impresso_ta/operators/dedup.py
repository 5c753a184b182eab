"""Deduplication operators for large text corpora.

Scale-first designs (the reference's only similarity primitive is the
FedGaz fuzzy-match X11, ref: fedgaz/classes.py:242-345; these generalize it
into the standard LLM-corpus dedup suite):

- exact:      hash-groupBy — one shuffle on a 32-char fingerprint.
- n-gram Jaccard: shingle-explode + equi-join on shingle + count-based
  Jaccard — never materializes the full pair cross-product, only pairs
  that share ≥1 shingle; the heavy join is an equi-join Catalyst can
  shuffle-hash/sort-merge, and the shingle stream is salted naturally by
  shingle hash. Each shingle row carries its document's set size, so the
  pair count needs no second pass over the corpus.
- MinHash-LSH: k permutations via affine re-hashes of one 32-bit shingle
  hash, banded signature → candidates join on (band, band-hash) — the
  classic b·r tradeoff; candidates verified with exact Jaccard so false
  positives cost only the verify join.
- SimHash: 16-bit fingerprint via per-bit majority vote over token hashes;
  near-dup = small Hamming distance.

All hashing is md5-based (not Spark's murmur) so results are reproducible
in any engine — the DuckDB oracles compute the identical values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from impresso_ta.operators.partitioning import spread_small_input

# 2^31-1, a Mersenne prime — standard universal-hash modulus.
_MERSENNE = 2147483647


def text_fingerprint(text: Column) -> Column:
    """Exact-dup fingerprint: md5 of whitespace-normalized lowercase text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group documents by content fingerprint.

    Returns (fingerprint, n_docs, keep_id) — ``keep_id`` is the canonical
    representative (min id). One shuffle; at scale the fingerprint is
    uniform so no skew.
    """
    return (
        docs.select(
            text_fingerprint(F.col(text_col)).alias("fingerprint"),
            F.col(id_col).cast("long").alias("doc_id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def shingle_preserving_fingerprint(text: Column) -> Column:
    """md5 of whitespace-normalized, case-SENSITIVE text — the collapse
    key under which two documents are guaranteed to have IDENTICAL
    shingle sets (``word_shingles`` splits on \\s+ of trim(text), so
    whitespace runs never affect shingles, but case does — which is why
    this is NOT :func:`text_fingerprint`, whose lowercasing would merge
    docs with different shingle sets and break the output-identity
    proof of :func:`collapse_exact_reps`)."""
    return F.md5(F.regexp_replace(F.trim(text), r"\s+", " "))


def collapse_exact_reps(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The subset of ``docs`` keeping only the min-id representative of
    every exact-duplicate (shingle-preserving-fingerprint) group — the
    pre-pass that makes pairwise Jaccard dedup clique-safe without
    changing its output:

    equal normalized text ⇒ identical shingle sets ⇒ Jaccard 1.0 to
    each other (≥ any threshold ≤ 1, so an exact group is always one
    dedup component) and IDENTICAL Jaccard to every other document (so
    collapsing the group to one member changes no other component).
    Hence components over the collapsed reps, with each group's min id
    as its rep, have exactly the min-id survivors the full pairwise
    pass would produce — while the pairwise join never sees the k²/2
    true pairs an exact clique contributes (the measured GC-thrash/
    ENOSPC mode on clone-heavy crawl corpora; PLANS §9).

    Two uniform-key shuffles (fingerprint groupBy + id semi-join);
    never the text.
    """
    fp = shingle_preserving_fingerprint(F.col(text_col))
    rep_ids = (
        docs.select(F.col(id_col), fp.alias("_fp"))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return docs.join(rep_ids, id_col, "left_semi")


def _word_grams(words: Column, k: int) -> Column:
    """ALL k-word grams of a word array, in position order (duplicates
    kept — position i holds words[i..i+k-1] joined by single spaces).

    Built by zip_with-ing k progressively-shifted copies of the word array
    (gram_i = w_i ⊕ w_{i+1} ⊕ … ⊕ w_{i+k-1}) instead of
    transform(sequence(0, n-k), i -> slice…): the materialized integer
    sequence defeats whole-stage codegen and measured 4× slower at sf0.1.
    zip_with pads the shorter (shifted) side with nulls, concat_ws drops
    them, and the final slice keeps only full-length grams — except for
    arrays shorter than k words, which yield one short gram (same as
    the sequence form)."""
    n = F.size(words)
    acc = words
    for j in range(1, k):
        shifted = F.slice(words, j + 1, F.greatest(n - j, F.lit(1)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(acc, 1, F.greatest(n - k + 1, F.lit(1)))


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a document (portable: split on \\s+).
    See :func:`_word_grams` for the zip_with construction."""
    return F.array_distinct(_word_grams(F.split(F.trim(text), r"\s+"), k))


def shingle_hash48(shingle: Column) -> Column:
    """48-bit md5-prefix hash — the join/identity key for shingles.

    Everything downstream of the explode operates on this LONG, never the
    shingle string: the persisted frame is ~3× smaller, equi-joins compare
    8-byte keys, and md5 runs exactly once per (doc, shingle). Collisions
    among N distinct shingles inflate an intersection count with
    probability ~N²/2^49 (≈2e-3 at N=10⁶) — negligible against the exact
    string-intersection oracle, and irrelevant at any jaccard threshold.
    """
    return F.conv(F.substring(F.md5(shingle), 1, 12), 16, 10).cast("long")


def _explode_shingle_hashes(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    # hashed inside the array, before the explode: the isnotnull(h) a
    # join on h infers then filters the exploded column instead of
    # re-running md5 below it
    return spread_small_input(docs).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(
            F.transform(word_shingles(F.col(text_col), k), shingle_hash48)
        ).alias("h"),
    )


def jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (a < b, jaccard ≥ threshold).

    Join-on-shingle plan: |candidate rows| = Σ_shingle df². Every
    exploded row carries its document's set size ``n`` (the size of the
    distinct shingle array it came from), so the self-join's per-pair
    count groups on ``(doc_a, doc_b, n_a, n_b)`` and the Jaccard follows
    without a per-document size aggregate or a join back to it: the plan
    has two exchanges, the self-join on ``h`` and the pair aggregate.
    All post-explode plumbing rides the 48-bit hash (``shingle_hash48``),
    never the string.
    """
    sets = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        word_shingles(F.col(text_col), k).alias("_s"),
    )
    # explode_outer: for a plain explode of a column, Catalyst infers
    # size(_s) > 0 and pushes it below the projection, building each
    # document's shingles three times. The outer form's extra row for a
    # null text has a null hash, which never joins. The hash runs inside
    # the array, before the explode: the join's inferred isnotnull(h)
    # then filters the exploded column instead of re-running md5.
    sh = sets.select(
        "doc_id",
        F.size("_s").alias("n"),
        F.explode_outer(F.transform("_s", shingle_hash48)).alias("h"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count("*").alias("n_common"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 24,
) -> DataFrame:
    """MinHash signature per document: ``num_perm`` affine re-hashes
    ((a_i·h + b_i) mod p) of the 48-bit shingle hash, min per permutation.
    """
    # Explode once, md5 once per (doc, shingle), then ONE groupBy with
    # num_perm min-aggregates (map-side partial agg → the shuffle carries
    # only num_perm ints per doc). The naive per-permutation
    # array_min(transform(...)) form re-inlines the md5 pipeline num_perm
    # times after projection collapse — measured 100× slower.
    hashed = _explode_shingle_hashes(docs, id_col, text_col, k)
    aggs = []
    for i in range(num_perm):
        # deterministic per-permutation coefficients (odd a, seed-free)
        a = 2 * i + 1
        b = 104729 * (i + 1) % _MERSENNE
        aggs.append(F.min((a * F.col("h") + b) % _MERSENNE).alias(f"mh{i}"))
    return hashed.groupBy("doc_id").agg(*aggs)


def _minhash_parts(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_perm: int,
    bands: int,
    engine: str = "expr",
    with_sets: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared MinHash plumbing: (shingle frame, signature frame, band
    table). Hash parameters are a pure function of the permutation
    index, so two corpora banded through this helper are join-compatible
    — the property :func:`incremental_minhash_dedup` relies on.

    The signature groupBy deliberately carries ONLY hash-friendly
    aggregates (24 mins + a count): adding a ``collect_list`` (the
    verify arrays an early r12 draft fused in here) downgrades the
    whole operator from codegen'd HashAggregate to ObjectHashAggregate
    and measured ~2x on the sf0.1 signature pass (A/B: fused
    7.3-20.1 s vs split 4.2-8.7 s at sf0.1, equal at sf1) —
    ``minhash_lsh_pairs`` collects its verify arrays in its own
    groupBy over a recomputed shingle frame instead (the (long, long)
    explode is cheaper to recompute than the shared exchange).

    ``engine="arrow"`` (r12, guide §4.2) computes the signature frame —
    and, with ``with_sets=True``, the verify ``hs`` arrays in the SAME
    pass — per document in one ``mapInArrow`` over (doc_id, text)
    (:func:`impresso_ta.operators.minhash_arrow.minhash_signatures_arrow`,
    bit-identical integer math): the shingle explode and the signature
    exchange disappear from the plan entirely; only the band-join
    shuffles remain. The returned shingle frame is the unchanged lazy
    expression form — consumers that never evaluate it (all arrow-mode
    callers) pay nothing for it."""
    rows = num_perm // bands
    sh = _explode_shingle_hashes(docs, id_col, text_col, k)
    if engine == "arrow":
        from impresso_ta.operators.minhash_arrow import (
            minhash_signatures_arrow,
        )

        sigs = minhash_signatures_arrow(
            docs, id_col, text_col, k, num_perm, with_sets=with_sets
        ).persist()
    else:
        aggs = []
        for i in range(num_perm):
            a = 2 * i + 1
            b = 104729 * (i + 1) % _MERSENNE
            aggs.append(
                F.min((a * F.col("h") + b) % _MERSENNE).alias(f"mh{i}")
            )
        # carry the shingle count in the SAME groupBy: the verify stage's
        # size lookup then reuses this aggregate instead of re-exploding
        # and re-shuffling the corpus a fourth time
        aggs.append(F.count("*").alias("n_shingles"))
        # persist the SIGNATURE frame, not the shingle frame: it is
        # O(|docs|) rows × (num_perm+2) longs — tiny at any scale — and
        # four consumers hang off it (both band-join sides, both size
        # lookups); without this each consumer re-runs the explode + the
        # 24-min groupBy.
        sigs = sh.groupBy("doc_id").agg(*aggs).persist()
    band_cols = []
    for bidx in range(bands):
        parts = [F.col(f"mh{bidx * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(bidx).alias("band"),
                F.md5(F.concat_ws("-", *parts)).alias("bh"),
            )
        )
    banded = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("b")
    ).select("doc_id", "b.band", "b.bh")
    return sh, sigs, banded


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 24,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
    guard_bucket_size: int | None = 50_000,
    engine: str = "arrow",
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact Jaccard.

    bands=8 × rows=3 over 24 permutations: P(candidate | j) = 1-(1-j³)⁸ —
    ≥ 0.999 at j=0.85, ~0.02 at j=0.15, so candidate volume stays linear
    in corpus size for a typical similarity distribution while recall at
    the 0.8 threshold is effectively exact. Verification re-computes true
    Jaccard on the candidates only.

    ``max_bucket_size`` (off by default — the oracle pins the uncapped
    semantics) drops band buckets larger than the bound before pairing:
    the standard guard against pathological buckets (a boilerplate
    band-hash shared by 10⁵ docs would alone contribute 10¹⁰ candidate
    pairs). Pairs inside an over-bound bucket are usually still found
    through their other 7 bands; a document set that agrees on EVERY
    band is an exact-duplicate clique, which belongs to
    :func:`exact_dedup_groups` / :func:`minhash_dedup_survivors` — the
    pairs-form's output is inherently quadratic in clique size (see the
    survivors docstring), so the cap bounds the candidate join, not the
    true-pair count.

    ``guard_bucket_size`` is the RUNTIME tripwire for calling this raw
    form on a clone-heavy corpus (the 100×-scale probe's recorded
    failure mode: a near-dup clique of m docs puts m rows in the same
    band bucket → m²/2 candidates per band — quadratic before any
    verify). A per-bucket count rides the
    band table as a window over (band, bh) — the SAME key the candidate
    self-join shuffles on, so the exchange is shared and no extra job
    runs — and an embedded ``assert_true`` fails the job LOUDLY the
    moment any bucket exceeds the bound, naming the fixes
    (``minhash_dedup_survivors`` for linear output, ``max_bucket_size``
    to cap explicitly, or ``guard_bucket_size=None`` to accept the
    cost). The pipeline's auto-router avoids this form above 25k docs;
    the guard protects direct callers. Never fires below the bound, so
    the oracle-pinned semantics are unchanged.
    """
    sh, sigs, banded = _minhash_parts(
        docs,
        id_col,
        text_col,
        k,
        num_perm,
        bands,
        engine=engine,
        with_sets=(engine == "arrow"),
    )
    # r12: the verify below is a row-local array_intersect over each
    # candidate pair's sorted shingle-hash arrays — the r11 form
    # re-exploded and re-shuffled the full (doc, h) frame through two
    # corpus-proportional joins instead. With engine="arrow" the arrays
    # ride the signature mapInArrow pass itself (with_sets=True — no
    # aggregate, so the ObjectHashAggregate tax that forbids fusing a
    # collect_list into the signature GROUPBY does not apply, and the
    # corpus is scanned exactly once). With engine="expr" they come
    # from their OWN groupBy over the (recomputed) shingle frame, NOT
    # from extra aggregates in the signature groupBy (measured ~2x on
    # the sf0.1 signature pass — see _minhash_parts docstring).
    if engine == "arrow":
        sets = sigs  # hs + n_shingles emitted in the signature pass
    else:
        sets = (
            sh.groupBy("doc_id")
            .agg(
                F.sort_array(F.collect_list("h")).alias("hs"),
                F.count("*").alias("n_shingles"),
            )
            .persist()
        )
    if max_bucket_size is not None:
        from pyspark.sql.window import Window

        bw = Window.partitionBy("band", "bh")
        banded = (
            banded.withColumn("_bn", F.count("*").over(bw))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    # an EXPLICIT max_bucket_size is the caller accepting larger buckets:
    # the cap above already bounds candidate volume, so the tripwire must
    # not re-raise under it (round-8 review: the old condition made the
    # error message's own 'set max_bucket_size' remedy impossible for
    # caps above the guard)
    if guard_bucket_size is not None and max_bucket_size is None:
        from pyspark.sql.window import Window

        gw = Window.partitionBy("band", "bh")
        tripwire = F.assert_true(
            F.count("*").over(gw) <= F.lit(guard_bucket_size),
            F.concat(
                F.lit(
                    "minhash_lsh_pairs: a band bucket holds more than "
                    f"{guard_bucket_size} docs — a clone-heavy corpus "
                    "makes this raw pairs form quadratic in clique size. "
                    "Use minhash_dedup_survivors (linear output), set "
                    "max_bucket_size to cap buckets explicitly, or pass "
                    "guard_bucket_size=None to accept the cost. bucket="
                ),
                F.col("band").cast("string"),
                F.lit("/"),
                F.col("bh").cast("string"),
            ),
        )
        banded = (
            banded.withColumn("_guard", tripwire)
            .filter(F.col("_guard").isNull())
            .drop("_guard")
        )

    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(b, ["band", "bh"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    # Row-local verify (r12): join each candidate pair to its two
    # persisted sorted shingle-hash arrays and intersect in place —
    # two |candidates|-row joins against the persisted sets frame,
    # instead of re-exploding the corpus twice and shuffling the
    # full (doc, h) frame through two equi-joins (guide §2.2:
    # shuffle candidate-proportional bytes, not
    # corpus-proportional). Same jaccard per pair: the shingles of
    # one document are DISTINCT strings, so the hash multiset and
    # the join-counted matches agree except under 48-bit collisions
    # (see shingle_hash48 — already accepted by every consumer).
    sides = sets.select("doc_id", "hs", "n_shingles")
    return (
        candidates.join(
            sides.select(
                F.col("doc_id").alias("doc_a"),
                F.col("hs").alias("hs_a"),
                F.col("n_shingles").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            sides.select(
                F.col("doc_id").alias("doc_b"),
                F.col("hs").alias("hs_b"),
                F.col("n_shingles").alias("n_b"),
            ),
            "doc_b",
        )
        .withColumn(
            "n_common", F.size(F.array_intersect("hs_a", "hs_b"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_survivors(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 24,
    bands: int = 8,
    engine: str = "arrow",
) -> DataFrame:
    """Linear-OUTPUT MinHash dedup: band-bucket union-find, no pairwise
    verification. Returns every document with its duplicate component,
    component size, and ``is_rep`` (the min-id member a dedup pass
    keeps).

    :func:`minhash_lsh_pairs` is the precision tool — exact-Jaccard
    verification over candidates — but its OUTPUT is inherently
    quadratic in duplicate-clique size: a crawl corpus where one page is
    mirrored k times contains k²/2 true near-dup pairs. Measured on a
    synthetic 100-way-clone corpus: 49× superlinear at a 10× data step,
    and no candidate cap can fix it because the pairs are real. Corpus
    preparation doesn't need the pairs — it needs the SURVIVORS. Here
    every band bucket contributes ``|bucket| - 1`` edges to its min-id
    member (star, not clique), so edge volume is ≤ n·bands at ANY
    duplicate distribution, and the driver-side union-find of
    :func:`dedup_clusters` (one edge collect, no Spark rounds) yields
    the same components the full pair set would. Trade-off vs the
    verified form: bucket coincidence is taken as duplication without
    an exact-Jaccard check, i.e. the standard MinHash-dedup operating
    point (false-positive rate per dissimilar pair ≈ bands·j^rows) —
    accepted by the large dedup pipelines this mirrors (C4, SlimPajama,
    text-dedup) because a verify pass would re-introduce the
    clique-quadratic cost.
    """
    _, _, banded = _minhash_parts(
        docs, id_col, text_col, k, num_perm, bands, engine=engine
    )
    bucket_min = banded.groupBy("band", "bh").agg(
        F.min("doc_id").alias("root")
    )
    edges = (
        banded.join(bucket_min, ["band", "bh"])
        .filter(F.col("doc_id") != F.col("root"))
        .select(
            F.col("root").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
        .distinct()
    )
    members = dedup_clusters(edges)
    all_docs = docs.select(F.col(id_col).cast("long").alias("doc_id"))
    return all_docs.join(members, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        F.coalesce(F.col("cluster_size"), F.lit(1).cast("long")).alias(
            "cluster_size"
        ),
        F.coalesce(F.col("is_rep"), F.lit(True)).alias("is_rep"),
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 24,
    bands: int = 8,
    threshold: float = 0.8,
    engine: str = "arrow",
) -> DataFrame:
    """Dedupe an incoming batch against the already-ingested corpus:
    returns the NEW docs with no existing near-dup (exact Jaccard ≥
    ``threshold``), unchanged — the arrival-driven complement of the
    full-corpus :func:`minhash_lsh_pairs` (which re-pairs everything).

    Scale shape: candidates are new-band ⋈ existing-band on
    (band, band-hash) — work proportional to the BATCH, not the corpus.
    Both sides ride :func:`_minhash_parts` with identical hash
    parameters, so their band tables are join-compatible; the existing
    side is re-derived from text on each call. Extends the reference's
    incremental import anti-join (F3/J1, ref
    generic_importer.py:240-249) from exact-id skip to near-dup skip.
    """
    arrow = engine == "arrow"
    sh_n, sigs_n, band_n = _minhash_parts(
        new_docs, id_col, text_col, k, num_perm, bands,
        engine=engine, with_sets=arrow,
    )
    sh_e, sigs_e, band_e = _minhash_parts(
        existing_docs, id_col, text_col, k, num_perm, bands,
        engine=engine, with_sets=arrow,
    )
    candidates = (
        band_n.select(F.col("doc_id").alias("new_id"), "band", "bh")
        .join(
            band_e.select(F.col("doc_id").alias("ex_id"), "band", "bh"),
            ["band", "bh"],
        )
        .select("new_id", "ex_id")
        .distinct()
    )
    if arrow:
        # row-local verify over the hs arrays emitted by the signature
        # pass (same array_intersect semantics as minhash_lsh_pairs —
        # shingles are distinct strings per doc, so the hash-multiset
        # intersection equals the join-counted matches up to the 48-bit
        # collisions every consumer already accepts).
        # Engine-parity caveat (ADVICE r12): array_intersect is SET-
        # valued while the expr path join-counts the h multiset, so if
        # two DISTINCT shingles of one doc collide at 48 bits the two
        # engines' n_common differ by the collision count —
        # astronomically rare (birthday bound ≈ n²/2^49 per doc) and
        # identical on every oracle corpus; parity is modulo within-doc
        # 48-bit collisions, not strictly bit-identical on adversarial
        # input.
        common = (
            candidates.join(
                sigs_n.select(
                    F.col("doc_id").alias("new_id"), F.col("hs").alias("hs_n")
                ),
                "new_id",
            )
            .join(
                sigs_e.select(
                    F.col("doc_id").alias("ex_id"), F.col("hs").alias("hs_e")
                ),
                "ex_id",
            )
            .select(
                "new_id",
                "ex_id",
                F.size(F.array_intersect("hs_n", "hs_e")).alias("n_common"),
            )
        )
    else:
        common = (
            candidates.join(
                sh_n.select(F.col("doc_id").alias("new_id"), "h"), "new_id"
            )
            .join(
                sh_e.select(F.col("doc_id").alias("ex_id"), "h"),
                ["ex_id", "h"],
            )
            .groupBy("new_id", "ex_id")
            .agg(F.count("*").alias("n_common"))
        )
    dups = (
        common.join(
            sigs_n.select(
                F.col("doc_id").alias("new_id"),
                F.col("n_shingles").alias("n_n"),
            ),
            "new_id",
        )
        .join(
            sigs_e.select(
                F.col("doc_id").alias("ex_id"),
                F.col("n_shingles").alias("n_e"),
            ),
            "ex_id",
        )
        .filter(
            F.round(
                F.col("n_common")
                / (F.col("n_n") + F.col("n_e") - F.col("n_common")),
                4,
            )
            >= threshold
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_docs.join(dups, id_col, "left_anti")


def simhash16(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash fingerprint per document.

    Per-bit majority vote over the md5-derived 16-bit hashes of every
    token occurrence. Computed by exploding tokens then one groupBy with
    16 conditional sums — map-side partial aggregation keeps the shuffle
    tiny (16 ints per doc).
    """
    words = spread_small_input(docs).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"),
    )
    h = F.conv(F.substring(F.md5(F.col("w")), 1, 4), 16, 10).cast("long")
    words = words.select("doc_id", h.alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(16)
    ]
    agg = words.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for j in range(16):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


#: The most edges :func:`connected_components` collects to the driver.
#: Both doc-dedup routes stay far below it: the jaccard route runs below
#: 25k documents, and the minhash route emits at most ``n·bands`` star
#: edges (8M for 1M documents at 8 bands). 10M edges are 160 MB of int64
#: pairs, inside Spark's default 1 GB ``spark.driver.maxResultSize``.
MAX_COMPONENT_EDGES = 10_000_000


def _components(edges: DataFrame, src: str, dst: str):
    """Collect the edge list and cluster it on the driver.

    Returns ``(nodes, root)``: the sorted distinct endpoint ids and, per
    node, the index into ``nodes`` of its component's smallest member.
    Self-loops and edges with a null endpoint are dropped before the
    collect, so a node that only has such edges is absent.
    """
    import numpy as np

    pairs = (
        edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .limit(MAX_COMPONENT_EDGES + 1)
        .toArrow()
    )
    if pairs.num_rows > MAX_COMPONENT_EDGES:
        raise ValueError(
            f"connected_components: more than {MAX_COMPONENT_EDGES} edges "
            "(dedup.MAX_COMPONENT_EDGES); the edge list is clustered on "
            "the driver"
        )
    a = pairs.column("a").to_numpy()
    b = pairs.column("b").to_numpy()
    # dense int64 indices in id order, so the smallest index of a
    # component is also its smallest id
    nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = idx[: len(a)], idx[len(a) :]
    root = np.arange(len(nodes))
    while len(u):
        # hook: each root points at the smallest smaller root it shares
        # an open edge with; pointers only go to smaller ids, so no cycle
        np.minimum.at(root, np.maximum(u, v), np.minimum(u, v))
        # pointer jumping until every node points at a root
        while True:
            up = root[root]
            if np.array_equal(up, root):
                break
            root = up
        u, v = root[u], root[v]
        open_ = u != v
        u, v = u[open_], v[open_]
    return nodes, root


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """Connected components of the undirected graph in ``edges``, as
    ``(node, label)`` longs where ``label`` is the smallest node id in
    the node's component — each component is one group of mutually
    near-duplicate documents.

    The node universe is the edge endpoints: self-loops and edges with
    a null endpoint are dropped, so isolated nodes are absent. Callers
    join singletons back when they need them.

    One Spark job collects the edge list through Arrow; the driver then
    runs a numpy union-find over int64 indices (hook each root to the
    smallest smaller root it shares an edge with, then pointer-jump
    every node to its root, until no edge joins two roots). Memory is
    linear in the edge count and no Spark round depends on the component
    diameter. Distributed CC only pays on graphs far larger than a
    driver holds (cf. Kiveris et al., "Connected Components in MapReduce
    and Beyond"); the doc-dedup edge lists are small by construction.
    Above ``MAX_COMPONENT_EDGES`` edges this raises ``ValueError``; the
    collect stops one edge past the ceiling.
    """
    import pyarrow as pa

    nodes, root = _components(edges, src, dst)
    return edges.sparkSession.createDataFrame(
        pa.table({"node": nodes, "label": nodes[root]})
    )


def dedup_clusters(
    pairs: DataFrame, left: str = "doc_a", right: str = "doc_b"
) -> DataFrame:
    """Near-duplicate clusters from candidate pairs: connected components
    + cluster size + canonical-representative flag (min doc id — the one
    a dedup pass would KEEP; the rest are droppable).

    Built from the same driver-side arrays as
    :func:`connected_components`: the size is a ``bincount`` over the
    component roots and the representative is the node that is its own
    root, so no shuffle runs after the edge collect.
    """
    import numpy as np
    import pyarrow as pa

    nodes, root = _components(pairs, left, right)
    return pairs.sparkSession.createDataFrame(
        pa.table(
            {
                "doc_id": nodes,
                "component": nodes[root],
                "cluster_size": np.bincount(root, minlength=len(nodes))[root],
                "is_rep": root == np.arange(len(nodes)),
            }
        )
    )


def duplicated_shingle_fraction(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    drop_above: float = 0.5,
) -> DataFrame:
    """Per-document fraction of distinct k-gram shingles that also occur
    in at least one other document — the equi-join approximation of exact
    substring dedup (the suffix-array pass of Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", recast as
    shingle-granular containment so it joins instead of sorting a global
    suffix array).

    ``keep`` = fraction ≤ ``drop_above``: a doc mostly made of text seen
    elsewhere is dropped even when no single pair crosses a Jaccard
    threshold (e.g. a mosaic of copied fragments).

    Scale shape: shingles travel as 48-bit longs; corpus-wide document
    frequency is one uniform-keyed groupBy; the df frame joins back on
    the same key (exchange reused — both sides partitioned by h); final
    per-doc aggregate is the only doc-keyed shuffle. Never all-pairs.
    """
    sh = _explode_shingle_hashes(docs, id_col, text_col, k).persist()
    df = sh.groupBy("h").agg(F.count("*").alias("nd"))
    per = (
        sh.join(df, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("n_dup"),
        )
    )
    out = per.select(
        "doc_id",
        F.col("n_shingles").cast("long"),
        F.round(F.col("n_dup").cast("double") / F.col("n_shingles"), 4).alias(
            "dup_shingle_frac"
        ),
    ).withColumn("keep", F.col("dup_shingle_frac") <= F.lit(drop_above))
    return out


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    left: str = "doc_a",
    right: str = "doc_b",
) -> DataFrame:
    """The end-to-end dedup pass: every document outside a near-dup
    cluster survives; inside a cluster only the canonical representative
    (min id) does. Returns the surviving subset of ``docs`` unchanged.

    The pair list is collected once and clustered on the driver
    (:func:`dedup_clusters`). The drop list (cluster members minus
    representatives) is tiny relative to the corpus, so the left-anti
    join is the right shape; join strategy is left to AQE.
    """
    drops = (
        dedup_clusters(pairs, left=left, right=right)
        .filter(~F.col("is_rep"))
        .select(F.col("doc_id").alias(id_col))
    )
    return docs.join(drops, on=id_col, how="left_anti")


def exact_substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Corpus-wide exact-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every ``k``-token
    window that occurs more than once ANYWHERE in the corpus — across
    documents or within one — is removed except at its globally first
    occurrence (min (doc_id, position)); a document's surviving text is
    its tokens not covered by any removed window. The cross-document
    complement of :func:`line_dedup` (which dedups fixed spans by
    content only within the keep-first-span rule) and the token-level
    complement of doc-level dedup: boilerplate shared by otherwise
    distinct documents is stripped while each document survives.

    Returns (doc_id, n_tokens, n_removed, kept_text).

    Scale shape (replaces the paper's monolithic suffix array, which
    needs the corpus on one machine): one tokenize pass explodes
    Σ n_tokens window rows keyed by a UNIFORM md5 window hash; the
    first-occurrence resolution is ONE groupBy(h) with map-side
    combine (min-struct + count); duplicate marking is an equi-join
    that reuses the groupBy's hash partitioning; the rewrite is a
    row-local GAP SWEEP over the sorted removal starts (see below) —
    O(n_tokens + n_removals) per document, so even a pathological
    fully-duplicated 10⁵-token document costs one linear pass, not
    the n_tokens × n_removals of a per-token membership scan. Linear
    in corpus tokens, no skewed key (a boilerplate window repeated
    10⁶ times is one aggregate row and an AQE-handled join bucket,
    never a window function partition).

    First occurrence is resolved by min(struct(id, p)) under the id
    column's NATIVE ordering — ids pass through untouched (numeric or
    string; a string id corpus gets lexicographic tie-breaks, equally
    deterministic), so no document is ever silently dropped by a
    failed numeric cast.
    """
    tokens = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens.alias("_w"),
    )
    # (doc_id, p, h) for every k-token window, 1-based positions.
    # r12 note: three "obvious" rewrites were measured SLOWER at sf1 and
    # rejected (min-of-2 noop):
    # building the window strings with the zip_with gram chain + a
    # post-explode codegen md5 was 2× slower than this lambda (8.4 s vs
    # 4.4 s for the window frame alone — k-1 zip_with passes allocate
    # O(n·k) progressively longer strings, dwarfing the saved
    # interpretation); unhex(md5) binary shuffle keys and a per-gap
    # slice rewrite each regressed the full query by 1.1-1.25×.
    win = base.filter(F.size("_w") >= k).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_w") - (k - 1)),
                lambda p: F.struct(
                    p.alias("p"),
                    F.md5(
                        F.array_join(F.slice(F.col("_w"), p, k), " ")
                    ).alias("h"),
                ),
            )
        ).alias("_s"),
    ).select("doc_id", "_s.p", "_s.h")
    firsts = win.groupBy("h").agg(
        F.min(F.struct("doc_id", "p")).alias("first"),
        F.count("*").alias("cnt"),
    )
    marked = (
        win.join(firsts, "h")
        .filter(
            (F.col("cnt") > 1)
            & ~(
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("p") == F.col("first.p"))
            )
        )
        .groupBy("doc_id")
        .agg(F.collect_list("p").alias("_ps"))
    )
    # Gap sweep: every removal window has the SAME length k, so sorting
    # the starts also sorts the ends — no interval merge is needed. The
    # kept (uncovered) 1-based token indices are exactly the union of
    # the gaps [1, p₁−1], [pⱼ+k, pⱼ₊₁−1], [pₘ+k, n]; an overlapping or
    # adjacent pair of windows simply yields an empty gap (end < start).
    # One zip_with + flatten builds them all: O(tokens + removals).
    ps = F.array_sort(F.col("_ps"))
    n = F.size("_w")
    gap_starts = F.concat(
        F.array(F.lit(1)), F.transform(ps, lambda p: p + k)
    )
    gap_ends = F.concat(F.transform(ps, lambda p: p - 1), F.array(n))
    kept_idx = F.flatten(
        F.zip_with(
            gap_starts,
            gap_ends,
            lambda s, e: F.when(e >= s, F.sequence(s, e)).otherwise(
                F.array().cast("array<int>")
            ),
        )
    )
    kept = F.transform(kept_idx, lambda i: F.element_at(F.col("_w"), i))
    return (
        base.join(marked, "doc_id", "left")
        .withColumn("_ps", F.coalesce(F.col("_ps"), F.array().cast("array<int>")))
        .select(
            "doc_id",
            F.size("_w").cast("long").alias("n_tokens"),
            (F.size("_w") - F.size(kept)).cast("long").alias("n_removed"),
            F.array_join(kept, " ").alias("kept_text"),
        )
    )


def word_spans(text: Column, span_words: int = 10) -> Column:
    """Consecutive non-overlapping ``span_words``-word segments of a
    document — the "line" unit for corpora whose text carries no newline
    structure (C4's rule set operates on newline-split lines; the fixed
    word window is the deterministic equivalent for flowed text)."""
    words = F.split(F.trim(text), r"\s+")
    n_spans = F.ceil(F.size(words) / F.lit(float(span_words))).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.array_join(
            F.slice(words, i * span_words + 1, span_words), " "
        ),
    )


def line_dedup_kept(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 10,
) -> DataFrame:
    """The first-occurrence core of :func:`line_dedup`: one row
    ``(doc_id, n_kept, kept_text)`` per document that keeps at least one
    span, ``kept_text`` being its kept spans in position order joined by
    single spaces. A document all of whose spans occur earlier in the
    corpus has no row.

    Scale shape: spans are keyed by their 48-bit md5-prefix hash, and
    the global first occurrence is
    ``groupBy(h).agg(min(struct(doc_id, pos, span)))`` — the winning
    struct carries the span itself, so the documents are rebuilt by one
    ``groupBy(first.doc_id)`` over those winners, with no join back to
    the exploded spans. Map-side partial aggregation collapses even a
    boilerplate span that occurs in half the corpus to one row per map
    task, so hot spans never pile onto one reducer (a window over h
    would). Two exchanges, never all-pairs.
    """
    spans = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(word_spans(F.col(text_col), span_words)).alias(
            "pos", "span"
        ),
    )
    firsts = spans.groupBy(shingle_hash48(F.col("span")).alias("h")).agg(
        F.min(F.struct("doc_id", "pos", "span")).alias("first")
    )
    return firsts.groupBy(F.col("first.doc_id").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("first.pos", "first.span"))
                ),
                lambda s: s["span"],
            ),
            " ",
        ).alias("kept_text"),
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 10,
    with_text: bool = False,
) -> DataFrame:
    """Corpus-wide exact line (span) dedup — the C4/RefinedWeb rule "keep
    only the first occurrence of every duplicated line", applied to
    ``span_words``-word segments (see :func:`word_spans`).

    Returns one row per document with a non-null text: total span count,
    surviving span count, and the md5 fingerprint of the reconstructed
    (deduplicated) text (plus the reconstructed text itself when
    ``with_text``). A document that keeps no span has ``n_kept`` 0 and
    the fingerprint of the empty string.

    The kept spans come from :func:`line_dedup_kept`, the same core the
    corpus pipeline runs; the span count is row-local, and a left join
    of it onto the core adds the documents that keep nothing.
    """
    kept = line_dedup_kept(docs, id_col, text_col, span_words)
    counts = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(word_spans(F.col(text_col), span_words))
        .cast("long")
        .alias("n_spans"),
    )
    kept_text = F.coalesce(F.col("kept_text"), F.lit(""))
    return counts.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        F.md5(kept_text).alias("kept_fp"),
        *([kept_text.alias("kept_text")] if with_text else []),
    )


def jaccard_prefix_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.7,
    collapse_exact: bool = True,
    cache: bool = True,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via PREFIX FILTERING
    (AllPairs/PPJoin, Bayardo et al. 2007 / Xiao et al. 2008) — same
    output contract as :func:`jaccard_pairs` (a < b, round(j,4) >=
    threshold), different candidate generator:

    every doc's shingles are ordered by GLOBAL rarity (document
    frequency asc, hash tiebreak) and only the first
    ``n - ceil(t*n) + 1`` shingles — the prefix — generate candidates;
    the prefix-filter theorem guarantees two docs with J >= t share a
    prefix shingle under any consistent global order. Candidate volume
    is Σ_shingle df_prefix² over RARE shingles only, so a boilerplate
    shingle shared by 10⁵ docs contributes nothing unless it is rare
    enough to sit in someone's prefix — the hot-shingle blowup of
    :func:`jaccard_pairs`' join (Σ_shingle df² candidate rows) simply
    doesn't arise; this form stays EXACT at scale.

    The prefix bound is computed for ``threshold - 0.001`` in exact
    integer arithmetic, so pairs admitted by the oracle's round(j,4)
    edge (j >= t - 5e-5) are still guaranteed a shared prefix shingle.

    Verification joins each candidate pair to its two sorted shingle-set
    arrays and intersects them row-locally (array_intersect over 48-bit
    hashes) — exact, no re-shuffle of the exploded frame.

    ``collapse_exact`` (default on) runs the expensive path on DISTINCT
    texts only: byte-identical documents collapse to one representative
    (md5 groupBy), the prefix join + array verify run on representatives,
    and clone pairs are expanded back arithmetically — intra-group pairs
    at jaccard 1.0, each inter-group representative pair fanned to its
    member cross product with the SAME jaccard (Jaccard depends only on
    the text). Output is exactly equal; cost stops being quadratic in
    exact-clone clique size (measured: the 10x-clone sf1 corpus took
    224 s with verify arrays shipped per clone pair, vs the collapsed
    form where verify sees each distinct text once).

    ``cache`` (default on) PERSISTS the multiply-referenced subtrees
    (the per-doc shingle-set frame — referenced five times; the
    clone-group frame — four times). persist, deliberately NOT
    ``localCheckpoint``: an r11 attempt to bound residency with
    localCheckpoint (lazy and eager both) regressed this query 11 →
    118 s at sf1, caught by the bench — the checkpoint's LogicalRDD
    hides Catalyst stats, so the downstream consumers lose their
    broadcast joins (executed plans: 13 BroadcastHashJoin with
    persist's InMemoryRelation vs 5 over the checkpointed ExistingRDD
    scans; A/B: persist 20 s, lazy ckpt 129 s, eager ckpt 123 s, old
    code 17 s, same sf1 data). InMemoryRelation keeps stats AND
    re-optimizes per consumer; that is worth more here than bounded
    block residency. The residency trade that motivated the attempt
    stands: blocks live until the session clears them (the returned
    frame is lazy, so this function cannot unpersist) — a long-lived
    service session issuing many jaccard calls should
    ``spark.catalog.clearCache()`` between calls (the bench
    discipline) or pass ``cache=False`` and manage materialization
    itself; False trades ~5x recomputation (measured: 119 s vs 24 s
    at sf1) for zero cache residency.

    An Arrow sets build (per-doc hash arrays from one mapInArrow pass,
    dfreq + rank collect exploding the persisted LONG arrays) was
    measured at sf1 in r12 and REJECTED: min-of-3 prefix 13.3 vs
    12.8 s, contracted 15.2 vs 11.6 s — the dfreq/collect exchanges
    remain either way, and the Python boundary plus the extra
    doc-keyed hs/n join cost more than the saved codegen'd
    tokenize+md5 explode (unlike the MinHash signature pass, where the
    Arrow form deletes a whole exchange+24-min aggregate).
    """
    if collapse_exact:
        base = docs.select(
            F.col(id_col).cast("long").alias(id_col), F.col(text_col)
        )
        groups = (
            base.groupBy(F.md5(F.col(text_col)).alias("_md5"))
            .agg(
                F.sort_array(F.collect_list(F.col(id_col))).alias("_ids"),
                F.first(F.col(text_col)).alias(text_col),
            )
            .select(
                F.element_at("_ids", 1).alias(id_col), text_col, "_ids"
            )
        )
        if cache:
            # referenced 4x downstream (reps, expansion sides, intra);
            # persist, NOT localCheckpoint — the LogicalRDD would hide
            # stats and cost the consumers their broadcasts (docstring)
            from pyspark import StorageLevel

            groups = groups.persist(StorageLevel.MEMORY_AND_DISK)
        reps = groups.select(id_col, text_col)
        rep_pairs = jaccard_prefix_pairs(
            reps, id_col, text_col, k, threshold, collapse_exact=False,
            cache=cache,
        )
        sides = groups.select(F.col(id_col), F.col("_ids"))
        inter = (
            rep_pairs.join(
                sides.select(
                    F.col(id_col).alias("doc_a"), F.col("_ids").alias("_ia")
                ),
                "doc_a",
            )
            .join(
                sides.select(
                    F.col(id_col).alias("doc_b"), F.col("_ids").alias("_ib")
                ),
                "doc_b",
            )
            .select(
                F.explode("_ia").alias("_x"), F.col("_ib"), F.col("jaccard")
            )
            .select(
                "_x", F.explode("_ib").alias("_y"), "jaccard"
            )
            .select(
                F.least("_x", "_y").alias("doc_a"),
                F.greatest("_x", "_y").alias("doc_b"),
                "jaccard",
            )
        )
        # intra-group clone pairs: ids sorted, so (i, j>i) keeps a < b;
        # identical texts always have jaccard exactly 1.0 >= threshold
        intra = (
            groups.filter(F.size("_ids") > 1)
            .select(
                F.explode(
                    F.expr(
                        "flatten(transform(_ids, (a, i) -> "
                        "transform(slice(_ids, i + 2, size(_ids)), "
                        "b -> struct(a AS doc_a, b AS doc_b))))"
                    )
                ).alias("_p")
            )
            .select(
                F.col("_p.doc_a"),
                F.col("_p.doc_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        return inter.unionByName(intra)

    sh = _explode_shingle_hashes(docs, id_col, text_col, k)
    dfreq = sh.groupBy("h").agg(F.count("*").alias("df"))
    ranked = sh.join(dfreq, "h")
    # persisted: the plan references this frame FIVE times (both sides
    # of the prefix self-join, both verify sides, and through cand) —
    # unpersisted, Spark recomputes the explode+dfreq-join+collect
    # subtree per reference (measured at sf1: 119 s total vs 24 s with
    # the subtree materialized once; candidate gen is 4 s and verify
    # 7 s — the other ~95 s was pure recomputation). persist, NOT
    # localCheckpoint: the ckpt LogicalRDD hides stats and the five
    # consumers lose their broadcast joins — measured right back at
    # ~120 s (see the cache docstring note)
    # r13: ONE collect_list — the verify below intersects hs_ranked
    # directly (array_intersect hashes its inputs, so element ORDER is
    # irrelevant and the rank-sorted array is the same multiset the old
    # h-sorted `hs` column held; n_common is provably identical). The
    # dropped second collect halves the ObjectHashAggregate payload,
    # the persisted bytes, and the array bytes every verify join ships.
    # (r12 had rejected deriving `hs` by re-SORTING hs_ranked — the
    # interpreted array_sort cost more than the second collect; using
    # the array as-is has no such cost.)
    sets = ranked.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("df", "h"))),
            lambda s: s["h"],
        ).alias("hs_ranked"),
        F.count("*").alias("n"),
    )
    if cache:
        from pyspark import StorageLevel

        sets = sets.persist(StorageLevel.MEMORY_AND_DISK)
    # integer-exact prefix length for t' = (threshold*1000 - 1)/1000:
    # L = n - ceil(t'*n) + 1 = n - ((a*n + 999) div 1000) + 1
    a_num = int(round(threshold * 1000)) - 1
    # posexplode: the 1-based rank positions feed the PPJoin positional
    # filter below (r12) — the explode itself is unchanged
    prefix = sets.select(
        "doc_id",
        "n",
        F.posexplode(
            F.slice(
                "hs_ranked",
                1,
                (
                    F.col("n")
                    - ((F.col("n") * a_num + 999) / 1000).cast("long")
                    + 1
                ).cast("int"),
            )
        ).alias("p", "h"),
    ).withColumn("p", F.col("p") + 1)
    # PPJoin length filter fused into the candidate join: J(a,b) >= t
    # implies |smaller| >= t*|larger| (intersection <= |smaller|, union
    # >= |larger|) — exact-integer form at the same relaxed t', prunes
    # size-incompatible pairs before they ever materialize.
    #
    # r12: POSITIONAL filter (PPJoin's second pruning rule, Xiao et al.
    # 2008 §3.2, exact): per pair, take the smallest matched rank
    # positions (pa, pb). They both belong to the pair's MINIMAL common
    # shingle e* under the global (df, h) rank order — any common
    # element x matched by this prefix join is in both prefixes, and
    # e* <= x places e* at earlier positions in both sorted arrays, so
    # e* is matched too and attains both minima. Every other distinct
    # common value is > e*, occupying a position after pa (resp. pb),
    # so overlap <= 1 + min(n_a - pa, n_b - pb). A pair the verify
    # could keep needs o(1000 + a_num) >= a_num(n_a + n_b) (the same
    # relaxed-t' integer algebra as the prefix length), so candidates
    # whose bound fails are dropped WITHOUT the array intersection —
    # measured at sf1: 10.37M -> 3.20M verified candidates, output
    # identical (the full verify of the dropped 7.2M found 0 passing
    # pairs), full query 21.6 -> 12.1 s min-of-3. The groupBy replaces
    # the former .distinct() (same exchange, same pair set).
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least("a.n", "b.n") * 1000
                >= F.greatest("a.n", "b.n") * a_num
            ),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.min(F.col("a.p")).alias("_pa"),
            F.min(F.col("b.p")).alias("_pb"),
            F.min(F.col("a.n")).alias("_na"),
            F.min(F.col("b.n")).alias("_nb"),
        )
        .filter(
            (
                F.lit(1)
                + F.least(
                    F.col("_na") - F.col("_pa"), F.col("_nb") - F.col("_pb")
                )
            )
            * (1000 + a_num)
            >= a_num * (F.col("_na") + F.col("_nb"))
        )
        .select("doc_a", "doc_b")
    )
    sides = sets.select("doc_id", "hs_ranked", "n")
    return (
        cand.join(
            sides.select(
                F.col("doc_id").alias("doc_a"),
                F.col("hs_ranked").alias("hs_a"),
                F.col("n").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            sides.select(
                F.col("doc_id").alias("doc_b"),
                F.col("hs_ranked").alias("hs_b"),
                F.col("n").alias("n_b"),
            ),
            "doc_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("hs_a", "hs_b")))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_prefix_contracted(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.7,
    cache: bool = True,
) -> DataFrame:
    """CONTRACTED exact-Jaccard near-dup pairs: the prefix-filtered join
    of :func:`jaccard_prefix_pairs`, but the output stays at the
    DISTINCT-TEXT level — ``(doc_a, doc_b, jaccard, n_a, n_b)`` where
    ``doc_a``/``doc_b`` are clone-group representatives (min id per
    byte-identical text, ``doc_a < doc_b``) and ``n_a``/``n_b`` the
    group sizes, plus one ``(rep, rep, 1.0, m, m)`` row per clone group
    of size ``m > 1`` marking the intra-group clique.

    Expansion identity (the contract): the raw pair set of
    :func:`jaccard_prefix_pairs` is exactly the inter rows fanned out
    ``n_a × n_b`` ways through the two clone-group membership joins,
    union the intra rows' ``m·(m-1)/2`` within-group pairs at
    jaccard 1.0 — so ``sum(n_a*n_b) + sum(m*(m-1)/2)`` over this
    frame equals the expanded row count, and every expanded pair's
    jaccard is readable off its contracted row. Downstream consumers
    (cluster-then-survive, dedup stats) operate on exactly this
    value-level granularity — ``dedup_clusters``/``dedup_survivors``
    collapse the expansion right back: value pairs plus the clone-group
    membership are enough to label every row.

    Why it exists: the expanded form's output volume is quadratic in
    near-dup-clique size — the sf1 bench corpus (10× exact clones per
    text) pays ~100× output rows for 10× data, ~110 s of pure emission
    through the noop sink — while the contracted form's volume is the
    number of DISTINCT near-dup text pairs, which grows with corpus
    diversity, not clone multiplicity. At 100 TB (where boilerplate
    multiplicity is the norm: crawl dedup corpora routinely hold 1e3+
    copies per template) the contracted form is the only exact-pairs
    output that survives.
    """
    base = docs.select(
        F.col(id_col).cast("long").alias(id_col), F.col(text_col)
    )
    groups = (
        base.groupBy(F.md5(F.col(text_col)).alias("_md5"))
        .agg(
            F.min(F.col(id_col)).alias(id_col),
            F.first(F.col(text_col)).alias(text_col),
            F.count("*").alias("_m"),
        )
        .select(id_col, text_col, "_m")
    )
    if cache:
        # referenced 4x downstream (rep texts, both size joins, intra);
        # persist, NOT localCheckpoint — see jaccard_prefix_pairs'
        # cache note for the measured stats/broadcast regression
        from pyspark import StorageLevel

        groups = groups.persist(StorageLevel.MEMORY_AND_DISK)
    rep_pairs = jaccard_prefix_pairs(
        groups.select(id_col, text_col),
        id_col,
        text_col,
        k,
        threshold,
        collapse_exact=False,
        cache=cache,
    )
    sizes = groups.select(F.col(id_col), F.col("_m"))
    inter = (
        rep_pairs.join(
            sizes.select(
                F.col(id_col).alias("doc_a"), F.col("_m").alias("n_a")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col(id_col).alias("doc_b"), F.col("_m").alias("n_b")
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", "jaccard", "n_a", "n_b")
    )
    intra = groups.filter(F.col("_m") > 1).select(
        F.col(id_col).alias("doc_a"),
        F.col(id_col).alias("doc_b"),
        F.lit(1.0).alias("jaccard"),
        F.col("_m").alias("n_a"),
        F.col("_m").alias("n_b"),
    )
    return inter.unionByName(intra)
