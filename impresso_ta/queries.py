"""Query catalog: the package's dedup, text-analysis and
corpus-preparation operators, each entry with a Spark implementation and
a DuckDB oracle.

Contract (driver harness): every entry is ``(spark, sf_dir) -> DataFrame``
whose column names/types match the oracle SQL exactly — every computed
column is aliased identically on both sides, aggregates over doubles are
rounded so engine-order-of-summation differences can't flip the value
hash, and counts are cast to the same width.

Every entry runs ``impresso_ta`` code: a package operator applied to the
synthetic tables under ``sf_dir`` (mostly ``documents``), checked
against an independent DuckDB formulation of the same semantics. ``tools/preflight.py --static`` rejects an entry that
calls no package code, since its oracle match would test only Spark.
Engine-native operators (rebuild, importers) are additionally exercised
on canonical fixtures in tests/.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from impresso_ta.operators import dedup, text_analysis


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read nanos as long and convert.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def q(name: str, oracle: str | None, doc: str = ""):
    def wrap(fn):
        REGISTRY[name] = Query(fn=fn, oracle=oracle, doc=doc)
        return fn

    return wrap


# =====================================================================
# LLM-corpus operators: dedup / text analysis
# =====================================================================

@q(
    "dedup_exact",
    """
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           count(*) AS n_docs,
           min(doc_id) AS keep_id
    FROM documents GROUP BY 1
    """,
    "Exact dedup via content-hash groupBy",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(t(spark, sf_dir, "documents"))


_JACCARD_ORACLE = """
    WITH sh AS (
        SELECT doc_id,
               list_distinct([
                   w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                   for i in range(1, greatest(len(w) - 2, 1) + 1)
               ]) AS shingles
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
              FROM documents)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
                 (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
                (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles))), 4) >= {thr}
"""


@q(
    "dedup_ngram_jaccard",
    _JACCARD_ORACLE.format(thr=0.7),
    "Exact 3-gram Jaccard near-dup pairs (explode+join, no cross product)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_pairs(
        t(spark, sf_dir, "documents"), k=3, threshold=0.7
    )


@q(
    "dedup_jaccard_prefix",
    _JACCARD_ORACLE.format(thr=0.7),
    "EXACT Jaccard near-dup pairs via PREFIX FILTERING (AllPairs/PPJoin, "
    "Bayardo 2007): each doc's shingles globally ordered by rarity, only "
    "the first n-ceil(t*n)+1 generate candidates — two docs with J>=t "
    "provably share a prefix shingle, so recall is exact while a "
    "boilerplate shingle shared by 10^5 docs contributes NOTHING to the "
    "candidate join (the hot-shingle df^2 blowup that forces "
    "jaccard_pairs' exactness-trading cap never arises). Same oracle as "
    "dedup_ngram_jaccard — identical answers, scale-safe plan.",
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_prefix_pairs(
        t(spark, sf_dir, "documents"), k=3, threshold=0.7
    )


@q(
    "dedup_jaccard_contracted",
    """
    WITH g AS (
        SELECT min(doc_id)::BIGINT AS rep, count(*)::BIGINT AS m,
               any_value(text) AS text
        FROM documents GROUP BY md5(text)
    ),
    sh AS (
        SELECT rep, m,
               list_distinct([
                   w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                   for i in range(1, greatest(len(w) - 2, 1) + 1)
               ]) AS shingles
        FROM (SELECT rep, m, regexp_split_to_array(trim(text), '\\s+') AS w
              FROM g)
    ),
    inter AS (
        SELECT a.rep AS doc_a, b.rep AS doc_b,
               round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
                     (len(a.shingles) + len(b.shingles)
                      - len(list_intersect(a.shingles, b.shingles))),
                     4) AS jaccard,
               a.m AS n_a, b.m AS n_b
        FROM sh a JOIN sh b ON a.rep < b.rep
        WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
                    (len(a.shingles) + len(b.shingles)
                     - len(list_intersect(a.shingles, b.shingles))),
                    4) >= 0.7
    ),
    intra AS (
        SELECT rep AS doc_a, rep AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard,
               m AS n_a, m AS n_b
        FROM g WHERE m > 1
    )
    SELECT * FROM inter UNION ALL SELECT * FROM intra
    """,
    "CONTRACTED exact-Jaccard near-dup pairs (VERDICT r9 task 1): the "
    "prefix-filtered join of dedup_jaccard_prefix with output held at "
    "the DISTINCT-TEXT level — (rep_a, rep_b, jaccard, n_a, n_b) plus "
    "one (rep, rep, 1.0, m, m) clique row per exact-clone group — so "
    "output volume tracks distinct near-dup pairs, not the "
    "quadratic-in-clique-size expansion. The expansion identity "
    "(sum(n_a*n_b) + sum(m*(m-1)/2) = expanded pair count, same "
    "jaccard per fanned pair) makes it information-equivalent to the "
    "raw form; downstream cluster/survive consumers already operate "
    "at this granularity.",
)
def dedup_jaccard_contracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_prefix_contracted(
        t(spark, sf_dir, "documents"), k=3, threshold=0.7
    )


@q(
    "dedup_minhash_lsh",
    _JACCARD_ORACLE.format(thr=0.8),
    "MinHash-LSH (24 perm, 8 bands × 3 rows) + exact-Jaccard verify — "
    "recall at j≥0.8 is ≥1-3e-4 so the exact-Jaccard oracle matches",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        t(spark, sf_dir, "documents"),
        k=3,
        num_perm=24,
        bands=8,
        threshold=0.8,
    )


_SIMHASH_ORACLE = (
    "WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w"
    "           FROM documents),"
    " h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 4))::BIGINT AS h FROM w),"
    " bits AS (SELECT doc_id, "
    + ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(16)
    )
    + " FROM h GROUP BY doc_id)"
    " SELECT doc_id, CAST("
    + " + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    + " AS BIGINT) AS simhash FROM bits"
)


@q(
    "dedup_simhash",
    _SIMHASH_ORACLE,
    "16-bit SimHash fingerprints (per-bit majority vote over token hashes)",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash16(t(spark, sf_dir, "documents"))


@q(
    "text_quality",
    """
    SELECT doc_id,
           len(w)::BIGINT AS n_tokens,
           len(list_distinct(w))::BIGINT AS n_uniq_tokens,
           round(len(list_distinct(w))::DOUBLE / len(w), 4) AS uniq_ratio,
           round(list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w), 4)
               AS avg_token_len,
           round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE /
                 greatest(len(text), 1), 4) AS punct_ratio,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT
               AS n_bpe_tokens
    FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents)
    """,
    "Quality scoring: token stats, type/token ratio, punctuation ratio",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.quality_features(t(spark, sf_dir, "documents"))


@q(
    "text_langid",
    """
    WITH hits AS (
        SELECT doc_id, lang,
            len(regexp_extract_all(lower(text), '\\b(der|die|und|nicht|das)\\b')) AS hde,
            len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to)\\b')) AS hen,
            len(regexp_extract_all(lower(text), '\\b(el|la|que|los|una)\\b')) AS hes,
            len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b')) AS hfr,
            len(regexp_extract_all(text, '[一-鿿]')) AS cjk
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN cjk > 0 THEN 'zh'
                WHEN hde = 0 AND hen = 0 AND hes = 0 AND hfr = 0 THEN 'und'
                WHEN hde >= hen AND hde >= hes AND hde >= hfr THEN 'de'
                WHEN hen >= hes AND hen >= hfr THEN 'en'
                WHEN hes >= hfr THEN 'es'
                ELSE 'fr' END AS predicted_lang
    FROM hits
    """,
    "Heuristic language ID (stopword-marker argmax, deterministic ties)",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        text_analysis.lang_id(F.col("text")).alias("predicted_lang"),
    )


@q(
    "text_langid_accuracy",
    """
    WITH pred AS (
        SELECT lang,
            CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
                 WHEN len(regexp_extract_all(lower(text), '\\b(der|die|und|nicht|das)\\b')) = 0
                  AND len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to)\\b')) = 0
                  AND len(regexp_extract_all(lower(text), '\\b(el|la|que|los|una)\\b')) = 0
                  AND len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b')) = 0
                 THEN 'und'
                 WHEN len(regexp_extract_all(lower(text), '\\b(der|die|und|nicht|das)\\b'))
                      >= len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to)\\b'))
                  AND len(regexp_extract_all(lower(text), '\\b(der|die|und|nicht|das)\\b'))
                      >= len(regexp_extract_all(lower(text), '\\b(el|la|que|los|una)\\b'))
                  AND len(regexp_extract_all(lower(text), '\\b(der|die|und|nicht|das)\\b'))
                      >= len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b'))
                 THEN 'de'
                 WHEN len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to)\\b'))
                      >= len(regexp_extract_all(lower(text), '\\b(el|la|que|los|una)\\b'))
                  AND len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to)\\b'))
                      >= len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b'))
                 THEN 'en'
                 WHEN len(regexp_extract_all(lower(text), '\\b(el|la|que|los|una)\\b'))
                      >= len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b'))
                 THEN 'es'
                 ELSE 'fr' END AS predicted
        FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           sum(CASE WHEN predicted = lang THEN 1 ELSE 0 END)::BIGINT AS n_correct,
           round(sum(CASE WHEN predicted = lang THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 4) AS accuracy
    FROM pred GROUP BY lang
    """,
    "Classifier evaluation as a corpus op: language-ID accuracy per "
    "true label — the eval harness a pipeline runs when tuning a "
    "heuristic filter. One scan, one small aggregate.",
)
def text_langid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    correct = F.when(
        text_analysis.lang_id(F.col("text")) == F.col("lang"), 1
    ).otherwise(0)
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(correct).cast("long").alias("n_correct"),
        F.round(F.sum(correct).cast("double") / F.count("*"), 4).alias(
            "accuracy"
        ),
    )


@q(
    "token_count_stats",
    """
    SELECT source,
           CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
               AS total_tokens,
           round(avg(len(regexp_split_to_array(trim(text), '\\s+'))), 4)
               AS avg_tokens,
           count(*) AS n_docs
    FROM documents GROUP BY source
    """,
    "Token counting rolled up per source",
)
def token_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    n_tok = F.size(text_analysis.tokens(F.col("text")))
    return (
        d.select("source", n_tok.alias("n_tok"))
        .groupBy("source")
        .agg(
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
            F.count("*").alias("n_docs"),
        )
    )


@q(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
    "Per-document content fingerprint (rolling-hash analog, md5-based)",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text_analysis.rolling_fingerprint(F.col("text")).alias("fingerprint"),
    )


# ---------------------------------------------------------------------
# Public accessors (driver contract)
# ---------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: query.fn for name, query in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: query.oracle
        for name, query in REGISTRY.items()
        if query.oracle is not None
    }


# =====================================================================
# Shuffle skew: salted aggregation
# =====================================================================


@q(
    "a10_salted_skew_agg",
    """
    SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
           count(l_quantity) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    "Salted two-stage aggregation for skewed keys (SURVEY §7 risk 4) — "
    "identical semantics to the direct groupBy, hot key spread over 16 "
    "reducers",
)
def a10_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.skew import salted_agg

    li = t(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        ["l_returnflag"],
        salt_source="l_orderkey",
        n_salts=16,
        sum_qty=("sum", "l_quantity"),
        n=("count", "l_quantity"),
    )
    return out.select(
        "l_returnflag",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.col("n").cast("long").alias("n"),
    )


# =====================================================================
# Training-corpus export / curation (operators/corpus.py)
# =====================================================================

_MD5_48_SQL = "('0x' || substr(md5({x}), 1, 12))::BIGINT"


@q(
    "corpus_training_shards",
    f"""
    SELECT doc_id, shard,
           CAST(row_number() OVER (
               PARTITION BY shard ORDER BY ord, doc_id
           ) AS BIGINT) AS pos
    FROM (
        SELECT doc_id,
               CAST({_MD5_48_SQL.format(x="doc_id::VARCHAR")} % 8 AS INT) AS shard,
               {_MD5_48_SQL.format(x="doc_id::VARCHAR || ':pos'")} AS ord
        FROM documents
    )
    """,
    "Deterministic global shuffle into 8 training shards (row-local "
    "md5 assignment; re-runs are byte-identical)",
)
def corpus_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import training_shards

    return training_shards(t(spark, sf_dir, "documents"), n_shards=8)


@q(
    "corpus_pack_sequences",
    f"""
    WITH base AS (
        SELECT doc_id,
               CAST({_MD5_48_SQL.format(x="doc_id::VARCHAR")} % 4 AS INT) AS shard,
               {_MD5_48_SQL.format(x="doc_id::VARCHAR || ':pos'")} AS ord,
               len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT *, sum(n_tokens) OVER (
            PARTITION BY shard ORDER BY ord, doc_id ROWS UNBOUNDED PRECEDING
        ) AS c
        FROM base
    )
    SELECT doc_id, shard,
           CAST(floor((c - n_tokens) / 2000) AS BIGINT) AS block,
           n_tokens,
           (c - n_tokens) % 2000 AS block_offset
    FROM cum
    """,
    "Greedy contiguous sequence packing into 2000-token blocks per shard "
    "(context-window fill for training)",
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import pack_sequences

    return pack_sequences(
        t(spark, sf_dir, "documents"), budget=2000, n_shards=4
    )


@q(
    "corpus_pack_concat",
    f"""
    WITH base AS (
        SELECT doc_id,
               CAST({_MD5_48_SQL.format(x="doc_id::VARCHAR")} % 4 AS INT) AS shard,
               {_MD5_48_SQL.format(x="doc_id::VARCHAR || ':pos'")} AS ord,
               len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, shard, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY ord, doc_id
                   ROWS UNBOUNDED PRECEDING
               ) - n_tokens AS s
        FROM base
    ),
    pieces AS (
        SELECT doc_id, shard, s, n_tokens, b AS block
        FROM cum, unnest(range((s // 2000)::BIGINT,
                               ((s + n_tokens - 1) // 2000 + 1)::BIGINT)) AS t(b)
        WHERE n_tokens > 0
    )
    SELECT doc_id, shard, block,
           (greatest(s, block * 2000) - s)::BIGINT AS piece_start,
           (least(s + n_tokens, (block + 1) * 2000)
            - greatest(s, block * 2000))::BIGINT AS piece_len
    FROM pieces
    """,
    "GPT-style concatenate-then-chunk packing into exactly-full "
    "2000-token blocks: documents SPLIT across block boundaries — one "
    "(doc, block) piece per overlap, with the piece's in-document token "
    "offset and length (pack_sequences is the no-split greedy variant). "
    "Spark shape: the SAME single per-shard window cumsum, then the "
    "block range is a row-local sequence explode — no joins, no second "
    "shuffle; piece counts are ceil(n/budget)+1 max per doc.",
)
def corpus_pack_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import pack_sequences_concat

    return pack_sequences_concat(
        t(spark, sf_dir, "documents"), budget=2000, n_shards=4
    )


@q(
    "corpus_contamination",
    """
    WITH sh AS (
        SELECT doc_id,
               list_distinct([
                   w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                   for i in range(1, greatest(len(w) - 2, 1) + 1)
               ]) AS shingles
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
              FROM documents)
    ),
    bsh AS (
        SELECT doc_id AS bench_id, unnest(shingles) AS shingle
        FROM sh WHERE doc_id % 200 = 0
    ),
    tsh AS (
        SELECT DISTINCT unnest(shingles) AS shingle
        FROM sh WHERE doc_id % 200 <> 0
    )
    SELECT b.bench_id, count(*) AS n_shingles,
           count(t.shingle) AS n_contaminated,
           round(count(t.shingle)::DOUBLE / count(*), 4) AS containment
    FROM bsh b LEFT JOIN tsh t ON b.shingle = t.shingle
    GROUP BY b.bench_id
    """,
    "Benchmark decontamination screen: 3-shingle containment of each "
    "held-out doc in the training corpus (semi-join on distinct shingles)",
)
def corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import contamination

    d = t(spark, sf_dir, "documents")
    return contamination(
        d.filter(F.col("doc_id") % 200 != 0),
        d.filter(F.col("doc_id") % 200 == 0),
        k=3,
    )


@q(
    "corpus_contamination_bloom",
    """
    WITH sh AS (
        SELECT doc_id,
               list_distinct([
                   w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                   for i in range(1, greatest(len(w) - 2, 1) + 1)
               ]) AS shingles
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
              FROM documents)
    ),
    tpos AS (
        SELECT DISTINCT
               ('0x' || substr(md5(shingle || '#b' || CAST(i AS VARCHAR)),
                1, 12))::BIGINT % 262144 AS pos
        FROM (SELECT unnest(shingles) AS shingle
              FROM sh WHERE doc_id % 200 <> 0)
        CROSS JOIN range(0, 4) AS t(i)
    ),
    words AS (
        SELECT pos // 64 AS word,
               bit_or(CASE WHEN pos % 64 = 63 THEN -9223372036854775807 - 1
                      ELSE 1::BIGINT << CAST(pos % 64 AS INT) END) AS bits
        FROM tpos GROUP BY 1
    ),
    bsh AS (
        SELECT doc_id AS bench_id, unnest(shingles) AS shingle
        FROM sh WHERE doc_id % 200 = 0
    ),
    bpos AS (
        SELECT bench_id, shingle,
               ('0x' || substr(md5(shingle || '#b' || CAST(i AS VARCHAR)),
                1, 12))::BIGINT % 262144 AS pos
        FROM bsh CROSS JOIN range(0, 4) AS t(i)
    ),
    checked AS (
        SELECT bench_id, shingle,
               bool_and((coalesce(w.bits, 0)
                   & (CASE WHEN pos % 64 = 63 THEN -9223372036854775807 - 1
                      ELSE 1::BIGINT << CAST(pos % 64 AS INT) END)) <> 0) AS hit
        FROM bpos LEFT JOIN words w ON pos // 64 = w.word
        GROUP BY bench_id, shingle
    )
    SELECT bench_id, CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           round(sum(CASE WHEN hit THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
               AS containment
    FROM checked GROUP BY bench_id
    """,
    "Bloom-filtered decontamination screen (the 100 TB path): train "
    "shingles folded into a 2^18-bit broadcast bitmap via distributed "
    "bit_or, membership a row-local bit test — corpus never shuffled. "
    "md5-derived positions, so DuckDB reproduces the exact same false "
    "positives and the hashes must match bit-for-bit",
)
def corpus_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import contamination_bloom

    d = t(spark, sf_dir, "documents")
    return contamination_bloom(
        d.filter(F.col("doc_id") % 200 != 0),
        d.filter(F.col("doc_id") % 200 == 0),
        k=3,
        m_bits=1 << 18,
        k_hashes=4,
    )


@q(
    "j16_replicated_skew_join",
    """
    SELECT s_name, count(*) AS n_items,
           round(sum((round(l_quantity * 10000))::BIGINT) / 10000.0, 2)
               AS total_qty
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    """,
    "Replicated skew join (the explicit fallback when the small side "
    "is too big to broadcast AND AQE's skew split doesn't trigger): "
    "the big side gets a deterministic salt, the small side replicates "
    "n_salts x, the shuffle partitions on (key, salt) so a hot key "
    "lands on n_salts reducers instead of one. The oracle is the PLAIN "
    "join — identical rows by contract, here pinned through an "
    "aggregate (exact BIGINT quantity sums). Row counts per key are "
    "unchanged: replication multiplies only the build side, every big "
    "row still matches exactly once.",
)
def j16_replicated_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.skew import replicated_skew_join

    li = t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_quantity"
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    qty_i4 = F.round(F.col("l_quantity") * 10000, 0).cast("long")
    return (
        replicated_skew_join(li, s, key="l_suppkey", salt_source="l_orderkey")
        .groupBy("s_name")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(qty_i4) / 10000.0, 2).alias("total_qty"),
        )
    )


@q(
    "corpus_stratified_sample",
    f"""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY {_MD5_48_SQL.format(x="doc_id::VARCHAR || ':sample'")},
                            doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 20
    """,
    "Deterministic EXACT-n stratified sample (training-mix control / "
    "eval-set construction): 20 docs per language in reproducible md5 "
    "order, no rand() — exact per-stratum counts, unlike sampleBy's "
    "binomial draw. Spark shape: the salted two-stage window "
    "(topn_per_key_salted) — a hot stratum spreads over n_salts tasks "
    "in stage 1, the exact stage-2 window sees <= n*n_salts rows per "
    "stratum; no global sort, no single-task stratum.",
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import stratified_sample

    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(d, "lang", 20)


# Components of the J >= 0.7 pair graph as (node, min-id component).
# ``pairs`` is MATERIALIZED because ``edges`` reads it twice: inlined,
# DuckDB computes the shingle-pair Jaccard SQL once per reference, and
# that (not the recursion) is most of these oracles' time.
_COMPONENTS_CTES = (
    """
    WITH RECURSIVE pairs AS MATERIALIZED ("""
    + _JACCARD_ORACLE.format(thr=0.7)
    + """),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, label) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b
    ),
    comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node)"""
)

_CLUSTERS_ORACLE = (
    _COMPONENTS_CTES
    + """
    SELECT node AS doc_id, component,
           (count(*) OVER (PARTITION BY component))::BIGINT AS cluster_size,
           node = component AS is_rep
    FROM comp
    """
)


@q(
    "dedup_clusters",
    _CLUSTERS_ORACLE,
    "Near-dup clusters: connected components (one Arrow collect of "
    "the edge list, numpy union-find on the driver, size by bincount) "
    "over the 3-gram Jaccard pair list; canonical representative = min id. "
    "Oracle: DuckDB recursive CTE over the same pair SQL.",
)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.jaccard_pairs(
        t(spark, sf_dir, "documents"), k=3, threshold=0.7
    )
    return dedup.dedup_clusters(pairs)


@q(
    "text_repetition_stats",
    """
    WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
               FROM documents),
    grams AS (
        SELECT doc_id, 1 AS n, unnest(w) AS gram FROM w
        UNION ALL
        SELECT doc_id, 2, unnest([w[i] || ' ' || w[i+1]
                                  for i in range(1, greatest(len(w)-1,1)+1)])
        FROM w
        UNION ALL
        SELECT doc_id, 3, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, greatest(len(w)-2,1)+1)])
        FROM w
    ),
    counts AS (SELECT doc_id, n, gram, count(*) AS cnt FROM grams GROUP BY ALL)
    SELECT doc_id,
           round(max(CASE WHEN n=1 THEN cnt END)::DOUBLE
                 / sum(CASE WHEN n=1 THEN cnt END), 4) AS top_word_frac,
           round(coalesce(sum(CASE WHEN n=2 AND cnt>1 THEN cnt END), 0)::DOUBLE
                 / sum(CASE WHEN n=2 THEN cnt END), 4) AS dup_2gram_frac,
           round(coalesce(sum(CASE WHEN n=3 AND cnt>1 THEN cnt END), 0)::DOUBLE
                 / sum(CASE WHEN n=3 THEN cnt END), 4) AS dup_3gram_frac,
           (round(max(CASE WHEN n=1 THEN cnt END)::DOUBLE
                  / sum(CASE WHEN n=1 THEN cnt END), 4) <= 0.15
            AND round(coalesce(sum(CASE WHEN n=2 AND cnt>1 THEN cnt END), 0)::DOUBLE
                      / sum(CASE WHEN n=2 THEN cnt END), 4) <= 0.10
            AND round(coalesce(sum(CASE WHEN n=3 AND cnt>1 THEN cnt END), 0)::DOUBLE
                      / sum(CASE WHEN n=3 THEN cnt END), 4) <= 0.05) AS keep
    FROM counts GROUP BY doc_id
    """,
    "Gopher-style repetition quality filters: top-word fraction, "
    "duplicate 2-/3-gram occurrence fractions, keep flag. Zero shuffles: "
    "per-doc gram histograms fold row-locally (array_sort + aggregate "
    "run-length scan) inside whole-stage codegen.",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.repetition_features(t(spark, sf_dir, "documents"))


@q(
    "dedup_shingle_containment",
    """
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct([
                   w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                       || ' ' || w[i+4]
                   for i in range(1, greatest(len(w) - 4, 1) + 1)
               ])) AS shingle
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
              FROM documents)
    ),
    df AS (SELECT shingle, count(*) AS nd FROM sh GROUP BY 1),
    per AS (
        SELECT s.doc_id, count(*) AS n_shingles,
               sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS n_dup
        FROM sh s JOIN df d USING (shingle) GROUP BY 1
    )
    SELECT doc_id, n_shingles::BIGINT AS n_shingles,
           round(n_dup::DOUBLE / n_shingles, 4) AS dup_shingle_frac,
           (round(n_dup::DOUBLE / n_shingles, 4) <= 0.5) AS keep
    FROM per
    """,
    "Per-doc duplicated-shingle fraction (shingle-granular containment, "
    "the equi-join recast of exact-substring dedup): df groupBy on 48-bit "
    "hashes + join back on the same key, one doc-keyed aggregate.",
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.duplicated_shingle_fraction(
        t(spark, sf_dir, "documents"), k=5, drop_above=0.5
    )


@q(
    "corpus_vocabulary",
    """
    WITH w AS (SELECT doc_id,
                      unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
               FROM documents),
    per AS (SELECT word, doc_id, count(*) AS tf_doc FROM w GROUP BY 1, 2)
    SELECT word, sum(tf_doc)::BIGINT AS tf, count(*)::BIGINT AS df
    FROM per GROUP BY word
    ORDER BY tf DESC, word ASC LIMIT 50
    """,
    "Corpus vocabulary: top-50 words by term frequency with document "
    "frequency. Two-stage aggregate so the shuffle carries one row per "
    "(word, doc); top-k is a TakeOrdered over the word-level aggregate.",
)
def corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import vocabulary

    return vocabulary(t(spark, sf_dir, "documents"), top_k=50)


@q(
    "dedup_survivor_stats",
    _COMPONENTS_CTES
    + """,
    drops AS (SELECT node FROM comp WHERE node <> component)
    SELECT source, count(*)::BIGINT AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS first_id
    FROM documents WHERE doc_id NOT IN (SELECT node FROM drops)
    GROUP BY source
    """,
    "End-to-end dedup pass: Jaccard pairs -> connected components -> "
    "drop non-representatives -> per-source survivor stats. Corpus "
    "anti-joined once on the id key (AQE picks broadcast when the drop "
    "list is small).",
)
def dedup_survivor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, k=3, threshold=0.7)
    return (
        dedup.dedup_survivors(docs, pairs)
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("first_id"),
        )
    )


@q(
    "corpus_temperature_mix",
    """
    WITH c AS (SELECT lang, count(*) AS n_d FROM documents GROUP BY 1),
    w AS (SELECT lang, n_d, pow(n_d::DOUBLE, 0.5) AS w_d FROM c),
    p AS (SELECT lang,
                 round(least(1.0,
                       200.0 * w_d / (SELECT sum(w_d) FROM w) / n_d), 9) AS p_d
          FROM w)
    SELECT d.lang, count(*)::BIGINT AS n_sampled, min(d.doc_id) AS first_id
    FROM documents d JOIN p USING (lang)
    WHERE ('0x' || substr(md5(d.lang || ':' || d.doc_id::VARCHAR), 1, 12))::BIGINT
          / 281474976710656.0 < p_d
    GROUP BY d.lang
    """,
    "Temperature-based domain mixing (alpha=0.5, target 200): per-lang "
    "keep probability follows n^alpha (flattens toward rare languages); "
    "membership is a row-local md5-uniform threshold — zero corpus "
    "shuffle, fully deterministic.",
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import temperature_sample

    return (
        temperature_sample(
            t(spark, sf_dir, "documents"),
            alpha=0.5,
            target_rows=200,
            domain_col="lang",
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_sampled"),
            F.min("doc_id").alias("first_id"),
        )
    )


@q(
    "dedup_line_spans",
    r"""
    WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
               FROM documents),
    spans AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(w[((i-1)*10+1):least(i*10, len(w))], ' ') AS span
        FROM w, unnest(range(1, CAST(ceil(len(w)/10.0) AS BIGINT) + 1)) AS t(i)
    ),
    hashed AS (SELECT doc_id, pos, span,
                      ('0x' || substr(md5(span), 1, 12))::BIGINT AS h
               FROM spans),
    ranked AS (SELECT *, row_number() OVER (
                   PARTITION BY h ORDER BY doc_id, pos) AS rn
               FROM hashed)
    SELECT doc_id, count(*)::BIGINT AS n_spans,
           sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           md5(coalesce(string_agg(CASE WHEN rn = 1 THEN span END,
                                   ' ' ORDER BY pos), '')) AS kept_fp
    FROM ranked GROUP BY doc_id
    """,
    "Corpus-wide exact line dedup (C4/RefinedWeb 'keep first occurrence "
    "of every duplicated line' over 10-word spans): first occurrence via "
    "groupBy(h).min(struct(doc,pos)) — map-side combine absorbs "
    "boilerplate hot spans, no window over a skewed key.",
)
def dedup_line_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.line_dedup(t(spark, sf_dir, "documents"), span_words=10)


# C4 filter thresholds shared by the Spark op defaults and the oracle SQL.
_C4_KEEP_SQL = (
    "(len(w) >= 20 AND len(w) <= 100000 "
    "AND round(list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w), 4) "
    "BETWEEN 3.0 AND 10.0 "
    "AND round(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE "
    "/ len(w), 4) >= 0.8)"
)


@q(
    "text_c4_filters",
    f"""
    SELECT doc_id, len(w)::BIGINT AS n_words,
           round(list_sum(list_transform(w, x -> len(x)))::DOUBLE
                 / len(w), 4) AS mean_word_len,
           round(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                 / len(w), 4) AS alpha_frac,
           (contains(lower(text), 'lorem ipsum')
            OR contains(lower(text), 'javascript')
            OR contains(lower(text), 'cookie policy')
            OR contains(lower(text), '{{')) AS has_blacklist,
           ({_C4_KEEP_SQL}
            AND NOT (contains(lower(text), 'lorem ipsum')
                     OR contains(lower(text), 'javascript')
                     OR contains(lower(text), 'cookie policy')
                     OR contains(lower(text), '{{'))) AS keep
    FROM (SELECT doc_id, text,
                 regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents)
    """,
    "C4-style heuristic document filters (word-count bounds, mean word "
    "length, alphabetic-word fraction, boilerplate blacklist) — one "
    "codegen'd scan, zero shuffle.",
)
def text_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.c4_filters(t(spark, sf_dir, "documents"))


@q(
    "text_lm_perplexity",
    r"""
    WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
               FROM documents),
    grams AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
                     for i in range(1, greatest(len(w)-1,1)+1)]) AS g
              FROM w),
    bc AS (SELECT g, count(*) AS c2 FROM grams GROUP BY 1),
    lc AS (SELECT split_part(g, ' ', 1) AS w1, sum(c2) AS c1
           FROM bc GROUP BY 1),
    v AS (SELECT count(DISTINCT word) AS v
          FROM (SELECT unnest(w) AS word FROM w)),
    model AS (SELECT g, -ln((c2 + 1)::DOUBLE / (c1 + v)) AS nll
              FROM bc JOIN lc ON split_part(bc.g, ' ', 1) = lc.w1
              CROSS JOIN v)
    SELECT doc_id, count(*)::BIGINT AS n_bigrams,
           round(avg(nll), 4) AS avg_nll
    FROM grams JOIN model USING (g) GROUP BY doc_id
    """,
    "Statistical-LM quality score (CCNet/KenLM idea, corpus-trained "
    "add-one word-bigram model): per-doc mean negative log-likelihood. "
    "Model estimation is vocabulary-sized (map-side-combined bigram "
    "counts), scoring an equi-join on the bigram key.",
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.bigram_lm_scores(t(spark, sf_dir, "documents"))


@q(
    "corpus_epoch_upsample",
    """
    WITH r AS (
        SELECT doc_id, lang,
               CASE lang WHEN 'de' THEN 3.0 WHEN 'en' THEN 0.5
                         WHEN 'fr' THEN 2.5 ELSE 1.0 END AS w,
               ('0x' || substr(md5('epoch:' || lang || ':' || doc_id::VARCHAR),
                               1, 12))::BIGINT / 281474976710656.0 AS u
        FROM documents
    ),
    n AS (SELECT doc_id, lang,
                 CAST(floor(w) AS INT)
                 + CASE WHEN u < round(w - floor(w), 9) THEN 1 ELSE 0 END
                 AS n_copies
          FROM r)
    SELECT doc_id, lang, CAST(e AS INT) AS epoch
    FROM n, unnest(range(1, n_copies + 1)) AS t(e)
    WHERE n_copies > 0
    """,
    "Deterministic epoch-based upsampling (Muennighoff et al. 2023): "
    "domain weight w → ⌊w⌋ copies per doc + md5-uniform fractional "
    "epoch; expected copies = w exactly. Zero shuffle — literal weight "
    "map, row-local membership, map-side explode.",
)
def corpus_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import epoch_upsample

    return epoch_upsample(
        t(spark, sf_dir, "documents"),
        weights={"de": 3.0, "en": 0.5, "fr": 2.5},
        domain_col="lang",
    ).select("doc_id", "lang", "epoch")


@q(
    "corpus_snapshot_diff",
    """
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
               text
        FROM documents
    ),
    old AS (SELECT doc_id, fp FROM fp WHERE doc_id % 10 <> 0),
    new AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN md5(regexp_replace(lower(trim(text || ' v2')),
                                            '\\s+', ' ', 'g'))
                    ELSE fp END AS fp
        FROM fp WHERE doc_id % 7 <> 0
    )
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.doc_id IS NULL THEN 'added'
                WHEN new.doc_id IS NULL THEN 'removed'
                WHEN old.fp = new.fp THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    """,
    "Corpus snapshot delta (incremental-crawl bookkeeping): classify "
    "ids as added/removed/changed/unchanged by content fingerprint — "
    "one full-outer join on the uniform id key.",
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import snapshot_diff

    docs = t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new)


@q(
    "text_language_consistency",
    r"""
    WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
               FROM documents),
    spans AS (
        SELECT doc_id,
               array_to_string(w[((i-1)*20+1):least(i*20, len(w))], ' ') AS span
        FROM w, unnest(range(1, CAST(ceil(len(w)/20.0) AS BIGINT) + 1)) AS t(i)
    ),
    langs AS (
        SELECT doc_id,
               CASE WHEN len(regexp_extract_all(span, '[一-鿿]')) > 0 THEN 'zh'
                    WHEN hde = 0 AND hen = 0 AND hes = 0 AND hfr = 0 THEN 'und'
                    WHEN hde >= hen AND hde >= hes AND hde >= hfr THEN 'de'
                    WHEN hen >= hes AND hen >= hfr THEN 'en'
                    WHEN hes >= hfr THEN 'es'
                    ELSE 'fr' END AS span_lang
        FROM (
            SELECT doc_id, span,
                len(regexp_extract_all(lower(span), '\b(der|die|und|nicht|das)\b')) AS hde,
                len(regexp_extract_all(lower(span), '\b(the|and|of|is|to)\b')) AS hen,
                len(regexp_extract_all(lower(span), '\b(el|la|que|los|una)\b')) AS hes,
                len(regexp_extract_all(lower(span), '\b(le|la|et|les|des)\b')) AS hfr
            FROM spans
        )
    ),
    counts AS (SELECT doc_id, span_lang, count(*) AS n
               FROM langs GROUP BY 1, 2),
    ranked AS (
        SELECT doc_id, span_lang, n,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY n DESC, span_lang ASC) AS rn,
               sum(n) OVER (PARTITION BY doc_id) AS n_spans
        FROM counts
    )
    SELECT doc_id, span_lang AS majority_lang, n_spans::BIGINT AS n_spans,
           round(n::DOUBLE / n_spans, 4) AS majority_frac,
           (round(n::DOUBLE / n_spans, 4) < 0.8) AS is_mixed
    FROM ranked WHERE rn = 1
    """,
    "Mixed-language / code-switching detection: span-level language ID "
    "(20-word spans), per-doc majority language + share, is_mixed below "
    "0.8 — flags what a whole-doc vote hides. Uniformly-keyed span "
    "count, doc-keyed argmax over ≤n_languages rows.",
)
def text_language_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.language_consistency(t(spark, sf_dir, "documents"))


@q(
    "text_normalize",
    """
    WITH noisy AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 4 = 0
                            THEN '  “q” ' || chr(9) || ' —x'
                            ELSE '' END
                    || CASE WHEN doc_id % 3 = 0
                            THEN chr(7) || ' ‘y’' ELSE '' END AS text
        FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(
               translate(regexp_replace(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
                         '‘’“”–—',
                         $$''""--$$),
               '\\s+', ' ', 'g')) AS text,
           (trim(regexp_replace(
               translate(regexp_replace(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
                         '‘’“”–—',
                         $$''""--$$),
               '\\s+', ' ', 'g')) <> text) AS changed,
           md5(trim(regexp_replace(
               translate(regexp_replace(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
                         '‘’“”–—',
                         $$''""--$$),
               '\\s+', ' ', 'g'))) AS clean_fp
    FROM noisy
    """,
    "Deterministic text normalization (ftfy-lite): strip control chars, "
    "fold curly quotes/dashes, collapse whitespace — the pass that keeps "
    "byte noise from defeating exact fingerprints. Noise injected "
    "doc_id-deterministically for verifiability; zero shuffle.",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    noisy = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.lit("  “q” \t —x"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("\x07 ‘y’")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return text_analysis.normalized_docs(noisy)


@q(
    "text_quality_outliers",
    r"""
    WITH f AS (
        SELECT doc_id, len(w)::DOUBLE AS nt,
               round(list_sum(list_transform(w, x -> len(x)))::DOUBLE
                     / len(w), 4) AS atl
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
              FROM documents)
    ),
    s AS (SELECT avg(nt) AS m_nt, stddev_samp(nt) AS s_nt,
                 avg(atl) AS m_atl, stddev_samp(atl) AS s_atl FROM f)
    SELECT doc_id,
           round((nt - m_nt) / nullif(s_nt, 0), 4) AS z_tokens,
           round((atl - m_atl) / nullif(s_atl, 0), 4) AS z_token_len,
           coalesce(abs(round((nt - m_nt) / nullif(s_nt, 0), 4)) > 3.0
                    OR abs(round((atl - m_atl) / nullif(s_atl, 0), 4)) > 3.0,
                    false) AS is_outlier
    FROM f CROSS JOIN s
    """,
    "Distribution-based quality outliers: per-doc z-scores of token "
    "count and mean token length vs the corpus — the corpus-relative "
    "complement to fixed-threshold gates. One single-row stats "
    "aggregate broadcast back; corpus never shuffled by key.",
)
def text_quality_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.quality_outliers(t(spark, sf_dir, "documents"))


@q(
    "corpus_split_assign",
    """
    SELECT doc_id,
           CASE WHEN u < 0.8 THEN 'train'
                WHEN u < 0.9 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 12))::BIGINT
                 / 281474976710656.0 AS u
          FROM documents)
    """,
    "Deterministic hash-based train/val/test split (80/10/10): "
    "membership depends only on the id, so a growing crawl's validation "
    "set stays stable across runs, engines, and corpus subsets. Zero "
    "shuffle.",
)
def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import deterministic_split

    return deterministic_split(
        t(spark, sf_dir, "documents"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    ).select("doc_id", "split")


@q(
    "text_quality_scorecard",
    f"""
    WITH base AS (SELECT doc_id, text, n_chars,
                         regexp_split_to_array(trim(text), '\\s+') AS w
                  FROM documents),
    c4 AS (SELECT doc_id,
                  ({_C4_KEEP_SQL}
                   AND NOT (contains(lower(text), 'lorem ipsum')
                            OR contains(lower(text), 'javascript')
                            OR contains(lower(text), 'cookie policy')
                            OR contains(lower(text), '{{'))) AS keep_c4
           FROM base),
    grams AS (
        SELECT doc_id, 1 AS n, unnest(w) AS gram FROM base
        UNION ALL
        SELECT doc_id, 2, unnest([w[i] || ' ' || w[i+1]
                                  for i in range(1, greatest(len(w)-1,1)+1)])
        FROM base
        UNION ALL
        SELECT doc_id, 3, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, greatest(len(w)-2,1)+1)])
        FROM base
    ),
    gcounts AS (SELECT doc_id, n, gram, count(*) AS cnt
                FROM grams GROUP BY ALL),
    gopher AS (
        SELECT doc_id,
               (round(max(CASE WHEN n=1 THEN cnt END)::DOUBLE
                      / sum(CASE WHEN n=1 THEN cnt END), 4) <= 0.15
                AND round(coalesce(sum(CASE WHEN n=2 AND cnt>1 THEN cnt END), 0)::DOUBLE
                          / sum(CASE WHEN n=2 THEN cnt END), 4) <= 0.10
                AND round(coalesce(sum(CASE WHEN n=3 AND cnt>1 THEN cnt END), 0)::DOUBLE
                          / sum(CASE WHEN n=3 THEN cnt END), 4) <= 0.05) AS keep_gopher
        FROM gcounts GROUP BY doc_id
    ),
    fp AS (
        SELECT doc_id,
               row_number() OVER (
                   PARTITION BY md5(regexp_replace(lower(trim(text)),
                                                   '\\s+', ' ', 'g'))
                   ORDER BY doc_id) = 1 AS keep_unique
        FROM base
    )
    SELECT b.doc_id, c4.keep_c4, g.keep_gopher, fp.keep_unique,
           (n_chars BETWEEN 100 AND 1000000) AS keep_length,
           (c4.keep_c4 AND g.keep_gopher AND fp.keep_unique
            AND n_chars BETWEEN 100 AND 1000000) AS keep
    FROM base b
    JOIN c4 USING (doc_id) JOIN gopher g USING (doc_id)
    JOIN fp USING (doc_id)
    """,
    "Per-document quality scorecard: the C4, Gopher-repetition, "
    "exact-uniqueness and length gates as separate boolean columns plus "
    "the conjoined keep — the audit view a data team filters on and "
    "debugs with (WHY was this dropped). One pass per signal family, "
    "all uniformly keyed.",
)
def text_quality_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All signal families are row-local, so the whole scorecard is ONE
    # scan + ONE shuffle (the uniqueness window on the fingerprint) —
    # no self-joins of per-signal sub-frames. r12: the row-local part
    # (both keep predicates + the md5 fingerprint) runs as one Arrow
    # batch pass (text_arrow.scorecard_flags_arrow, guide §4.2 — the
    # JVM form's per-token work was interpreted HOF lambdas); the
    # window stays JVM-side. Values bit-identical (oracle-pinned).
    from impresso_ta.operators.text_arrow import scorecard_flags_arrow

    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("_fp").orderBy("doc_id")
    return (
        scorecard_flags_arrow(docs, extra_cols=("n_chars",))
        .select(
            "doc_id",
            "keep_c4",
            "keep_gopher",
            "_fp",
            F.col("n_chars").between(100, 1_000_000).alias("keep_length"),
        )
        .withColumn("keep_unique", F.row_number().over(w) == 1)
        .select(
            "doc_id",
            "keep_c4",
            "keep_gopher",
            "keep_unique",
            "keep_length",
            (
                F.col("keep_c4")
                & F.col("keep_gopher")
                & F.col("keep_unique")
                & F.col("keep_length")
            ).alias("keep"),
        )
    )


@q(
    "text_doc_vectors",
    r"""
    WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
               FROM documents),
    bc AS (SELECT doc_id,
                  ('0x' || substr(md5(word), 1, 12))::BIGINT % 64 AS bucket,
                  count(*) AS c
           FROM w GROUP BY 1, 2),
    n AS (SELECT doc_id, sqrt(sum(c * c)) AS nrm FROM bc GROUP BY 1),
    grid AS (SELECT doc_id, i AS bucket
             FROM (SELECT DISTINCT doc_id FROM bc), unnest(range(0, 64)) AS t(i)),
    filled AS (SELECT g.doc_id, g.bucket, coalesce(c, 0) AS c
               FROM grid g LEFT JOIN bc USING (doc_id, bucket))
    SELECT doc_id,
           list(round(c::DOUBLE / nrm, 6) ORDER BY bucket) AS vector
    FROM filled JOIN n USING (doc_id) GROUP BY doc_id
    """,
    "Feature-hashed bag-of-words document vectors (hashing trick, "
    "L2-normalized, dim=64): an ML-free text embedding. Uniform md5 "
    "bucket key, map-side combine, one doc-keyed assembly aggregate.",
)
def text_doc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.hashed_doc_vectors(t(spark, sf_dir, "documents"))


@q(
    "corpus_token_budget_select",
    r"""
    WITH base AS (
        SELECT doc_id, source,
               len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS ntok,
               (round(n_chars * 1e6))::BIGINT AS si
        FROM documents),
    rng AS (SELECT min(si) AS mn, max(si) AS mx FROM base),
    b AS (SELECT doc_id, source, ntok,
                 ((si - mn) * 10000) // (mx - mn + 1) AS bk
          FROM base, rng),
    hist AS (SELECT bk, sum(ntok) AS t FROM b GROUP BY 1),
    cum AS (SELECT bk, sum(t) OVER (ORDER BY bk DESC
                                    ROWS UNBOUNDED PRECEDING) AS c
            FROM hist),
    cut AS (SELECT coalesce(min(bk) FILTER (WHERE c <= 10000), 10001) AS k
            FROM cum)
    SELECT doc_id, source FROM b, cut WHERE bk >= k
    """,
    "Token-budget corpus selection (the data-mixing cut: fill a 10k-"
    "token budget with the highest-scoring docs — n_chars as the "
    "score here): the naive global sort + running cumsum is a single-"
    "task window at crawl scale, so the cut is BUCKETIZED — scores "
    "integer-bucketed into 10k equal-width cells (pure integer "
    "arithmetic, engine-exact), per-bucket token sums in one map-side "
    "aggregate, top-down cumsum + cutoff on the ≤10k-row model frame, "
    "selection as a row-local filter with the one-row cutoff "
    "broadcast. Whole buckets kept → achieved ≤ budget within one "
    "bucket's token mass.",
)
def corpus_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import token_budget_select

    d = t(spark, sf_dir, "documents")
    return token_budget_select(
        d, token_budget=10_000, score_col="n_chars"
    ).select("doc_id", "source")


@q(
    "corpus_distribution_drift",
    r"""
    WITH old_w AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        FROM documents WHERE doc_id % 2 = 0
    ),
    new_w AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        FROM documents WHERE doc_id % 2 = 1
    ),
    co AS (SELECT word, count(*) AS c_old FROM old_w GROUP BY 1),
    cn AS (SELECT word, count(*) AS c_new FROM new_w GROUP BY 1),
    m AS (SELECT coalesce(co.word, cn.word) AS word,
                 coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
          FROM co FULL OUTER JOIN cn ON co.word = cn.word),
    tot AS (SELECT sum(c_old) AS t_old, sum(c_new) AS t_new,
                   count(*) AS v FROM m)
    SELECT word, c_old::BIGINT AS c_old, c_new::BIGINT AS c_new,
           round((c_old + 1) / (t_old + v), 6) AS p_old,
           round((c_new + 1) / (t_new + v), 6) AS p_new,
           round(((c_new + 1) / (t_new + v))
                 * ln(((c_new + 1) / (t_new + v))
                      / ((c_old + 1) / (t_old + v))), 6) AS kl_term
    FROM m CROSS JOIN tot
    ORDER BY c_old + c_new DESC, word ASC LIMIT 40
    """,
    "Word-distribution drift between corpus snapshots: smoothed "
    "p_old/p_new and per-word KL(new‖old) contributions for the top-40 "
    "words — crawl-quality monitoring. Vocabulary-sized full-outer "
    "join, one-row totals broadcast, TakeOrdered top-k.",
)
def corpus_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import distribution_drift

    docs = t(spark, sf_dir, "documents")
    return distribution_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        top_k=40,
    )


@q(
    "corpus_prepare_pipeline",
    f"""
    WITH base AS (SELECT doc_id, text, lang,
                         regexp_split_to_array(trim(text), '\\s+') AS w
                  FROM documents),
    c4 AS (
        SELECT doc_id, text, lang, w FROM base
        WHERE {_C4_KEEP_SQL}
          AND NOT (contains(lower(text), 'lorem ipsum')
                   OR contains(lower(text), 'javascript')
                   OR contains(lower(text), 'cookie policy')
                   OR contains(lower(text), '{{'))
    ),
    grams AS (
        SELECT doc_id, 1 AS n, unnest(w) AS gram FROM c4
        UNION ALL
        SELECT doc_id, 2, unnest([w[i] || ' ' || w[i+1]
                                  for i in range(1, greatest(len(w)-1,1)+1)])
        FROM c4
        UNION ALL
        SELECT doc_id, 3, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, greatest(len(w)-2,1)+1)])
        FROM c4
    ),
    gcounts AS (SELECT doc_id, n, gram, count(*) AS cnt
                FROM grams GROUP BY ALL),
    gopher AS (
        SELECT doc_id FROM gcounts GROUP BY doc_id
        HAVING round(max(CASE WHEN n=1 THEN cnt END)::DOUBLE
                     / sum(CASE WHEN n=1 THEN cnt END), 4) <= 0.15
           AND round(coalesce(sum(CASE WHEN n=2 AND cnt>1 THEN cnt END), 0)::DOUBLE
                     / sum(CASE WHEN n=2 THEN cnt END), 4) <= 0.10
           AND round(coalesce(sum(CASE WHEN n=3 AND cnt>1 THEN cnt END), 0)::DOUBLE
                     / sum(CASE WHEN n=3 THEN cnt END), 4) <= 0.05
    ),
    filtered AS (SELECT c4.* FROM c4 JOIN gopher USING (doc_id)),
    exact AS (
        SELECT doc_id, text, lang FROM (
            SELECT doc_id, text, lang,
                   row_number() OVER (
                       PARTITION BY md5(regexp_replace(lower(trim(text)),
                                                       '\\s+', ' ', 'g'))
                       ORDER BY doc_id
                   ) AS rn
            FROM filtered
        ) WHERE rn = 1
    ),
    c AS (SELECT lang, count(*) AS n_d FROM exact GROUP BY 1),
    tw AS (SELECT lang, n_d, pow(n_d::DOUBLE, 0.5) AS w_d FROM c),
    p AS (SELECT lang,
                 round(least(1.0,
                       150.0 * w_d / (SELECT sum(w_d) FROM tw) / n_d), 9) AS p_d
          FROM tw)
    SELECT d.lang, count(*)::BIGINT AS n_docs, min(d.doc_id) AS first_id,
           CAST(sum(len(regexp_split_to_array(trim(d.text), '\\s+'))) AS BIGINT)
               AS total_words
    FROM exact d JOIN p USING (lang)
    WHERE ('0x' || substr(md5(d.lang || ':' || d.doc_id::VARCHAR), 1, 12))::BIGINT
          / 281474976710656.0 < p_d
    GROUP BY d.lang
    """,
    "End-to-end corpus-preparation pipeline (C4 filters → Gopher "
    "repetition filters → exact dedup keep-min-id → temperature mix "
    "α=0.5 target 150) with per-language survivor stats — the composed "
    "program every stage oracle covers individually, checked end-to-end.",
)
def corpus_prepare_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.pipeline import prepare_corpus

    res = prepare_corpus(
        t(spark, sf_dir, "documents"),
        c4=True,
        gopher=True,
        line_spans=None,  # oracle variant: exact doc dedup only
        doc_dedup=False,
        temperature_alpha=None,
    )
    cur = res.docs
    # exact dedup: keep the min-id representative of each fingerprint
    fp = dedup.text_fingerprint(F.col("text"))
    w = Window.partitionBy(fp).orderBy("doc_id")
    exact = (
        cur.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        # temperature_sample consumes this frame twice (domain-count
        # aggregate + membership filter); prepare_corpus returned no
        # persist boundary here (doc_dedup/line_spans/temperature all
        # off), so without this the c4+gopher fold stack and the dedup
        # window would re-execute per branch. MEMORY_AND_DISK: spills
        # rather than evicting at corpus scale.
        .persist()
    )
    from impresso_ta.operators.corpus import temperature_sample

    mixed = temperature_sample(
        exact, alpha=0.5, target_rows=150, domain_col="lang"
    )
    return mixed.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("doc_id").alias("first_id"),
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
        .alias("total_words"),
    )


@q(
    "dedup_incremental_lsh",
    r"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([
                   w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                   for i in range(1, greatest(len(w) - 2, 1) + 1)
               ]) AS shingles
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
              FROM documents)
    ),
    dups AS (
        SELECT DISTINCT n.doc_id
        FROM sh n JOIN sh e
          ON n.doc_id % 2 = 1 AND e.doc_id % 2 = 0
        WHERE round(len(list_intersect(n.shingles, e.shingles))::DOUBLE /
                    (len(n.shingles) + len(e.shingles)
                     - len(list_intersect(n.shingles, e.shingles))), 4) >= 0.8
    )
    SELECT d.doc_id, d.lang FROM documents d
    WHERE d.doc_id % 2 = 1
      AND d.doc_id NOT IN (SELECT doc_id FROM dups)
    """,
    "Incremental near-dup gate: an incoming batch (odd doc_ids) probes "
    "the already-ingested corpus (even doc_ids) through the SAME "
    "MinHash band tables — candidate work proportional to the batch, "
    "not the corpus (existing signatures are computed once and stored "
    "bucketed by band hash in production); exact-Jaccard verify on "
    "colliding pairs only. The near-dup generalization of the "
    "reference's exact-id incremental anti-join (F3/J1). LSH recall at "
    "j≥0.8 is ≥1-3e-4, so the exact-Jaccard oracle matches.",
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    survivors = dedup.incremental_minhash_dedup(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        threshold=0.8,
    )
    return survivors.select("doc_id", "lang")


def _minhash_survivors_oracle() -> str:
    """DuckDB twin of minhash_dedup_survivors: same shingles, same
    affine permutations (constants inlined), same band md5s, bucket-min
    star edges, recursive min-label components, singletons re-joined."""
    m = 2147483647
    mh = ", ".join(
        f"min(({2 * i + 1} * h + {104729 * (i + 1) % m}) % {m}) AS mh{i}"
        for i in range(24)
    )
    bands = ", ".join(
        "md5(" + " || '-' || ".join(
            f"mh{b * 3 + r}::VARCHAR" for r in range(3)
        ) + f") AS bh{b}"
        for b in range(8)
    )
    unions = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, bh{b} AS bh FROM banded"
        for b in range(8)
    )
    return f"""
    WITH RECURSIVE w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
    sh AS (
        SELECT doc_id, unnest(list_distinct([
            array_to_string(w[i : i + 2], ' ')
            for i in range(1, greatest(len(w) - 2, 1) + 1)
        ])) AS shingle FROM w),
    h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h
          FROM sh),
    sigs AS (SELECT doc_id, {mh} FROM h GROUP BY doc_id),
    banded AS (SELECT doc_id, {bands} FROM sigs),
    bt AS ({unions}),
    roots AS (SELECT band, bh, min(doc_id) AS root FROM bt GROUP BY band, bh),
    edges0 AS (
        SELECT DISTINCT r.root AS a, b.doc_id AS b
        FROM bt b JOIN roots r ON b.band = r.band AND b.bh = r.bh
        WHERE b.doc_id <> r.root),
    edges AS (SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, label) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b),
    comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
    sized AS (
        SELECT node, component,
               (count(*) OVER (PARTITION BY component))::BIGINT AS cluster_size
        FROM comp)
    SELECT d.doc_id,
           coalesce(s.component, d.doc_id) AS component,
           coalesce(s.cluster_size, 1)::BIGINT AS cluster_size,
           coalesce(s.node = s.component, TRUE) AS is_rep
    FROM documents d LEFT JOIN sized s ON d.doc_id = s.node
    """


@q(
    "dedup_minhash_survivors",
    _minhash_survivors_oracle(),
    "Linear-output MinHash dedup: band-bucket star edges (<= n*bands at "
    "ANY duplicate distribution) + min-label components — the "
    "clique-proof survivors form; minhash_lsh_pairs stays the verified "
    "precision tool but its pair OUTPUT is quadratic in clique size. "
    "Oracle: DuckDB twin with identical md5-derived permutations.",
)
def dedup_minhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_dedup_survivors(
        t(spark, sf_dir, "documents"), k=3, num_perm=24, bands=8
    )


# =====================================================================
# Round 5: prepare_corpus auto-routed doc dedup under the oracle gate
# =====================================================================

_PREPARE_DEDUP_AUTO_ORACLE = (
    _COMPONENTS_CTES
    + """,
    drops AS (SELECT node AS doc_id FROM comp WHERE node <> component)
    SELECT d.doc_id, d.lang, d.n_chars FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
    """
)


@q(
    "corpus_prepare_dedup_auto",
    _PREPARE_DEDUP_AUTO_ORACLE,
    "prepare_corpus doc-dedup through the AUTO route (the code/CLI "
    "default since round 5): below doc_dedup_auto_threshold the router "
    "picks the exact-verified pairwise jaccard form — this oracle pins "
    "that routing end-to-end (survivors = corpus minus non-min cluster "
    "members at jaccard >= 0.7); at crawl scale the same default routes "
    "to the clique-proof minhash_survivors form instead (next query).",
)
def corpus_prepare_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.pipeline import prepare_corpus

    res = prepare_corpus(
        t(spark, sf_dir, "documents"),
        c4=False,
        gopher=False,
        line_spans=None,
        doc_dedup=True,
        doc_dedup_method="auto",
        temperature_alpha=None,
    )
    return res.docs.select("doc_id", "lang", "n_chars")


@q(
    "corpus_prepare_dedup_survivors",
    f"""
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d JOIN ({_minhash_survivors_oracle()}) s
      ON d.doc_id = s.doc_id
    WHERE s.is_rep
    """,
    "prepare_corpus doc-dedup with the minhash_survivors form FORCED — "
    "the branch the auto router takes at or above the corpus threshold, "
    "oracled at small sf so both routes of the default path carry a "
    "per-round hash gate (survivors = band-bucket star-edge component "
    "representatives, DuckDB twin with identical permutation constants).",
)
def corpus_prepare_dedup_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from impresso_ta.operators.pipeline import prepare_corpus

    res = prepare_corpus(
        t(spark, sf_dir, "documents"),
        c4=False,
        gopher=False,
        line_spans=None,
        doc_dedup=True,
        doc_dedup_method="minhash_survivors",
        temperature_alpha=None,
    )
    return res.docs.select("doc_id", "lang", "n_chars")


# The reference's own shipped canonical sample (12 issues / 726 CIs
# across BNL/BNF/SWA-family titles, data/out/canonical_out) rebuilt
# end-to-end and reduced to a per-title digest. The oracle is the
# committed golden VALUES — any byte change in any rebuilt fulltext
# changes a title's corpus_digest, so the importer/rebuild ETL core
# carries the same per-round hash gate as the DataFrame operators
# (round-5 task; ref rebuilders/paper_rebuilders.py:177-230).
def _reference_path(*parts: str) -> str:
    """Reference sample-data location, overridable via
    $SPARK_GRAFT_REFERENCE_DIR so the three reference-pinned catalog
    queries (and their committed goldens) aren't coupled to this
    machine's filesystem layout — on a checkout where the reference
    isn't present, the queries fail at discovery with the missing path
    named instead of a silent wrong answer."""
    import os

    base = os.environ.get("SPARK_GRAFT_REFERENCE_DIR", "/root/reference")
    return os.path.join(base, *parts)


_REFERENCE_CANONICAL_BASE = _reference_path(
    "text_preparation", "data", "out", "canonical_out"
)

_REFERENCE_CANONICAL_GOLDEN = [
    ("BLB", 2, 2, 30782, "06a9179b551d82e14be9995798348875"),
    ("EZR", 13, 12, 34665, "a99b2765dadfd129ac35f8cbe11ec3e2"),
    ("FAL", 4, 0, 0, "83f9d2365850c584718a1de60ea866af"),
    ("FAM", 15, 0, 0, "7980e513544ba36bb665d734ff9dd4e6"),
    ("FZG", 102, 92, 172676, "8cff9f3b833966f86a091db81bbc0834"),
    ("LLE", 105, 104, 141703, "7d9f2c455f84ad90cce7dae43b53ae45"),
    ("arbeitgeber", 8, 8, 51480, "eee4f1c5060fffcfc5a0aa9e235ad0b7"),
    ("excelsior", 161, 133, 156709, "74981b6cc4e380ab7839f04285f37481"),
    ("handelsztg", 5, 5, 26479, "bc108fc5a088bf8a47bf9111d855814a"),
    ("lafronde", 54, 53, 108509, "c945c914a77e99e3a3b2ebae812816b0"),
    ("marieclaire", 198, 106, 153199, "695caa9f101842910ab1d4bd3b750f2a"),
    ("oeuvre", 59, 59, 76428, "1c76deaa560a3af15323eddac3ebef3b"),
]


def _reference_canonical_oracle() -> str:
    rows = ",\n        ".join(
        f"('{a}', CAST({n} AS BIGINT), CAST({nt} AS BIGINT), "
        f"CAST({tc} AS BIGINT), '{d}')"
        for a, n, nt, tc, d in _REFERENCE_CANONICAL_GOLDEN
    )
    return (
        "SELECT * FROM (VALUES\n        "
        + rows
        + "\n    ) AS t(alias, n_cis, n_with_text, total_chars, corpus_digest)"
    )


@q(
    "dedup_exact_substring",
    """
    WITH tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
    win AS (
        SELECT doc_id, i AS p, md5(array_to_string(w[i : i + 7], ' ')) AS h
        FROM tok, unnest(range(1, greatest(len(w) - 7, 0) + 1)) AS t(i)
        WHERE len(w) >= 8),
    occ AS (
        SELECT doc_id, p,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn,
               count(*) OVER (PARTITION BY h) AS cnt
        FROM win),
    rem AS (SELECT doc_id, list(p) AS ps FROM occ
            WHERE cnt > 1 AND rn > 1 GROUP BY doc_id),
    cov AS (SELECT doc_id, flatten([range(p, p + 8) for p in ps]) AS cv
            FROM rem),
    kept AS (
        SELECT t.doc_id, t.w,
               [t.w[i] for i in range(1, len(t.w) + 1)
                if NOT list_contains(coalesce(f.cv, []), i)] AS kw
        FROM tok t LEFT JOIN cov f ON t.doc_id = f.doc_id)
    SELECT doc_id, len(w)::BIGINT AS n_tokens,
           (len(w) - len(kw))::BIGINT AS n_removed,
           coalesce(array_to_string(kw, ' '), '') AS kept_text
    FROM kept
    """,
    "Corpus-wide EXACT-substring dedup (Lee et al. 2022 ExactSubstr): "
    "every 8-token window occurring more than once anywhere in the "
    "corpus is removed except at its globally-first (doc_id, pos) "
    "occurrence; documents are rewritten to their uncovered tokens. "
    "Suffix-array-free Spark shape: uniform md5 window keys, ONE "
    "map-side-combined groupBy for first-occurrence resolution, "
    "row-local indexed rewrite — linear in corpus tokens.",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_substring_dedup(
        t(spark, sf_dir, "documents"), k=8
    )


@q(
    "rebuild_reference_canonical",
    _reference_canonical_oracle(),
    "The importer/rebuild ETL core under the oracle gate: rebuild the "
    "reference's own shipped canonical corpus (12 issues, 726 CIs, "
    "incl. the legacy-BNF line-nesting repair and the FAL/FAM "
    "pOf-mismatch parity quirk) and digest it per title — CI counts, "
    "fulltext coverage, total chars, and an order-insensitive md5 over "
    "every CI's fulltext md5. Oracle = committed golden VALUES, so any "
    "byte drift in any rebuilt text fails the hash gate.",
)
def rebuild_reference_canonical(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from impresso_ta.rebuild import rebuild_issues_solr
    from impresso_ta.rebuild.solr import split_errors
    from impresso_ta.sources.readers import read_issues, read_pages

    base = _REFERENCE_CANONICAL_BASE
    issues = read_issues(spark, f"{base}/*-issues.jsonl.bz2")
    pages = read_pages(spark, f"{base}/pages/*-pages.jsonl.bz2")
    ok, _errors = split_errors(rebuild_issues_solr(issues, pages))
    return (
        ok.withColumn(
            "alias", F.regexp_extract("id", r"^(.+)-\d{4}-\d{2}-\d{2}", 1)
        )
        .withColumn("ft_md5", F.md5(F.coalesce(F.col("ft"), F.lit(""))))
        .groupBy("alias")
        .agg(
            F.count("*").cast("long").alias("n_cis"),
            F.sum((F.length("ft") > 0).cast("long")).alias("n_with_text"),
            F.sum(F.coalesce(F.length("ft"), F.lit(0)))
            .cast("long")
            .alias("total_chars"),
            F.md5(
                F.concat_ws(",", F.array_sort(F.collect_list("ft_md5")))
            ).alias("corpus_digest"),
        )
    )


@q(
    "j17_fuzzy_blocked_join",
    """
    SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM part a JOIN part b
      ON lower(regexp_extract(a.p_name, '([A-Za-z0-9]+)', 1))
         = lower(regexp_extract(b.p_name, '([A-Za-z0-9]+)', 1))
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
     AND levenshtein(a.p_name, b.p_name) <= 2
     AND a.p_partkey < b.p_partkey
    """,
    "Record-linkage fuzzy join (Christen blocking): equality on the "
    "lowercased first token prunes the cross product to same-block "
    "pairs, a lossless |len diff| <= k prefilter fuses into the join "
    "condition, exact Levenshtein verifies — approximate string "
    "matching with NO all-pairs stage, the same candidate→verify "
    "discipline as the MinHash band join. X11's importer-side fuzzy "
    "title search generalized to a first-class relational operator.",
)
def j17_fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.fuzzy import fuzzy_blocked_join

    p = t(spark, sf_dir, "part")
    a = p.select(
        F.col("p_partkey").alias("a_key"), F.col("p_name").alias("a_name")
    )
    b = p.select(
        F.col("p_partkey").alias("b_key"), F.col("p_name").alias("b_name")
    )
    return (
        fuzzy_blocked_join(a, b, "a_name", "b_name", max_dist=2)
        .filter(F.col("a_key") < F.col("b_key"))
        .select(
            "a_key", "b_key", F.col("edit_dist").cast("int").alias("edit_dist")
        )
    )


@q(
    "j17_fuzzy_contracted",
    """
    WITH c AS (
        SELECT p_name AS v, count(*)::BIGINT AS n FROM part GROUP BY p_name
    )
    SELECT a.v AS value_l, b.v AS value_r,
           CAST(levenshtein(a.v, b.v) AS INT) AS edit_dist,
           a.n AS n_left, b.n AS n_right
    FROM c a JOIN c b
      ON lower(regexp_extract(a.v, '([A-Za-z0-9]+)', 1))
         = lower(regexp_extract(b.v, '([A-Za-z0-9]+)', 1))
     AND abs(length(a.v) - length(b.v)) <= 2
     AND levenshtein(a.v, b.v) <= 2
     AND a.v <= b.v
    """,
    "CONTRACTED fuzzy join (VERDICT r9 task 1): the same blocked "
    "Levenshtein verify as j17_fuzzy_blocked_join, but the output "
    "stays at the value level — (value_l, value_r, edit_dist, n_left, "
    "n_right) with per-side multiplicities riding the distinct "
    "aggregation (groupBy-count replaces distinct: same exchange, "
    "zero extra cost) and NO expansion back to row pairs. Output "
    "volume is the number of DISTINCT verified pairs instead of true "
    "row pairs — the sf1 bench corpus emits ~400M expanded rows but "
    "~2k distinct pairs, so this is the form that survives "
    "clone-heavy corpora at 100 TB; the expanded result is exactly "
    "these pairs fanned n_left*n_right ways, recoverable by two "
    "value equi-joins if row granularity is ever needed.",
)
def j17_fuzzy_contracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.fuzzy import fuzzy_blocked_join

    p = t(spark, sf_dir, "part")
    a = p.select(F.col("p_name").alias("a_name"))
    b = p.select(F.col("p_name").alias("b_name"))
    return (
        fuzzy_blocked_join(
            a, b, "a_name", "b_name", max_dist=2, contracted=True
        )
        .filter(F.col("value_l") <= F.col("value_r"))
        .select(
            "value_l",
            "value_r",
            F.col("edit_dist").cast("int").alias("edit_dist"),
            "n_left",
            "n_right",
        )
    )


@q(
    "corpus_pmi_collocations",
    """
    WITH toks AS (
        SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS w
        FROM documents
        WHERE len(regexp_split_to_array(trim(lower(text)), '\\s+')) > 0
    ),
    uni AS (
        SELECT tok, count(*)::BIGINT AS c
        FROM toks, unnest(w) AS t(tok) GROUP BY tok
    ),
    tot AS (SELECT sum(c)::BIGINT AS n FROM uni),
    bi AS (
        SELECT w[i] AS x, w[i + 1] AS y, count(*)::BIGINT AS c_xy
        FROM toks, unnest(range(1, len(w))) AS t(i)
        GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT x, y, c_xy, ux.c AS c_x, uy.c AS c_y,
           ((c_xy * 1000000) // ux.c) * tot.n // uy.c AS pmi_scaled
    FROM bi JOIN uni ux ON bi.x = ux.tok
            JOIN uni uy ON bi.y = uy.tok
            CROSS JOIN tot
    ORDER BY pmi_scaled DESC, x, y LIMIT 100
    """,
    "Top bigram collocations by pointwise mutual information (Church & "
    "Hanks) — the vocabulary-analysis pass a tokenizer pipeline runs to "
    "find merge-worthy pairs. PMI stays in EXACT integer space "
    "(1e6-scaled c_xy*N/(c_x*c_y) with fixed association order), so "
    "ranks are bit-identical across engines with no float log anywhere. "
    "Spark shape: one explode, two map-side-combined groupBys, the tiny "
    "unigram vocabulary broadcast back twice, top-n as "
    "TakeOrderedAndProject.",
)
def corpus_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.text_analysis import pmi_collocations

    return pmi_collocations(
        t(spark, sf_dir, "documents"), min_count=5, top_n=100
    )


# The reference's shipped INA ASR sample (3 broadcasts: CFCE ×2, RDN ×1)
# imported end-to-end (manifest-driven discovery → utterance grouping →
# audio rebuild) and digested per title. The per-CI digest hashes the
# fulltext TOGETHER with the ssb/ub/sb offset arrays, so utterance /
# speech-segment / section offset assembly gets the same per-round drift
# gate as the paper path's lb/pb/rb (round-8 task; ref:
# rebuilders/audio_rebuilders.py:11-86, importers/ina/classes.py:29-289).
_REFERENCE_AUDIO_BASE = _reference_path(
    "text_preparation", "data", "sample_data", "INA"
)

_REFERENCE_AUDIO_GOLDEN = [
    ("CFCE", 2, 2, 89719, 1841, "365ea1d428069d98ebaa33a0c51c68bd"),
    ("RDN", 1, 1, 18550, 273, "eaa8754a3376aa36d674e724d915dce9"),
]


def _reference_audio_oracle() -> str:
    rows = ",\n        ".join(
        f"('{a}', CAST({n} AS BIGINT), CAST({nt} AS BIGINT), "
        f"CAST({tc} AS BIGINT), CAST({nb} AS BIGINT), '{d}')"
        for a, n, nt, tc, nb, d in _REFERENCE_AUDIO_GOLDEN
    )
    return (
        "SELECT * FROM (VALUES\n        "
        + rows
        + "\n    ) AS t(alias, n_cis, n_with_text, total_chars, "
        "n_breaks, corpus_digest)"
    )


@q(
    "rebuild_reference_audio",
    _reference_audio_oracle(),
    "The AUDIO half of the importer/rebuild ETL core under the oracle "
    "gate: import the reference's own shipped INA ASR sample (manifest-"
    "driven discovery, consecutive-same-speaker utterance grouping, "
    "sidecar duration, the Résumé language short-circuit) and rebuild it "
    "(rebuild_audio_text: token-stream whitespace, speech-seg/utterance/"
    "section offsets), then digest per title — CI counts, fulltext "
    "coverage, chars, break counts, and an order-insensitive md5 over "
    "each CI's (fulltext ‖ ssb ‖ ub ‖ sb) md5. Oracle = committed golden "
    "VALUES, so any byte drift in rebuilt audio text OR any shift in the "
    "offset assembly fails the hash gate.",
)
def rebuild_reference_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.importers import import_issues
    from impresso_ta.rebuild import rebuild_issues_solr
    from impresso_ta.rebuild.solr import split_errors
    from impresso_ta.sources.discovery import detect_issues_ina

    disc = detect_issues_ina(spark, _REFERENCE_AUDIO_BASE)
    res = import_issues(disc, ts="2024-01-01T00:00:00Z")
    ok, _errors = split_errors(
        rebuild_issues_solr(res.issues, res.records, ts="2024-01-01T00:00:00Z")
    )
    return (
        ok.withColumn(
            "alias", F.regexp_extract("id", r"^(.+)-\d{4}-\d{2}-\d{2}", 1)
        )
        .withColumn(
            "ci_digest",
            F.md5(
                F.concat_ws(
                    "|",
                    F.coalesce(F.col("ft"), F.lit("")),
                    F.concat_ws(",", F.col("ssb")),
                    F.concat_ws(",", F.col("ub")),
                    F.concat_ws(",", F.col("sb")),
                )
            ),
        )
        .groupBy("alias")
        .agg(
            F.count("*").cast("long").alias("n_cis"),
            F.sum((F.length("ft") > 0).cast("long")).alias("n_with_text"),
            F.sum(F.coalesce(F.length("ft"), F.lit(0)))
            .cast("long")
            .alias("total_chars"),
            F.sum(F.size("ssb") + F.size("ub") + F.size("sb"))
            .cast("long")
            .alias("n_breaks"),
            F.md5(
                F.concat_ws(",", F.array_sort(F.collect_list("ci_digest")))
            ).alias("corpus_digest"),
        )
    )


# The full-system digest: the reference's shipped TETML sample (FedGazDe,
# 23 issues) pushed through EVERY pipeline layer in ONE query — filesystem
# discovery → format-dispatched import → solr rebuild → corpus preparation
# (gopher quality + line-span dedup + doc dedup) → deterministic training
# shards — then digested per shard. Goldens captured from two runs at
# different parallelism (local[8] / local[32], byte-identical); any drift
# in ANY layer (listing order, import text, rebuild offsets, filter
# thresholds, dedup verdicts, shard hashing) changes a digest.
_REFERENCE_TETML_BASE = _reference_path(
    "text_preparation", "data", "sample_data", "Tetml"
)

_CRAWL_CORPUS_GOLDEN = [
    (0, 9, 20285, "c8709c66fffba9d338c0d42b68c83377"),
    (1, 7, 13794, "1beafd40377cae3ca0d9e7aa2560ef92"),
    (2, 15, 34848, "a8a90364c67dfaeb97c8dab2c5586515"),
    (3, 11, 21379, "298b82a979a5d10c857c53ee01e03ec8"),
]


def _crawl_corpus_oracle() -> str:
    rows = ",\n        ".join(
        f"(CAST({s} AS INT), CAST({n} AS BIGINT), CAST({tc} AS BIGINT), "
        f"'{d}')"
        for s, n, tc, d in _CRAWL_CORPUS_GOLDEN
    )
    return (
        "SELECT * FROM (VALUES\n        "
        + rows
        + "\n    ) AS t(shard, n_docs, total_chars, shard_digest)"
    )


@q(
    "crawl_to_corpus_reference",
    _crawl_corpus_oracle(),
    "The composed crawl-to-corpus pipeline under ONE hash gate — the "
    "full-system twin of rebuild_reference_canonical: detect_issues "
    "walks the reference's shipped TETML sample (23 FedGazDe issues), "
    "import_issues dispatches the tetml plugin (one UDTF pass, no "
    "shuffle), rebuild_issues_solr assembles fulltext CIs, "
    "prepare_corpus applies gopher quality + line-span dedup + "
    "doc-level dedup (auto-routed to the exact jaccard form at this "
    "size), and training_shards deals survivors into 4 reproducible "
    "shards (md5 id hashing, partition-invariant). Digest per shard: "
    "doc counts, chars, order-insensitive md5 of per-doc text md5s. "
    "Oracle = committed golden VALUES (two runs at local[8]/local[32] "
    "byte-identical), so drift in ANY layer fails the gate.",
)
def crawl_to_corpus_reference(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from impresso_ta.importers import import_issues
    from impresso_ta.operators.corpus import training_shards
    from impresso_ta.operators.pipeline import prepare_corpus
    from impresso_ta.rebuild import rebuild_issues_solr
    from impresso_ta.rebuild.solr import split_errors
    from impresso_ta.sources.discovery import detect_issues

    disc = detect_issues(spark, _REFERENCE_TETML_BASE, fmt="tetml")
    issues, pages, _errors = import_issues(disc, ts="2024-01-01T00:00:00Z")
    ok, _rb_errors = split_errors(rebuild_issues_solr(issues, pages))
    corpus = ok.filter(F.length("ft") > 0).select(
        F.row_number()
        .over(Window.orderBy("id"))
        .cast("long")
        .alias("doc_id"),
        F.col("ft").alias("text"),
        F.col("id").alias("ci_id"),
    )
    prepared = prepare_corpus(
        corpus, c4=False, gopher=True, line_spans=10, doc_dedup=True
    ).docs
    sharded = prepared.join(training_shards(prepared, n_shards=4), "doc_id")
    return sharded.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.md5(
            F.concat_ws(",", F.array_sort(F.collect_list(F.md5("text"))))
        ).alias("shard_digest"),
    )


@q(
    "per_domain_cap",
    """
    SELECT source, doc_id, CAST(rnk AS INT) AS rnk FROM (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source ORDER BY doc_id
               ) AS rnk
        FROM documents
    ) WHERE rnk <= 30
    """,
    "RefinedWeb-style per-domain document cap as an EXACT salted top-n "
    "per key: stage-1 window over (key, salt) spreads a hot domain over "
    "16 tasks (each salt's local top-n is a superset of its share of "
    "the global top-n), stage-2 re-ranks the <= n*salts survivors — "
    "identical output to the single-partition-per-key window the "
    "oracle runs, without its hot-key task.",
)
def per_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.skew import topn_per_key_salted

    return topn_per_key_salted(
        t(spark, sf_dir, "documents").select("source", "doc_id"),
        key_cols=["source"],
        order_col="doc_id",
        n=30,
    ).withColumn("rnk", F.col("rank").cast("int")).drop("rank")


@q(
    "corpus_prepare_domain_cap",
    f"""
    WITH base AS (SELECT doc_id, text, source,
                         regexp_split_to_array(trim(text), '\\s+') AS w
                  FROM documents),
    c4 AS (
        SELECT doc_id, source FROM base
        WHERE {_C4_KEEP_SQL}
          AND NOT (contains(lower(text), 'lorem ipsum')
                   OR contains(lower(text), 'javascript')
                   OR contains(lower(text), 'cookie policy')
                   OR contains(lower(text), '{{'))
    )
    SELECT source, doc_id FROM (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source ORDER BY doc_id
               ) AS rn
        FROM c4
    ) WHERE rn <= 20
    """,
    "The per-domain cap exercised THROUGH the corpus pipeline "
    "(prepare_corpus domain_cap stage, the RefinedWeb max-N-docs-per-"
    "domain slot): C4 filters then at most 20 docs per source, ranked "
    "by doc_id, via the salted two-stage window — same answer as the "
    "oracle's single window per source, without its hot-domain task.",
)
def corpus_prepare_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.pipeline import prepare_corpus

    res = prepare_corpus(
        t(spark, sf_dir, "documents"),
        c4=True,
        gopher=False,
        line_spans=None,
        doc_dedup=False,
        domain_cap=20,
        domain_col="source",
    )
    return res.docs.select("source", "doc_id")


def _dsir_cte(
    raw_sql: str = "SELECT * FROM documents WHERE doc_id % 17 <> 0",
    tgt_sql: str = "SELECT * FROM documents WHERE doc_id % 17 = 0",
    ngram: int = 1,
) -> str:
    """DuckDB CTE chain computing DSIR log-weights (`w`) over a
    parameterizable raw pool and target corpus. ``ngram=2`` mirrors
    _dsir_feature_terms: the token stream becomes unigrams + space-
    joined bigrams (zip of the token list with its own tail)."""
    if ngram == 1:
        stream = r"unnest(regexp_split_to_array(trim(text), '\s+'))"
    else:
        stream = (
            r"unnest(list_concat(t, list_transform(range(1, len(t)), "
            r"i -> t[i] || ' ' || t[i + 1])))"
        )
    inner = (
        "SELECT doc_id, text FROM {src}"
        if ngram == 1
        else r"SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM {src}"
    )
    return rf"""
    tgt AS ({tgt_sql}),
    raw AS ({raw_sql}),
    rw AS (SELECT doc_id, {stream} AS word FROM ({inner.format(src='raw')})),
    tw AS (SELECT {stream} AS word FROM ({inner.format(src='tgt')})),
    rb AS (SELECT ('0x' || substr(md5(word), 1, 12))::BIGINT % 256 AS bucket,
                  count(*) AS rc FROM rw GROUP BY 1),
    tb AS (SELECT ('0x' || substr(md5(word), 1, 12))::BIGINT % 256 AS bucket,
                  count(*) AS tc FROM tw GROUP BY 1),
    m AS (SELECT coalesce(rb.bucket, tb.bucket) AS bucket,
                 coalesce(rc, 0) AS rc, coalesce(tc, 0) AS tc
          FROM rb FULL OUTER JOIN tb ON rb.bucket = tb.bucket),
    tot AS (SELECT sum(rc) AS R, sum(tc) AS T FROM m),
    ratio AS (SELECT bucket,
                     (round((ln((tc + 1) / (T + 256.0))
                             - ln((rc + 1) / (R + 256.0))) * 1e9))::BIGINT AS lr9
              FROM m, tot),
    db AS (SELECT doc_id,
                  ('0x' || substr(md5(word), 1, 12))::BIGINT % 256 AS bucket,
                  count(*) AS c
           FROM rw GROUP BY 1, 2),
    w AS (SELECT doc_id, sum(c * lr9) / 1e9 AS logw FROM db JOIN ratio USING (bucket) GROUP BY 1)
"""


_DSIR_COMMON = _dsir_cte()


@q(
    "corpus_dsir_weights",
    f"""
    WITH {_DSIR_COMMON}
    SELECT r.doc_id, r.source,
           round(coalesce(w.logw, 0.0), 6) AS dsir_logw
    FROM raw r LEFT JOIN w ON r.doc_id = w.doc_id
    """,
    "DSIR importance log-weights (Xie et al. 2023): score every "
    "raw-pool doc by Σ_b count(b)·(log p_target(b) − log p_raw(b)) "
    "over hashed-unigram bucket models (md5 % 256, add-one smoothing) "
    "— selection by distributional similarity to a pointed-at target "
    "corpus. Spark shape: two corpus-sized map-side-combined bucket "
    "aggregates collapsing to ≤dim rows, a dim-row log-ratio broadcast "
    "into per-doc bucket counts, one doc-keyed sum — no collect, "
    "nothing quadratic, target size only affects one linear pass.",
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import dsir_log_weights

    d = t(spark, sf_dir, "documents")
    return dsir_log_weights(
        d.filter(F.col("doc_id") % 17 != 0),
        d.filter(F.col("doc_id") % 17 == 0),
    ).select("doc_id", "source", "dsir_logw")


@q(
    "corpus_dsir_weights_bigram",
    f"""
    WITH {_dsir_cte(ngram=2)}
    SELECT r.doc_id, r.source,
           round(coalesce(w.logw, 0.0), 6) AS dsir_logw
    FROM raw r LEFT JOIN w ON r.doc_id = w.doc_id
    """,
    "DSIR log-weights over the paper's FULL n<=2 hashed feature set "
    "(unigrams + space-joined bigrams, dsir_log_weights(ngram=2)): "
    "word-ORDER style differences that unigram histograms cannot "
    "express become separable (two corpora with identical vocabulary "
    "mixes but different collocations get different weights — "
    "order-separation tested in tests/test_dsir.py). Same two-"
    "aggregate scale shape as unigrams; the bigram stream is a "
    "row-local zip of the token array with its own tail — ~2x the "
    "exploded rows, zero extra shuffles.",
)
def corpus_dsir_weights_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import dsir_log_weights

    d = t(spark, sf_dir, "documents")
    return dsir_log_weights(
        d.filter(F.col("doc_id") % 17 != 0),
        d.filter(F.col("doc_id") % 17 == 0),
        ngram=2,
    ).select("doc_id", "source", "dsir_logw")


@q(
    "corpus_dsir_selection",
    f"""
    WITH {_DSIR_COMMON},
    scored AS (
        SELECT r.doc_id, coalesce(w.logw, 0.0) AS logw,
               round(round(coalesce(w.logw, 0.0), 9)
                     + -ln(-ln(
                         ((('0x' || substr(md5('dsir:' || r.doc_id::VARCHAR), 1, 12))::BIGINT)::DOUBLE + 0.5)
                         / 281474976710656.0)), 6) AS gkey
        FROM raw r LEFT JOIN w ON r.doc_id = w.doc_id)
    SELECT doc_id, round(round(logw, 9), 6) AS dsir_logw
    FROM scored ORDER BY gkey DESC, doc_id LIMIT 150
    """,
    "DSIR selection step: Gumbel top-k over the importance weights — "
    "sample n docs without replacement with P ∝ w(x) via "
    "argtop_n(log w + Gumbel), noise md5-derived from the doc id so "
    "the draw is deterministic across runs/engines and stable as the "
    "corpus grows. orderBy+limit compiles to TakeOrdered (per-partition "
    "top-n + driver merge), no global sort shuffle.",
)
def corpus_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import dsir_resample

    d = t(spark, sf_dir, "documents")
    return dsir_resample(
        d.filter(F.col("doc_id") % 17 != 0),
        d.filter(F.col("doc_id") % 17 == 0),
        n=150,
    ).select("doc_id", "dsir_logw")


_DSIR_PIPE_RAW = f"""SELECT doc_id, text FROM (
        SELECT doc_id, text,
               regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents) WHERE {_C4_KEEP_SQL}
          AND NOT (contains(lower(text), 'lorem ipsum')
                   OR contains(lower(text), 'javascript')
                   OR contains(lower(text), 'cookie policy')
                   OR contains(lower(text), '{{'))"""


@q(
    "corpus_prepare_dsir",
    f"""
    WITH {_dsir_cte(raw_sql=_DSIR_PIPE_RAW, tgt_sql="SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0")},
    scored AS (
        SELECT r.doc_id, coalesce(w.logw, 0.0) AS logw,
               round(round(coalesce(w.logw, 0.0), 9)
                     + -ln(-ln(
                         ((('0x' || substr(md5('dsir:' || r.doc_id::VARCHAR), 1, 12))::BIGINT)::DOUBLE + 0.5)
                         / 281474976710656.0)), 6) AS gkey
        FROM raw r LEFT JOIN w ON r.doc_id = w.doc_id)
    SELECT d.doc_id, d.source FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    ORDER BY s.gkey DESC, s.doc_id LIMIT 100
    """,
    "DSIR selection exercised THROUGH the corpus pipeline "
    "(prepare_corpus dsir_target/dsir_n stage): C4 filters, then keep "
    "the 100 filtered docs most like the pointed-at target corpus via "
    "deterministic Gumbel top-k over hashed-bucket importance weights. "
    "Selection runs BEFORE the dedup stages so it shrinks the pool "
    "every later stage pays for; the weight column stays internal — "
    "pipeline schema unchanged.",
)
def corpus_prepare_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.pipeline import prepare_corpus

    d = t(spark, sf_dir, "documents")
    res = prepare_corpus(
        d,
        c4=True,
        gopher=False,
        line_spans=None,
        doc_dedup=False,
        dsir_target=d.filter(F.col("doc_id") % 17 == 0),
        dsir_n=100,
    )
    return res.docs.select("doc_id", "source")


def _lr_weight_ctes(
    iters: int = 3, dim: int = 64, tf: bool = False, learn_rate: float = 1.0
) -> list[str]:
    """CTEs unrolling lr_hashed_train's ``iters`` gradient steps into
    ``w{iters}`` (bucket, w), given a ``train`` CTE with (doc_id, text,
    y) already in scope — shared by the standalone classifier oracle
    and the pipeline's learned-quality-filter oracle. ``tf`` mirrors
    hashed_bucket_counts(tf=True): counts length-normalized to term
    frequencies, rounded to 9. ``learn_rate`` multiplies INSIDE the
    gradient's round(…, 9), matching lr_hashed_train exactly.

    Margin and gradient sums run in exact-BIGINT space (each addend
    ×1e9 rounded to a long, summed, /1e9 at the end — classifier.py
    ``_term9``): the per-term products are identical IEEE doubles on
    both engines, but double SUM order is not associative, so this is
    the only form immune to Spark-partial-aggregate vs DuckDB vs
    row-local-fold addition order."""
    bucket = f"('0x' || substr(md5(word), 1, 12))::BIGINT % {dim}"
    grad_sum = "sum(CAST(round((c * r / n) * 1e9, 0) AS BIGINT)) / 1e9"
    grad = (
        grad_sum if learn_rate == 1.0 else f"{grad_sum} * {learn_rate}"
    )
    ctes = [
        rf"tdb_raw AS (SELECT doc_id, {bucket} AS bucket, count(*) AS c FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM train) GROUP BY 1, 2)",
        (
            "tdb AS (SELECT doc_id, bucket, round(c / sum(c) OVER "
            "(PARTITION BY doc_id), 9) AS c FROM tdb_raw)"
            if tf
            else "tdb AS (SELECT * FROM tdb_raw)"
        ),
        "nn AS (SELECT count(*)::DOUBLE AS n FROM train)",
        "r1 AS (SELECT doc_id, round(y - 0.5, 9) AS r FROM train)",
        f"w1 AS (SELECT bucket, round({grad}, 9) AS w FROM tdb JOIN r1 USING (doc_id), nn GROUP BY bucket)",
    ]
    for i in range(2, iters + 1):
        p, q_ = i - 1, i
        ctes += [
            f"m{q_} AS (SELECT doc_id, round(sum(CAST(round((c * w) * 1e9, 0) AS BIGINT)) / 1e9, 9) AS m FROM tdb JOIN w{p} USING (bucket) GROUP BY 1)",
            f"r{q_} AS (SELECT t.doc_id, round(y - round(1 / (1 + exp(-coalesce(m, 0))), 9), 9) AS r FROM train t LEFT JOIN m{q_} ON t.doc_id = m{q_}.doc_id)",
            f"g{q_} AS (SELECT bucket, round({grad}, 9) AS g FROM tdb JOIN r{q_} USING (doc_id), nn GROUP BY bucket)",
            f"w{q_} AS (SELECT w{p}.bucket, round(w + g, 9) AS w FROM w{p} JOIN g{q_} ON w{p}.bucket = g{q_}.bucket)",
        ]
    return ctes


def _lr_sql(iters: int = 3, dim: int = 64) -> str:
    """Unrolled DuckDB twin of lr_hashed_train + lr_hashed_score:
    train on even doc_ids (label: lang='en'), score the odd holdout."""
    bucket = f"('0x' || substr(md5(word), 1, 12))::BIGINT % {dim}"
    ctes = [
        "train AS (SELECT doc_id, text, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y FROM documents WHERE doc_id % 2 = 0)",
        "holdout AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1)",
        rf"sdb AS (SELECT doc_id, {bucket} AS bucket, count(*) AS c FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM holdout) GROUP BY 1, 2)",
        *_lr_weight_ctes(iters, dim),
        f"sm AS (SELECT doc_id, round(sum(CAST(round((c * w) * 1e9, 0) AS BIGINT)) / 1e9, 9) AS m FROM sdb JOIN w{iters} USING (bucket) GROUP BY 1)",
    ]
    return (
        "WITH " + ",\n    ".join(ctes) + "\n"
        "    SELECT h.doc_id, round(1 / (1 + exp(-coalesce(m, 0))), 6) AS lr_prob\n"
        "    FROM holdout h LEFT JOIN sm ON h.doc_id = sm.doc_id"
    )


@q(
    "text_lr_classifier",
    _lr_sql(),
    "Trainable quality/language classifier: logistic regression over "
    "hashed-unigram features (the CCNet/RefinedWeb/FineWeb-Edu learned-"
    "filter slot) — 3 full-batch gradient iterations from w=0 on the "
    "even-id half (label: lang='en'), holdout probabilities on the odd "
    "half. Spark shape: per iteration two linear aggregates over the "
    "shared (doc,bucket,c) feature frame with the dim-row weight table "
    "broadcast in — the model never exceeds dim rows, nothing collects "
    "to the driver; the oracle unrolls the same three iterations as "
    "CTEs. Every iteration boundary rounds to 9 decimals so both "
    "engines walk the identical weight trajectory.",
)
def text_lr_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.classifier import (
        lr_hashed_score,
        lr_hashed_train,
    )

    d = t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 2 == 0).withColumn(
        "_label", (F.col("lang") == "en").cast("double")
    )
    weights = lr_hashed_train(train, "_label")
    holdout = d.filter(F.col("doc_id") % 2 == 1)
    return lr_hashed_score(holdout, weights).select("doc_id", "lr_prob")


# the learned-quality label: low filler-word rate (tf of 'the' < 1%) —
# the one lexically-learnable quality proxy in the synthetic corpus
# (lang is assigned independently of the text, so it is pure label
# noise; measured: zero separation). Kept/dropped at threshold 0.8:
# 72% of low-filler docs survive vs 18% of high-filler — a real filter.
_LR_QUALITY_LABEL_SQL = (
    "CASE WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
    "w -> w = 'the'))::DOUBLE / "
    "len(regexp_split_to_array(trim(text), '\\s+')) < 0.01 "
    "THEN 1.0 ELSE 0.0 END"
)


@q(
    "text_lr_classifier_rowlocal",
    _lr_sql(),
    "The STATELESS scoring form of the LR classifier against the SAME "
    "unrolled oracle as text_lr_classifier: the ≤dim-row model folds "
    "into a one-row map broadcast and the margin is computed per row "
    "with array expressions (bucket, count-in-array, map lookup) — the "
    "form the pipeline stage uses, because the batch scorer's "
    "explode→groupBy margin costs two extra exchanges. Identical rounded "
    "probabilities required by construction; this oracle pins it at "
    "the hash level.",
)
def text_lr_classifier_rowlocal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.classifier import (
        lr_hashed_score_rowlocal,
        lr_hashed_train,
    )

    d = t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 2 == 0).withColumn(
        "_label", (F.col("lang") == "en").cast("double")
    )
    weights = lr_hashed_train(train, "_label")
    holdout = d.filter(F.col("doc_id") % 2 == 1)
    return lr_hashed_score_rowlocal(holdout, weights, tf=False).select(
        "doc_id", "lr_prob"
    )


def _lr_pipe_sql(
    iters: int = 3,
    dim: int = 64,
    learn_rate: float = 1000.0,
    threshold: float = 0.8,
) -> str:
    """DuckDB twin of prepare_corpus(quality_model=...): C4-filter the
    pool, score it with the unrolled tf-trained weights, keep prob >=
    threshold. learn_rate=1000 because tf-feature gradients are ~1e-4
    per step — 3 full-batch iterations at lr=1 leave every margin
    within ±0.01 of the prior and the threshold never bites."""
    bucket = f"('0x' || substr(md5(word), 1, 12))::BIGINT % {dim}"
    ctes = [
        f"train AS (SELECT doc_id, text, {_LR_QUALITY_LABEL_SQL} AS y FROM documents WHERE doc_id % 2 = 0)",
        *_lr_weight_ctes(iters, dim, tf=True, learn_rate=learn_rate),
        f"pool AS ({_DSIR_PIPE_RAW})",
        rf"pdb_raw AS (SELECT doc_id, {bucket} AS bucket, count(*) AS c FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM pool) GROUP BY 1, 2)",
        "pdb AS (SELECT doc_id, bucket, round(c / sum(c) OVER (PARTITION BY doc_id), 9) AS c FROM pdb_raw)",
        f"pm AS (SELECT doc_id, round(sum(CAST(round((c * w) * 1e9, 0) AS BIGINT)) / 1e9, 9) AS m FROM pdb JOIN w{iters} USING (bucket) GROUP BY 1)",
    ]
    return (
        "WITH " + ",\n    ".join(ctes) + "\n"
        "    SELECT d.doc_id, d.source\n"
        "    FROM pool p JOIN documents d ON p.doc_id = d.doc_id\n"
        "    LEFT JOIN pm ON p.doc_id = pm.doc_id\n"
        f"    WHERE round(1 / (1 + exp(-coalesce(m, 0))), 6) >= {threshold}"
    )


@q(
    "corpus_prepare_lr_filter",
    _lr_pipe_sql(),
    "Learned-quality filtering exercised THROUGH the corpus pipeline "
    "(prepare_corpus quality_model/quality_threshold stage — the "
    "CCNet/RefinedWeb/FineWeb-Edu trained-classifier slot): train the "
    "hashed-feature LR on the even-id half against a low-filler-rate "
    "label (tf('the') < 1%; tf features — raw counts saturate the "
    "sigmoid with document LENGTH), then C4-filter the full pool and "
    "keep only docs scoring lr_prob >= 0.8 (keeps 72% of low-filler "
    "docs vs 18% of high-filler at sf0.01 — a real learned split). "
    "Spark shape: the ≤dim-row model broadcasts into one corpus scan + "
    "doc-keyed margin sum, placed between the heuristic filters and "
    "the corpus-wide stages so everything downstream pays only for "
    "survivors; the oracle unrolls the same 3 training iterations and "
    "mirrors the 9/6-decimal rounding at every boundary.",
)
def corpus_prepare_lr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.classifier import lr_hashed_train
    from impresso_ta.operators.pipeline import prepare_corpus
    from impresso_ta.operators.text_analysis import tokens

    d = t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    low_filler = (
        F.size(F.filter(toks, lambda w: w == F.lit("the")))
        / F.size(toks)
        < 0.01
    )
    train = d.filter(F.col("doc_id") % 2 == 0).withColumn(
        "_label", low_filler.cast("double")
    )
    weights = lr_hashed_train(train, "_label", tf=True, learn_rate=1000.0)
    res = prepare_corpus(
        d,
        c4=True,
        gopher=False,
        line_spans=None,
        doc_dedup=False,
        quality_model=weights,
        quality_threshold=0.8,
    )
    return res.docs.select("doc_id", "source")


@q(
    "corpus_dsir_threshold_select",
    """
    WITH raw AS (SELECT * FROM documents WHERE doc_id % 17 <> 0)
    SELECT count(*) AS n_pool, 0.3 AS frac_requested, true AS within_2pct
    FROM raw
    """,
    "Crawl-scale DSIR selection accuracy eval: "
    "keep ≈30% of the pool by thresholding the Gumbel-perturbed weight "
    "at its approximate (1−frac) quantile — ONE Greenwald-Khanna "
    "aggregate broadcast back, then a row-local filter. Replaces "
    "dsir_resample's TakeOrdered (n·partitions driver merge) when the "
    "kept count itself is crawl-sized; achieved-count error ≤2% "
    "asserted as the oracled boolean.",
)
def corpus_dsir_threshold_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import dsir_resample_threshold

    d = t(spark, sf_dir, "documents")
    raw = d.filter(F.col("doc_id") % 17 != 0)
    tgt = d.filter(F.col("doc_id") % 17 == 0)
    sel = dsir_resample_threshold(raw, tgt, fraction=0.3)
    n_sel = sel.agg(F.count("*").alias("_n_sel"))
    return (
        raw.agg(F.count("*").alias("n_pool"))
        .crossJoin(F.broadcast(n_sel))
        .select(
            "n_pool",
            F.lit(0.3).alias("frac_requested"),
            (
                F.abs(F.col("_n_sel") - 0.3 * F.col("n_pool"))
                <= F.greatest(0.02 * F.col("n_pool"), F.lit(1.0))
            ).alias("within_2pct"),
        )
    )


# =====================================================================
# Graph clustering: connected components over an edge table
# (operators/dedup.py)
# =====================================================================

# Thinned bipartite user↔item graph from click events: dense enough for
# multiple non-trivial components, sparse enough that the oracle's
# recursive transitive closure stays tiny at sf0.01.
_GRAPH_CC_EDGES_SQL = """
    SELECT CAST(user_id AS BIGINT) AS u,
           100000 + CAST(json_extract_string(props, '$.k') AS BIGINT) AS v
    FROM events
    WHERE event_type = 'click' AND event_id % 17 = 0
"""


@q(
    "graph_connected_components",
    f"""
    WITH RECURSIVE
    raw AS ({_GRAPH_CC_EDGES_SQL}),
    e0 AS (SELECT DISTINCT u, v FROM raw
           WHERE u <> v AND u IS NOT NULL AND v IS NOT NULL),
    bidir AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
    reach(node, r) AS (
        SELECT u, v FROM bidir
        UNION
        SELECT reach.node, bidir.v FROM reach JOIN bidir ON reach.r = bidir.u
    )
    SELECT node, least(node, min(r)) AS component
    FROM reach GROUP BY node
    """,
    "Connected components via dedup.connected_components, the "
    "package's one CC: one Arrow collect of the edge list and a numpy "
    "union-find on the driver, no Spark rounds whatever the component "
    "diameter. Self-loops dropped, isolated nodes absent, labels = min "
    "node id per component, engine-portable by contract; the oracle "
    "computes the same min over a recursive transitive closure (fine "
    "at sf0.01, quadratic-in-component). Graph: users↔items from "
    "thinned click events (item nodes offset by 100000).",
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.dedup import connected_components

    ev = t(spark, sf_dir, "events")
    edges = ev.filter(
        (F.col("event_type") == "click") & (F.col("event_id") % 17 == 0)
    ).select(
        F.col("user_id").cast("long").alias("src"),
        (100000 + F.get_json_object("props", "$.k").cast("long")).alias("dst"),
    )
    return connected_components(edges, src="src", dst="dst").select(
        "node", F.col("label").alias("component")
    )


# =====================================================================
# Key-skew profiling, weighted sampling and column profiling
# =====================================================================

@q(
    "a17_key_skew_profile",
    f"""
    SELECT key, n_rows, share_ppm, hash_partition,
           CAST(row_number() OVER (ORDER BY n_rows DESC, key) AS BIGINT)
               AS rank
    FROM (
        SELECT key, n_rows,
               (n_rows * 1000000) // _total AS share_ppm,
               CAST({_MD5_48_SQL.format(x="key")} % 8 AS INT)
                   AS hash_partition
        FROM (
            SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n_rows
            FROM events GROUP BY 1
        ), (SELECT count(*) AS _total FROM events)
    )
    ORDER BY n_rows DESC, key LIMIT 15
    """,
    "Join/agg-key skew profiler: the measurement BEFORE choosing plain "
    "shuffle vs salted_agg vs replicated_skew_join. ONE map-side-"
    "combined groupBy (raw rows never shuffle — partial counts only), "
    "broadcast one-row total, TakeOrderedAndProject top-k; share_ppm "
    "in exact integer parts-per-million, reducer assignment via the "
    "engine-portable 48-bit-md5 mod stand-in for murmur3 pmod.",
)
def a17_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.skew import profile_key_skew

    return profile_key_skew(
        t(spark, sf_dir, "events"), key="user_id", n_partitions=8, top_k=15
    )


@q(
    "corpus_weighted_sample",
    """
    SELECT doc_id, weight,
           ('0x' || substr(md5('wsample:' || doc_id::VARCHAR), 1, 12))::BIGINT
               // weight AS priority
    FROM (SELECT doc_id, CAST(n_chars AS BIGINT) AS weight FROM documents)
    ORDER BY priority, doc_id LIMIT 100
    """,
    "Deterministic weight-biased sampling without replacement (per-ROW "
    "mixing weights — quality scores, token counts; temperature_sample "
    "covers per-GROUP): priority = hash48(salt:id) div weight, n "
    "smallest win — the integer-arithmetic analogue of A-ES u^(1/w), "
    "reproducible across runs/engines/partitionings (no float pow). "
    "Row-local priority (zero shuffle) + TakeOrderedAndProject; "
    "positive-weight contract enforced by an assert riding inside the "
    "priority expression.",
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.corpus import weighted_sample

    return weighted_sample(
        t(spark, sf_dir, "documents"), id_col="doc_id",
        weight_col="n_chars", n=100,
    )


@q(
    "table_profile_columns",
    """
    SELECT 'doc_id' AS "column", count(*) AS n_rows,
           count(*) - count(doc_id) AS n_null,
           count(DISTINCT CAST(doc_id AS VARCHAR)) AS n_distinct,
           min(CAST(doc_id AS VARCHAR)) AS min_val,
           max(CAST(doc_id AS VARCHAR)) AS max_val
    FROM documents
    UNION ALL
    SELECT 'lang', count(*), count(*) - count(lang),
           count(DISTINCT lang), min(lang), max(lang) FROM documents
    UNION ALL
    SELECT 'source', count(*), count(*) - count(source),
           count(DISTINCT source), min(source), max(source) FROM documents
    UNION ALL
    SELECT 'n_chars', count(*), count(*) - count(n_chars),
           count(DISTINCT CAST(n_chars AS VARCHAR)),
           min(CAST(n_chars AS VARCHAR)), max(CAST(n_chars AS VARCHAR))
    FROM documents
    """,
    "Data-quality column profiler (the deequ summary pass): exact "
    "n_rows/n_null/n_distinct + lexicographic string min/max per "
    "column, in ONE data pass — profiled columns explode to (column, "
    "value) pairs (unprofiled payload pruned at the scan), one "
    "map-side-combined groupBy(column). At 100 TB swap countDistinct "
    "for approx_count_distinct, same plan shape. Oracle: per-column "
    "scalar aggregates UNION ALLed.",
)
def table_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impresso_ta.operators.validate import profile_columns

    docs = t(spark, sf_dir, "documents")
    return profile_columns(docs, ["doc_id", "lang", "source", "n_chars"])
