"""Distributed BPE merge induction — tokenizer training over the corpus
(Sennrich et al. 2016), the step that turns a prepared corpus into the
vocabulary its trainer tokenizes with.

Scale shape (the MLlib-KMeans pattern):
the corpus is aggregated ONCE into a (word, count) vocabulary — the only
corpus-sized stage, map-side combined on the uniform word key. Every
merge iteration then runs on the vocabulary frame (tiny — thousands of
rows regardless of corpus size): explode adjacent symbol pairs weighted
by word count, one aggregate, collect exactly ONE row (the argmax pair,
ties broken lexicographically), and apply the merge as a literal string
replace. n_merges driver round-trips of one row each.

Engine-portable merge application: symbol sequences are encoded with
TWO-space delimiters ("  h  a  t  </w>  ") so the non-overlapping
left-to-right scan of plain ``replace`` (identical in Spark, DuckDB and
Python) merges every adjacent occurrence — the pattern consumes one
space from each side, leaving the neighbor's delimiter intact. No regex,
no lookarounds (RE2-safe for the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END_OF_WORD = "</w>"


def _initial_vocab(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt, seq): corpus word counts with the character-split
    double-space-delimited symbol sequence."""
    words = (
        docs.select(
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.substring(F.col("word"), i, 1),
    )
    seq = F.concat(
        F.lit("  "),
        F.array_join(chars, "  "),
        F.lit("  " + END_OF_WORD + "  "),
    )
    return words.select("word", "cnt", seq.alias("seq"))


def _pair_counts(vocab: DataFrame) -> DataFrame:
    symbols = F.split(F.trim(F.col("seq")), r"  ")
    n = F.size(symbols)
    shifted = F.slice(symbols, 2, F.greatest(n - 1, F.lit(1)))
    pairs = F.zip_with(
        F.slice(symbols, 1, F.greatest(n - 1, F.lit(1))),
        shifted,
        lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
    )
    return (
        vocab.select("cnt", F.explode(pairs).alias("p"))
        .filter(F.col("p.rhs").isNotNull())
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("cnt").alias("pair_cnt"))
    )


def _select_exact_batch(
    top_rows, remaining: int, batch_m: int
) -> list[tuple[str, str, int]]:
    """Longest prefix of the (cnt desc, lhs, rhs)-sorted pair list that is
    provably equal, applied as a batch, to taking the same merges
    one-at-a-time:

    1. **prefix, pairwise symbol-disjoint** — disjoint merges leave each
       other's pair counts unchanged, so their relative (count, lex)
       order survives every earlier merge in the batch;
    2. **strictly above the first excluded pair's count** — any pair a
       merge (a,b) creates (x,"ab")/("ab",y) or decreases is
       count-bounded by a pre-merge pair sharing a symbol with (a,b),
       and every sharing pair ranks outside the disjoint prefix; the
       strict bound means no created/decreased/excluded pair can
       overtake (or lex-tie into) a batch slot.

    Trailing members violating (2) are dropped; the head pair alone is
    always exact (the classic single-merge step), so a batch of ≥1
    survives whenever any pair exists.
    """
    limit = min(batch_m, remaining)
    batch: list[tuple[str, str, int]] = []
    used: set[str] = set()
    excluded_cnt: int | None = None
    for row in top_rows:
        lhs, rhs, cnt = row["lhs"], row["rhs"], int(row["pair_cnt"])
        if len(batch) >= limit or lhs in used or rhs in used:
            excluded_cnt = cnt
            break
        batch.append((lhs, rhs, cnt))
        used.add(lhs)
        used.add(rhs)
    if excluded_cnt is not None:
        while len(batch) > 1 and batch[-1][2] <= excluded_cnt:
            batch.pop()
    return batch


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    batch_m: int = 64,
    checkpoint_every: int = 16,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges over the corpus.

    Returns (merges, final_vocab): merges as (lhs, rhs, pair_count) in
    learned order; final_vocab the (word, cnt, seq) frame after all
    merges (seq split on double spaces = the token sequence).

    Batched merge selection: each pair-count job fetches the top
    ``batch_m + 1`` pairs and accepts the exact batch of
    :func:`_select_exact_batch`, so training costs
    ~n_merges/|batch| Spark jobs instead of one job per merge — the
    sequential-job ceiling that made 32k-merge tokenizers untenable.
    The learned merge sequence is IDENTICAL to ``batch_m=1`` (the
    classic loop) on every input; batching only changes how many merges
    each job is allowed to confirm. Default 64: measured at sf1
    (256-merge run, r10) 86.6 s at batch_m=16 vs 55.8 s at 64 vs
    64.7 s at 128 — acceptance is bounded by count ties, so beyond ~64
    the bigger top-(m+1) fetch costs more than the extra confirmations
    it wins; the sequence was byte-identical at all three settings.

    Persist discipline: a generation's cache blocks are dropped only
    AFTER its child has materialized (the next pair-count job), so no
    job ever replays the replace chain from ``_initial_vocab``. Every
    ``checkpoint_every`` batches the vocabulary is ``localCheckpoint``ed
    (eager): lineage truncates to the checkpointed blocks, so a deep run
    (32k merges ≈ 2k batches) carries a constant-depth plan instead of a
    2k-deep replace chain that swamps the analyzer — and at most two
    generations of blocks are ever live (VERDICT r3 #4).
    """
    vocab = _initial_vocab(docs, text_col).persist()
    merges: list[tuple[str, str, int]] = []
    retire: DataFrame | None = None  # parent awaiting its child's action
    n_batches = 0
    while len(merges) < n_merges:
        top = (
            _pair_counts(vocab)
            .orderBy(F.desc("pair_cnt"), F.asc("lhs"), F.asc("rhs"))
            .limit(batch_m + 1)
            .collect()
        )
        if retire is not None:  # this collect materialized vocab
            retire.unpersist()
            retire = None
        batch = _select_exact_batch(top, n_merges - len(merges), batch_m)
        if not batch:
            break
        merges.extend(batch)
        seq = F.col("seq")
        for lhs, rhs, _ in batch:
            seq = F.replace(
                seq, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} ")
            )
        nxt = vocab.select("word", "cnt", seq.alias("seq"))
        n_batches += 1
        if checkpoint_every and n_batches % checkpoint_every == 0:
            # eager: materializes from the still-cached parent, then the
            # parent can go immediately (one extra job per cadence)
            nxt = nxt.localCheckpoint(eager=True)
            vocab.unpersist()
        else:
            retire, nxt = vocab, nxt.persist()
        vocab = nxt
    if retire is not None:
        # the returned vocab may not have materialized yet; dropping the
        # parent here means a caller consuming it replays at most the
        # narrow replace chain back to the last checkpoint — bounded by
        # checkpoint_every generations, vs leaking the parent's blocks
        retire.unpersist()
    return merges, vocab


def bpe_merge_table(
    docs: DataFrame, n_merges: int = 3, text_col: str = "text"
) -> DataFrame:
    """The learned merge table as a DataFrame (rank, lhs, rhs, pair_cnt)
    — the oracle-checkable face of :func:`bpe_train`."""
    merges, vocab = bpe_train(docs, n_merges=n_merges, text_col=text_col)
    vocab.unpersist()
    spark = docs.sparkSession
    return spark.createDataFrame(
        [
            (i + 1, lhs, rhs, cnt)
            for i, (lhs, rhs, cnt) in enumerate(merges)
        ],
        "rank int, lhs string, rhs string, pair_cnt bigint",
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
    engine: str = "arrow",
) -> DataFrame:
    """Tokenize the corpus with a learned merge list: per-word symbol
    sequences re-derived by applying the merges in order.

    Returns (id, tokens array, n_tokens).

    ``engine="arrow"`` (default, r12, guide §4.2): one mapInArrow pass
    encodes each DISTINCT word once per task (memo dict) with plain
    ``str.replace`` — the identical non-overlapping left-to-right
    semantics as SQL ``replace`` — instead of running the interpreted
    per-word char-split + replace-chain lambda per occurrence. Zero
    shuffle either way; bit parity (including the empty-token
    ``sequence(1,0)`` quirk) pinned by tests/test_text_arrow.py.
    ``engine="expr"``: the pure column-expression chain (one codegen'd
    scan — its per-word lambda runs interpreted).
    """
    if engine == "arrow":
        return _bpe_encode_arrow(docs, merges, id_col, text_col)
    word_tokens = F.transform(
        F.split(F.trim(F.col(text_col)), r"\s+"),
        lambda w: _encode_word_expr(w, merges),
    )
    tokens = F.flatten(word_tokens)
    return docs.select(
        F.col(id_col),
        tokens.alias("tokens"),
        F.size(tokens).cast("long").alias("n_tokens"),
    )


def _encode_word_py(
    w: str, merges: list[tuple[str, str, int]]
) -> list[str]:
    """Python twin of :func:`_encode_word_expr` for ONE word.

    Spark quirk replicated exactly: for the empty word,
    ``sequence(1, length(w))`` is ``sequence(1, 0)`` which DESCENDS
    ([1, 0]) — two empty substrings, so the char array is ["", ""].
    ``str.replace`` == SQL ``replace`` (non-overlapping left-to-right);
    the final split is on the literal two-space delimiter of the
    trimmed sequence (no trailing empties arise: the seq ends in
    "</w>" after trim).
    """
    chars = list(w) if w else ["", ""]
    seq = "  " + "  ".join(chars) + "  " + END_OF_WORD + "  "
    for lhs, rhs, _ in merges:
        seq = seq.replace(f" {lhs}  {rhs} ", f" {lhs}{rhs} ")
    return seq.strip(" ").split("  ")


def _bpe_encode_arrow(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    id_col: str,
    text_col: str,
) -> DataFrame:
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from impresso_ta.operators.arrowkit import java_tokens
    from impresso_ta.operators.partitioning import spread_small_input

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("tokens", ArrayType(StringType())),
            StructField("n_tokens", LongType()),
        ]
    )
    arrow_schema = to_arrow_schema(out_schema)
    base = spread_small_input(
        docs.select(F.col(id_col).cast("long").alias(id_col), F.col(text_col))
    )
    frozen = [(lhs, rhs) for lhs, rhs, _ in merges]

    def fn(batches):
        memo: dict[str, list[str]] = {}

        def enc(w: str) -> list[str]:
            t = memo.get(w)
            if t is None:
                if len(memo) > 1_000_000:
                    memo.clear()
                t = _encode_word_py(w, [(a, b, 0) for a, b in frozen])
                memo[w] = t
            return t

        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            o_id, o_t, o_n = [], [], []
            for i, text in zip(ids, texts):
                o_id.append(i)
                if text is None:
                    o_t.append(None)
                    o_n.append(None)
                    continue
                toks: list[str] = []
                for w in java_tokens(text):
                    toks.extend(enc(w))
                o_t.append(toks)
                o_n.append(len(toks))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_id, type=pa.int64()),
                    pa.array(o_t, type=arrow_schema.field(1).type),
                    pa.array(o_n, type=pa.int64()),
                ],
                schema=arrow_schema,
            )

    return base.mapInArrow(fn, schema=out_schema)


def _encode_word_expr(word, merges: list[tuple[str, str, int]]):
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.substring(word, i, 1),
    )
    seq = F.concat(
        F.lit("  "),
        F.array_join(chars, "  "),
        F.lit("  " + END_OF_WORD + "  "),
    )
    for lhs, rhs, _ in merges:
        seq = F.replace(
            seq, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} ")
        )
    return F.split(F.trim(seq), r"  ")
