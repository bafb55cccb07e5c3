"""Distributed BPE merge learning (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units", ACL — public algorithm).

Training a subword vocabulary is a standard step of every large-scale
text pipeline (the reference's LLM-extraction stage consumes token
budgets; its tokenizer-side twin here already exists as the
``bpe_token_counts`` query).  This module learns the MERGE TABLE itself
from a corpus, Spark-first:

- The corpus collapses to a (word, cnt) vocabulary once — the classic
  trick that makes BPE training corpus-size-independent: at 100 TB the
  distinct-word table is ~10^8-10^9 rows while the corpus is 10^12 docs,
  and every later round touches only the vocabulary.
- Each round is exactly ONE Spark job: pair counts are a map-side-
  combined groupBy over the symbol sequences (zip_with of the sequence
  against its own tail — no posexplode of positions), the argmax row
  (count desc, pair asc — deterministic tie-break) is the only thing the
  driver ever receives, and the merge is applied JVM-side as an
  ``F.aggregate`` left-fold over each symbol array (no Python in the
  loop).  The new state takes a LAZY localCheckpoint whose materializing
  action is the next round's argmax, previous-round blocks released
  after the action — the flat-lineage protocol of
  ``tuning.checkpoint_loop``, shared with webgraph.pagerank.
- Words containing astral (non-BMP) code points are filtered on BOTH
  engine and twin sides: Java regex splits strings by UTF-16 code unit,
  Python by code point, so BMP-only is the exactly-shared domain (the
  filter is a single code-point class check, applied identically).

Gates (tests/test_bpe_learn.py): exact merge-sequence equality against
an independent dict-based reference BPE trainer, overlapping-pair
left-to-right semantics ("aaaa" style), determinism, one-job-per-round
lineage flatness via the caches registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import caches
from .tuning import checkpoint_loop, loop_partitions, scoped_loop_conf

_BMP_ONLY = "^[\u0000-\uffff]+$"  # Java regex: code-point class, astral excluded
_EOW = "</w>"


def _tokens(docs: DataFrame):
    return docs.select(
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("word")
    )


def _merge_fold(sym, left: str, right: str):
    """One BPE merge applied to a symbol array as a JVM-side left-fold
    (overlapping occurrences merge left-to-right — the classic semantics).
    Shared by the trainer's per-round apply and the encoder, so encoding
    is exactly the transformation training performed."""
    merged = left + right
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _char_syms(word_col):
    """word → [chars..., </w>] (Spark split keeps the trailing empty that
    the (?!^) end-of-string lookahead produces at limit=-1 — drop it)."""
    return F.concat(
        F.filter(F.split(word_col, "(?!^)"), lambda c: c != ""),
        F.array(F.lit(_EOW)),
    )


def learn_bpe(docs: DataFrame, n_merges: int = 24) -> list[tuple[int, str, str, int]]:
    """Learn `n_merges` BPE merges from the corpus's text column.

    Returns [(rank, left, right, pair_count), ...] in merge order —
    driver-sized by construction (one row per merge)."""
    spark = docs.sparkSession
    vocab = (
        _tokens(docs)
        .filter(F.col("word").rlike(_BMP_ONLY))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .select("cnt", _char_syms(F.col("word")).alias("sym"))
    )
    state, handle = caches.local_checkpoint(vocab, eager=False)

    # r6: the merge loop's shuffle width follows the vocabulary size
    # (tuning.py) — the count below materializes the initial checkpoint,
    # which round 1's argmax needed anyway; all counts are integers, so
    # partitioning cannot change any result.  Unlike the host-graph
    # loops, each state row carries a symbol ARRAY and every round
    # re-runs a per-row pair explode — CPU-heavy per row — so the
    # rows-per-partition target is 16x smaller than the default
    # (measured: width 1 at a ~40k-word vocab serialized the explode and
    # cost ~1.5 s/query; ~3k rows/partition restores the parallelism
    # while still avoiding full-width 32-task rounds at tiny vocabs).
    n_parts = loop_partitions(
        spark.sparkContext, state.count(), rows_per_partition=3_000
    )

    # loop-invariant Columns hoisted out of the rounds (r6): Columns are
    # immutable and reusable across DataFrames, and each F.* call is a py4j
    # round-trip — only the merge fold depends on the round's argmax
    c_pairs = F.explode(
        F.zip_with(
            F.slice(F.col("sym"), 1, F.greatest(F.size("sym") - 1, F.lit(0))),
            F.slice(F.col("sym"), 2, F.greatest(F.size("sym") - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        )
    ).alias("p")
    c_l = F.col("p.l").alias("l")
    c_r = F.col("p.r").alias("r")
    c_n = F.sum("cnt").alias("n")
    c_order = F.col("n").desc()
    merges: list[tuple[int, str, str, int]] = []

    def learn_next(state) -> bool:
        """The round's ONE action: the argmax pair of ``state`` (it
        materializes the state's checkpoint).  True = stop."""
        pairs = state.select("cnt", c_pairs).groupBy(c_l, c_r).agg(c_n)
        best = pairs.orderBy(c_order, "l", "r").limit(1).collect()
        if not best:
            return True
        merges.append(
            (len(merges), best[0]["l"], best[0]["r"], int(best[0]["n"]))
        )
        return len(merges) == n_merges

    def apply_last(state):
        _, left, right, _ = merges[-1]
        return state.select(
            "cnt", _merge_fold(F.col("sym"), left, right).alias("sym")
        )

    with scoped_loop_conf(spark, n_parts):
        if n_merges > 0 and not learn_next(state):
            _, handle = checkpoint_loop(state, handle, apply_last, learn_next)
    handle.unpersist()
    return merges


def encode_bpe_df(
    docs: DataFrame, merges: list[tuple[int, str, str, int]], top_k: int = 200
) -> DataFrame:
    """Tokenize the corpus with a learned merge table and return the
    corpus-wide subword frequency table (token, freq) — the
    tokenizer-QA artifact (coverage/fertility checks) every tokenizer
    training run produces.

    Scale shape: the SAME distinct-word trick as training — each distinct
    word is encoded once (vocabulary-sized work, corpus-size-independent),
    weighted by its corpus count; the merge table is a driver-side list
    baked into a static chain of ``_merge_fold`` expressions (24 merges =
    24 nested JVM folds, zero Python, zero extra shuffles beyond the
    vocab groupBy and the token-frequency groupBy).  Applying merges in
    rank order with the shared fold reproduces exactly the trainer's
    final symbol state."""
    vocab = (
        _tokens(docs)
        .filter(F.col("word").rlike(_BMP_ONLY))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    sym = _char_syms(F.col("word"))
    for _rank, left, right, _n in merges:
        sym = _merge_fold(sym, left, right)
    return (
        vocab.select("cnt", F.explode(sym).alias("token"))
        .groupBy("token")
        .agg(F.sum("cnt").cast("bigint").alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(top_k)
    )


def learn_bpe_df(docs: DataFrame, n_merges: int = 24) -> DataFrame:
    """learn_bpe as a DataFrame (rank, left, right, pair_count)."""
    spark = docs.sparkSession
    rows = learn_bpe(docs, n_merges=n_merges)
    schema = "rank int, left string, right string, pair_count bigint"
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(rows, schema)
