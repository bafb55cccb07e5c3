"""Corpus → BPE token-id training shards (the tokenize-and-pack endgame of
a pre-training data pipeline: Sennrich et al. 2016 subword encoding + the
GPT-style concat-then-chunk packing every trainer consumes).

Composes the pinned pieces end-to-end, Spark-first:

- **Encoding defaults to the distinct-word amortization** (the trainer's
  own trick): each distinct word is folded through the merge table ONCE
  (``bpe._merge_fold`` — the SAME expression the trainer applied, so
  encoding is exactly the transformation training performed), joined back
  to the positional occurrences, and reassembled per doc.  An "inline"
  strategy (fold per occurrence, zero shuffles) exists as the independent
  second implementation for the cross-strategy equality gate — MEASURED
  slower (414 docs/s at 50k docs/16 merges vs thousands for the join
  path) because Catalyst evaluates nested higher-order aggregates outside
  whole-stage codegen, so per-occurrence CPU dominates the two
  array-packed shuffles the join path pays.
- **The id vocabulary is provably bounded**: every post-merge symbol is
  either a single character (or the ``</w>`` end-of-word mark) or the
  output of one of the ``n_merges`` merge rules — |vocab| ≤ |alphabet| +
  n_merges + 1 regardless of corpus size.  Ids are assigned by sorted
  symbol (deterministic) and shipped as a broadcast map literal.
- **Packing is exact concat-then-chunk**: doc start offsets via the
  two-level distributed prefix sum (per-partition cumsum + broadcast
  partition offsets — the `sequence_packing`/curate decomposition, never
  a SinglePartition window), then each doc emits one row PER OVERLAPPING
  SEQUENCE carrying an array slice (a doc straddling k sequences emits k
  array-packed rows, not n_tokens exploded rows), and sequences reassemble
  with one groupBy(seq_id).  Every sequence has exactly ``seq_len`` ids
  except the final partial one.

Non-BMP words are filtered exactly as in training (``bpe._BMP_ONLY`` —
the Java/Python shared domain); decoding splits on ``</w>``.

Gates (tests/test_tokenshards.py): exact roundtrip (decode(shards) ==
the filtered corpus word stream in pack order), token-frequency equality
vs the independently-gated ``encode_bpe_df`` path, per-sequence length
invariant + conservation, determinism, and a pure-Python reference
encoder on a hand corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bpe import _BMP_ONLY, _EOW, _char_syms, _merge_fold


def _words_expr(text_col="text"):
    """Doc → BMP-only word array (the trainer's tokenize + domain filter)."""
    return F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda t: (t != "") & t.rlike(_BMP_ONLY),
    )


def _encode_word_expr(word, merges):
    sym = _char_syms(word)
    for _rank, left, right, _n in merges:
        sym = _merge_fold(sym, left, right)
    return sym


def bpe_vocab(docs: DataFrame, merges: list[tuple[int, str, str, int]]) -> list[str]:
    """Sorted id vocabulary: characters observed in the (filtered) corpus,
    the ``</w>`` mark, and each merge's output symbol.  Bounded by
    |alphabet| + n_merges + 1; the distinct-chars pass collects only that."""
    chars = [
        r["c"]
        for r in docs.select(
            F.explode(
                F.array_distinct(
                    F.flatten(
                        F.transform(
                            _words_expr(),
                            lambda w: F.filter(
                                F.split(w, "(?!^)"), lambda c: c != ""
                            ),
                        )
                    )
                )
            ).alias("c")
        )
        .distinct()
        .collect()
    ]
    merged = [left + right for _rank, left, right, _n in merges]
    return sorted(set(chars) | {_EOW} | set(merged))


def encode_corpus_ids(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    vocab: list[str],
    strategy: str = "join",
) -> DataFrame:
    """(doc_id, ids array<int>, n_tokens).

    strategy="join" (default): the distinct-word amortization — each
    distinct word is folded through the merge table ONCE (vocabulary-sized
    CPU), then joined back to the positional word occurrences and
    reassembled per doc (two corpus-word-keyed shuffles carrying small
    array rows).  strategy="inline": zero shuffles, but the nested fold
    chain runs per word OCCURRENCE — measured 414 docs/s at 50k docs / 16
    merges vs thousands for the join path, because Catalyst evaluates
    higher-order aggregates outside whole-stage codegen; kept as the
    shuffle-free alternative and as an independent implementation for the
    cross-strategy equality gate."""
    id_map = F.create_map(
        *[x for i, t in enumerate(vocab) for x in (F.lit(t), F.lit(i))]
    )
    if strategy == "inline":
        tokens = F.flatten(
            F.transform(_words_expr(), lambda w: _encode_word_expr(w, merges))
        )
        return docs.select(
            "doc_id",
            F.transform(tokens, lambda t: id_map[t].cast("int")).alias("ids"),
        ).select("doc_id", "ids", F.size("ids").cast("bigint").alias("n_tokens"))

    word_ids = (
        docs.select(F.explode(_words_expr()).alias("word"))
        .distinct()
        .select(
            "word",
            F.transform(
                _encode_word_expr(F.col("word"), merges),
                lambda t: id_map[t].cast("int"),
            ).alias("wids"),
        )
    )
    occ = docs.select(
        "doc_id", F.posexplode(_words_expr()).alias("pos", "word")
    )
    per_doc = (
        occ.join(word_ids, "word")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "wids"))),
                    lambda s: s["wids"],
                )
            ).alias("ids")
        )
    )
    # docs whose every word was filtered (or empty docs) must still appear
    # with an empty id array — exact parity with the inline strategy
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("ids", F.array().cast("array<int>")).alias("ids"),
        )
        .select("doc_id", "ids", F.size("ids").cast("bigint").alias("n_tokens"))
    )


def pack_token_shards(
    encoded: DataFrame, seq_len: int, n_parts: int = 16,
    shuffle_seed: int | None = None,
) -> DataFrame:
    """Exact fixed-length sequences (seq_id, token_ids) from per-doc id
    arrays, docs concatenated and split across sequence boundaries.  Two
    shuffles total: the range partition behind the prefix sum and the
    seq_id reassembly.

    ``shuffle_seed``: compose packs over a seeded deterministic global
    shuffle order (xxhash64(doc_id, seed), doc_id tiebreak) instead of
    doc_id order — the standard pre-training document shuffle (curate's
    ``shuffle_seed`` convention), so a sequence mixes documents rather
    than concatenating neighbors; same seed → identical packs."""
    from pyspark.sql import Window

    from . import caches

    spark = encoded.sparkSession
    # repartitionByRange runs a range-SAMPLING job over its input before
    # the real pass — persist the encode so the sample and the checkpoint
    # write share one evaluation instead of running the encode twice
    base = encoded.where(F.col("n_tokens") > 0)
    if shuffle_seed is not None:
        base = base.withColumn(
            "_ord", F.xxhash64(F.col("doc_id"), F.lit(int(shuffle_seed)))
        )
        order_cols = ["_ord", "doc_id"]
    else:
        order_cols = ["doc_id"]
    base = base.persist()
    parts, h = caches.local_checkpoint(  # the totals collect materializes it
        base.repartitionByRange(n_parts, *order_cols).withColumn(
            "_pid", F.spark_partition_id()
        ),
        eager=False,
    )
    totals = parts.groupBy("_pid").agg(F.sum("n_tokens").alias("t")).collect()
    # the returned shards frame is lazy over the checkpointed encoding —
    # consumers release via queries.release_query_caches()
    caches.register(h)
    base.unpersist()  # the checkpoint is materialized; base has no consumers
    by_pid = {r["_pid"]: r["t"] for r in totals}
    offsets, acc = [], 0
    for pid in sorted(by_pid):
        offsets.append((pid, acc))
        acc += by_pid[pid]
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _offset bigint")
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    with_start = (
        parts.withColumn("_cs", F.sum("n_tokens").over(w))
        .join(F.broadcast(off_df), "_pid")
        .select(
            "doc_id",
            "ids",
            "n_tokens",
            (F.col("_offset") + F.col("_cs") - F.col("n_tokens")).alias("start"),
        )
    )
    L = F.lit(seq_len)
    pieces = (
        with_start.select(
            "ids",
            "n_tokens",
            "start",
            F.explode(
                F.sequence(
                    F.floor(F.col("start") / L),
                    F.floor((F.col("start") + F.col("n_tokens") - 1) / L),
                )
            ).alias("seq_id"),
        )
        .select(
            "seq_id",
            # 1-based slice bounds of this doc's overlap with [seq_id*L, ...)
            F.greatest(F.col("seq_id") * L - F.col("start"), F.lit(0)).alias("_lo"),
            F.least(
                (F.col("seq_id") + 1) * L - F.col("start"), F.col("n_tokens")
            ).alias("_hi"),
            "ids",
            "start",
        )
        .select(
            "seq_id",
            (F.col("start") + F.col("_lo")).alias("piece_start"),
            F.slice(
                "ids", (F.col("_lo") + 1).cast("int"), (F.col("_hi") - F.col("_lo")).cast("int")
            ).alias("piece"),
        )
    )
    return (
        pieces.groupBy("seq_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("piece_start", "piece"))),
                    lambda s: s["piece"],
                )
            ).alias("token_ids")
        )
        .select("seq_id", "token_ids")
    )


def tokenize_pack(
    docs: DataFrame,
    n_merges: int = 24,
    seq_len: int = 1024,
    shuffle_seed: int | None = None,
) -> tuple[list[tuple[int, str, str, int]], list[str], DataFrame]:
    """learn merges → derive vocab → encode → pack.  Returns
    (merges, vocab, shards); shards is lazy over the encoding pass."""
    from .bpe import learn_bpe

    merges = learn_bpe(docs, n_merges=n_merges)
    vocab = bpe_vocab(docs, merges)
    encoded = encode_corpus_ids(docs, merges, vocab)
    return merges, vocab, pack_token_shards(
        encoded, seq_len, shuffle_seed=shuffle_seed
    )


def decode_ids(token_ids: list[int], vocab: list[str]) -> list[str]:
    """Shard → word list (driver-side test/inspection helper): concatenate
    symbols, split on the ``</w>`` end-of-word mark."""
    text = "".join(vocab[i] for i in token_ids)
    words = text.split(_EOW)
    return [w for w in words if w != ""]
