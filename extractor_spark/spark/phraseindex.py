"""Positional inverted index: distributed build + arbitrary-length phrase serving.

The index-and-serve layer a web corpus needs for exact-phrase retrieval
(quote attribution, contamination auditing, "which training docs contain
this sentence") — the operator class Lucene/Elasticsearch fill in serving
stacks, expressed Spark-first.  No analog in the reference (it extracts
single pages); semantics are the textbook positional-postings model
(Manning/Raghavan/Schütze IR ch. 2: phrase queries via positional
intersection).

Two pieces:

- ``build_phrase_index(docs, path)``: ONE tokenize pass explodes
  (term, doc_id, pos) rows — the positional postings in flat columnar
  form — repartitioned BY TERM and sorted within partitions, then written
  to parquet.  Term-clustered row groups mean a later ``term IN (...)``
  predicate prunes on row-group min/max stats, so serving never rescans
  the corpus; at 100 TB this is the standard "index once, serve many"
  amortization, and the per-term row layout has no giant-postings-row
  skew problem (a stopword's postings are millions of SMALL rows spread
  over splittable row groups, never one unsplittable array cell).
- ``phrase_search(spark, path, phrases)``: arbitrary-k exact-phrase
  lookup in ONE index scan + ONE shuffle, phrase length notwithstanding.
  Each phrase is decomposed into (term, offset) legs; the index is
  filtered to the query vocabulary (pushdown-pruned scan), broadcast-
  joined against the tiny leg table, and a candidate start ``pos -
  offset`` matches iff ALL k offsets are present:
  ``count(distinct offset) == k`` grouped by (phrase, doc, start) — the
  classic positional-intersection algorithm as a single aggregation
  instead of k−1 self-joins.  Repeated terms in a phrase ("the cat the")
  and overlapping occurrences ("a a" in "a a a") fall out correctly from
  the distinct-offset count; tests pin both.

The registry query (`queries.py:_PHRASE_SPARK`) is the fixed-k=3 fused
form of the same semantics (trigram explode + broadcast phrase join, one
corpus pass, no stored artifact) with an exact DuckDB twin; this module
is the general-k production path, gated by a brute-force Python twin and
a pushdown plan test (tests/test_phrase_search.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def tokenize_expr(col: str = "text"):
    """The corpus tokenize used across the text operators (whitespace on
    lowered, trimmed text) — index and query sides must split identically."""
    return F.split(F.trim(F.lower(F.col(col))), r"\s+")


N_TERM_BUCKETS = 256


def build_phrase_index(docs: DataFrame, path: str, n_partitions: int = 32) -> None:
    """Full (re)build: one batch-0 append over a fresh index root.

    Layout: ``bucket=pmod(xxhash64(term), 256)/batch=<id>/`` directories of
    (term, doc_id, pos) rows, ``pos`` 1-based.  The bucket directories are
    what make serving cheap: a k-term phrase touches ≤k of 256 partitions
    (PartitionFilters prune the rest at planning time — the same serving
    layout as the IVF index), and within a bucket rows are term-sorted so
    row-group min/max stats prune further.  Measured at 500k docs / 28.4M
    postings: the pruned vocabulary scan reads 3.8M rows in 0.6 s where
    the flat term-sorted layout re-scanned everything (32 files ≈ one row
    group each — nothing skipped).
    """
    append_phrase_index(docs, path, batch_id=0, n_partitions=n_partitions,
                        full_rebuild=True)


def append_phrase_index(
    docs: DataFrame,
    path: str,
    batch_id: int,
    n_partitions: int = 32,
    full_rebuild: bool = False,
) -> None:
    """Incremental maintenance, the bm25index/incdedup convention: one
    tokenize pass over the NEW batch only; postings land under
    ``bucket=…/batch=<id>/`` and the per-batch (term, df) contribution
    under ``_df/batch=<id>/`` — serving folds the vocabulary-sized side
    table.  Batches must carry disjoint doc sets; re-running a batch id
    overwrites its partitions (retry-idempotent dynamic overwrite)."""
    idx = docs.select(
        "doc_id", F.posexplode(tokenize_expr()).alias("pos0", "term")
    ).select(
        "term",
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS)).alias("bucket"),
        F.lit(int(batch_id)).alias("batch"),
    )
    ow = "static" if full_rebuild else "dynamic"
    (
        idx.repartition(n_partitions, "bucket")
        .sortWithinPartitions("term", "doc_id", "pos")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", ow)
        .partitionBy("bucket", "batch")
        .parquet(path)
    )
    # per-batch document-frequency contribution (vocab-sized), used by
    # phrase_search to drive intersection from the rarest leg.  Computed
    # from the WRITTEN batch (partition-pruned, term-column-only scan —
    # cheaper than re-running the explode).  The underscore prefix makes
    # the subdir invisible to parquet reads of `path` itself.
    (
        docs.sparkSession.read.parquet(path)
        .where(F.col("batch") == int(batch_id))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .withColumn("batch", F.lit(int(batch_id)))
        .repartition(8)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", ow)
        .partitionBy("batch")
        .parquet(path + "/_df")
    )


def compact_phrase_index(
    spark: SparkSession, path: str, n_partitions: int = 32
) -> None:
    """Rewrite every batch into a single batch 0 (pure row rewrite, no
    re-tokenize): restores term-sorted row groups per bucket after many
    small streaming appends.  Written beside the index and swapped in by
    the crash-safe ``sources.swap_store``."""
    from .sources import swap_store

    def write_next(old: DataFrame, nxt: str) -> None:
        postings = old.select("term", "doc_id", "pos", "bucket").withColumn(
            "batch", F.lit(0)
        )
        (
            postings.repartition(n_partitions, "bucket")
            .sortWithinPartitions("term", "doc_id", "pos")
            .write.mode("overwrite")
            .partitionBy("bucket", "batch")
            .parquet(nxt)
        )
        (
            spark.read.parquet(nxt)
            .groupBy("term")
            .agg(F.count("*").alias("df"))
            .withColumn("batch", F.lit(0))
            .repartition(8)
            .write.mode("overwrite")
            .partitionBy("batch")
            .parquet(nxt + "/_df")
        )

    swap_store(spark, path, write_next)


def stream_batch_offset(index_path: str, ckpt_dir: str) -> int:
    """Stable offset added to Structured Streaming microbatch ids before
    they become index batch ids.

    Microbatch ids are scoped to the CHECKPOINT and start at 0, while
    ``batch=`` partitions are owned by whoever wrote them — a stream
    started with a fresh checkpoint against an index that already holds
    batch 0 (from a build, prior appends, or a compaction, which folds
    everything into batch 0) would silently overwrite those partitions
    via the idempotent dynamic-partition-overwrite convention.  The
    offset is read ONCE from the index's max existing batch id and pinned
    in a sidecar file next to the checkpoint dir, so restarts of the SAME
    stream reuse it (replayed microbatches still land on their own
    partitions — replay idempotency is unchanged) while a fresh
    checkpoint always starts past every batch it did not produce.
    """
    import glob
    import os

    marker = ckpt_dir.rstrip("/") + ".index_batch_offset"
    if os.path.exists(marker):
        with open(marker) as f:
            return int(f.read().strip())
    mx = -1
    for d in glob.glob(os.path.join(index_path, "bucket=*", "batch=*")):
        try:
            mx = max(mx, int(os.path.basename(d).split("=", 1)[1]))
        except ValueError:
            pass
    off = mx + 1
    os.makedirs(os.path.dirname(marker) or ".", exist_ok=True)
    with open(marker, "w") as f:
        f.write(str(off))
    return off


def streaming_phrase_index(
    spark: SparkSession,
    docs_stream_dir: str,
    index_path: str,
    ckpt_dir: str,
) -> None:
    """Stream drain (``sources.drain_files``) over (doc_id, text) files —
    each microbatch appends under its batch-id partitions, so replayed
    microbatches land on identical content (streaming ≡ batch pinned in
    tests/test_phrase_append.py).  Batch ids are offset past any batches
    an earlier build/append/compact already owns
    (:func:`stream_batch_offset`)."""
    from .sources import drain_files

    off = stream_batch_offset(index_path, ckpt_dir)

    def handle(batch_df, batch_id: int) -> None:
        append_phrase_index(batch_df, index_path, batch_id=int(batch_id) + off)

    drain_files(spark, docs_stream_dir, "doc_id long, text string", ckpt_dir, handle)


def _phrase_legs(phrases: list[str]) -> list[tuple]:
    """(phrase_id, term, offset, k) rows for every term position."""
    rows = []
    for pid, p in enumerate(phrases):
        toks = p.strip().lower().split()
        if not toks:
            raise ValueError(f"empty phrase at index {pid}")
        for j, w in enumerate(toks):
            rows.append((pid, w, j, len(toks)))
    return rows


def _pruned_index(spark: SparkSession, index_path: str, vocab: list[str]) -> DataFrame:
    """Index rows for a query vocabulary: partition-pruned to ≤|vocab| of
    the 256 bucket dirs (bucket ids via the same JVM xxhash64 the build
    used — one driver-local job over |vocab| rows), then term-pruned via
    row-group stats."""
    buckets = sorted(
        {
            r["b"]
            for r in spark.createDataFrame([(w,) for w in vocab], "term string")
            .select(F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS)).alias("b"))
            .collect()
        }
    )
    return spark.read.parquet(index_path).where(
        F.col("bucket").isin(buckets) & F.col("term").isin(vocab)
    )


def phrase_search(
    spark: SparkSession,
    index_path: str,
    phrases: list[str],
    max_candidate_rows: int = 2_000_000,
) -> DataFrame:
    """Every occurrence of every phrase: (phrase_id, doc_id, start).

    Two serving strategies, chosen by COST from the index's postings-count
    side table (the classic IR "drive by the rarest term"):

    - **candidate-driven** (when the rarest leg per phrase is rare enough
      that the summed candidate set fits a broadcast, ≤
      ``max_candidate_rows``): candidates = rarest leg's postings shifted
      to phrase starts; every other leg's postings stream MAP-SIDE against
      the broadcast candidates — a phrase with one rare word never
      shuffles its stopword legs' postings (measured 14.4 → 4.9 s on the
      500k-doc probe's rare+stopword phrase; the remainder is fixed
      per-job overhead, not data volume).
    - **aggregation fallback** (all legs hot / candidate set too big to
      broadcast): one pruned scan + broadcast legs join + ONE map-side-
      combined count(*) shuffle grouped by (phrase, doc, start) —
      (phrase_id, doc_id, start, offset) is unique by construction (index
      rows are distinct (doc_id, pos); start = pos − offset), so count(*)
      equals count(DISTINCT offset) without the two-shuffle distinct agg.

    Both paths return identical rows (pinned by tests); cost is
    ∝ the query terms' postings, never the corpus size.
    """
    legs_rows = _phrase_legs(phrases)
    vocab = sorted({t for _, t, _, _ in legs_rows})

    # postings counts for the query vocabulary (vocab-sized lookup), folded
    # across the index's batch partitions (one row per batch per term)
    counts = {
        r["term"]: r["df"]
        for r in spark.read.parquet(index_path + "/_df")
        .where(F.col("term").isin(vocab))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .collect()
    }
    # rarest leg per phrase (missing term ⇒ 0 postings ⇒ no matches, and
    # the candidate side is empty — correct and cheap)
    rarest: dict[int, tuple] = {}
    for pid, term, off, k in legs_rows:
        c = counts.get(term, 0)
        if pid not in rarest or c < rarest[pid][0]:
            rarest[pid] = (c, term, off, k)
    cand_total = sum(c for c, _, _, _ in rarest.values())

    idx = _pruned_index(spark, index_path, vocab)

    if cand_total > max_candidate_rows:
        legs = spark.createDataFrame(
            legs_rows, "phrase_id int, term string, offset int, k int"
        )
        return (
            idx.join(F.broadcast(legs), "term")
            .groupBy(
                "phrase_id",
                "doc_id",
                (F.col("pos") - F.col("offset")).alias("start"),
                "k",
            )
            .agg(F.count("*").alias("n_legs"))
            .where((F.col("n_legs") == F.col("k")) & (F.col("start") >= 1))
            .select(
                "phrase_id", "doc_id", F.col("start").cast("long").alias("start")
            )
        )

    rare_legs = spark.createDataFrame(
        [(pid, t, o) for pid, (_, t, o, _) in rarest.items()],
        "phrase_id int, term string, offset int",
    )
    cand = (
        idx.join(F.broadcast(rare_legs), "term")
        .select(
            "phrase_id",
            "doc_id",
            (F.col("pos") - F.col("offset")).cast("long").alias("start"),
        )
        .where(F.col("start") >= 1)
    )
    k1_pids = [pid for pid, (_, _, _, k) in rarest.items() if k == 1]
    other_rows = [
        (pid, t, o, k)
        for pid, t, o, k in legs_rows
        if (t, o) != (rarest[pid][1], rarest[pid][2]) and k > 1
    ]
    parts = []
    if k1_pids:
        parts.append(
            cand.join(
                F.broadcast(
                    spark.createDataFrame([(p,) for p in k1_pids], "phrase_id int")
                ),
                "phrase_id",
                "left_semi",
            )
        )
    if other_rows:
        other_legs = spark.createDataFrame(
            other_rows, "phrase_id int, term string, offset int, k int"
        )
        parts.append(
            idx.join(F.broadcast(other_legs), "term")
            .select(
                "phrase_id",
                "doc_id",
                (F.col("pos") - F.col("offset")).cast("long").alias("start"),
                "k",
            )
            .join(F.broadcast(cand), ["phrase_id", "doc_id", "start"], "left_semi")
            .groupBy("phrase_id", "doc_id", "start", "k")
            .agg(F.count("*").alias("n_other"))
            .where(F.col("n_other") == F.col("k") - 1)
            .select("phrase_id", "doc_id", "start")
        )
    if not parts:
        return cand.limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
