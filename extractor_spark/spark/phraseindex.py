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
  form — written in the ``termindex`` layout (term-hash bucket dirs,
  term-sorted within each).  Term-clustered row groups mean a later
  ``term IN (...)`` predicate prunes on row-group min/max stats, so
  serving never rescans the corpus; at 100 TB this is the standard
  "index once, serve many" amortization, and the per-term row layout has
  no giant-postings-row skew problem (a stopword's postings are millions
  of SMALL rows spread over splittable row groups, never one unsplittable
  array cell).
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

from .termindex import compact, pruned_scan, stream_appends, tokenize_expr, write_batch

_SORT = ("term", "doc_id", "pos")


def _postings(docs: DataFrame) -> DataFrame:
    """(term, doc_id, pos) rows, ``pos`` 1-based: one tokenize pass."""
    return docs.select(
        "doc_id", F.posexplode(tokenize_expr()).alias("pos0", "term")
    ).select("term", "doc_id", (F.col("pos0") + 1).alias("pos"))


def _side_tables(written: DataFrame) -> dict[str, DataFrame]:
    # per-batch postings count per term, which phrase_search folds to drive
    # intersection from the rarest leg
    return {"_df": written.groupBy("term").agg(F.count("*").alias("df"))}


def build_phrase_index(docs: DataFrame, path: str, n_partitions: int = 32) -> None:
    """Full (re)build: batch 0 over a fresh ``termindex`` root."""
    write_batch(_postings(docs), path, 0, _SORT, _side_tables, n_partitions,
                full_rebuild=True)


def append_phrase_index(
    docs: DataFrame, path: str, batch_id: int, n_partitions: int = 32
) -> None:
    """Incremental maintenance: one tokenize pass over the NEW batch only;
    postings and the batch's ``_df`` contribution land under
    ``batch=<id>``, and re-running a batch id overwrites it."""
    write_batch(_postings(docs), path, batch_id, _SORT, _side_tables, n_partitions)


def compact_phrase_index(
    spark: SparkSession, path: str, n_partitions: int = 32
) -> None:
    """Rewrite every batch into a single batch 0 (``termindex.compact``)."""
    compact(spark, path, _SORT, _side_tables, n_partitions)


def streaming_phrase_index(
    spark: SparkSession,
    docs_stream_dir: str,
    index_path: str,
    ckpt_dir: str,
) -> None:
    """One :func:`append_phrase_index` per (doc_id, text) file of the stream
    (``termindex.stream_appends``); streaming ≡ batch is pinned in
    tests/test_phrase_append.py."""
    stream_appends(spark, docs_stream_dir, index_path, ckpt_dir, append_phrase_index)


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

    idx = pruned_scan(spark, index_path, vocab)

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
