"""Stored BM25 index: build-once ranked-retrieval postings + pruned serving.

The ranked-retrieval sibling of spark/phraseindex.py (same index-once
serve-many amortization, same 256 term-hash bucket layout so a query's
scan is partition-pruned at planning time).  Where the phrase index stores
positions for exact intersection, this stores per-(term, doc) term
frequencies plus the two corpus statistics BM25 needs (document frequency
per term; N and avgdl), so serving a query batch costs one pruned postings
scan + broadcast joins — never a corpus pass.

Semantics are identical to the fused registry query
(`queries.py:_BM25_BATCH_SPARK`: Okapi BM25, k1=1.2, b=0.75, Lucene's
non-negative idf, per-query top-10, 4-dp rounding, doc_id tie-break);
tests/test_bm25_index.py pins serve ≡ fused-SQL equality on the registry's
own query set, the partition-pruned scan, and OR-semantics for absent
terms.

Layout under ``path`` (the ``termindex`` store, batch-partitioned for
incremental maintenance — see :func:`append_bm25_index`):
  bucket=<0..255>/batch=<id>/  (term, doc_id, tf, dl) term-sorted row groups
  _df/batch=<id>/              per-term (df, tf_max, dl_min) contributions
  _stats/batch=<id>/           1 row (n_docs, sum_dl)
Serving folds the vocabulary-sized side tables across batches.

MaxScore-style pruned serving (Turtle & Flood 1995's upper-bound idea,
restructured as an exact TWO-PASS distributed plan rather than a
document-at-a-time traversal):

- Build stores, per term, ``ub`` = the exact maximum of that term's
  per-posting BM25 contribution over its actual postings (idf × the
  tf-saturation factor at the posting's own dl) — a data max, not a
  formula bound.
- Serving splits each query's terms into ESSENTIAL (df ≤ hot_df_frac × N)
  and HOT (stopword-class) legs.  Pass 1 scores only the essential
  postings (partition + dictionary pruned — at web scale this is the tiny
  fraction of the scan).  θ_lb(q) = the k-th largest pass-1 partial; any
  document containing NO essential term of q has full score ≤
  ub_N(q) = Σ ub over q's hot terms, so when ub_N(q) < θ_lb(q) − margin,
  such documents provably cannot enter the top-k.  Candidates are further
  pruned to partial + ub_N ≥ θ_lb − margin (typically ≈ k per query).
  Pass 2 scans the hot postings with the candidate (query, doc) set
  broadcast — the stopword postings are filtered MAP-SIDE, so the only
  corpus-sized shuffle of the naive plan (hot postings into the score
  aggregation) disappears.  Survivor scores are exact (every posting of
  every query term is summed), so the result is identical to the full
  plan; the margin (just over one 4-dp rounding grid step) makes the
  argument survive the final round(score, 4): raw scores separated by
  more than 1e-4 can never round to the same grid point, so a pruned
  doc's rounded score is strictly below the k-th survivor's and no doc_id
  tie-break can resurrect it.
- Per-query safety fallback: queries with no essential term, fewer than k
  essential candidates, or ub_N ≥ θ_lb − margin are served by the
  original single-pass plan (the tiled degenerate-vocab corpus in
  scripts/bench_retrieval_scale.py is the documented regime where the
  full plan IS the right plan); a total-candidate cap guards the
  broadcast.  tests/test_bm25_maxscore.py pins pruned ≡ full on a Zipf
  corpus with mixed rare+stopword queries, the forced-fallback path, and
  the stored-ub exactness invariant.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import caches
from .termindex import compact, pruned_scan, stream_appends, tokenize_expr, write_batch

K1 = 1.2
B = 0.75
# scores are rounded to 4 dp; raw scores separated by MORE than one grid
# step (1e-4) cannot round to the same grid point, so this margin keeps
# the pruning argument exact post-rounding
_ROUND_MARGIN = 1.1e-4
# terms in more than this fraction of the corpus are "hot" (stopword
# class): their postings are the bulk of a naive scan but their idf — and
# hence their stored ub — is small
_HOT_DF_FRAC = 1.0 / 16.0
# broadcast-safety cap on the total surviving candidate set
_MAX_CANDIDATES = 500_000

_SORT = ("term", "doc_id")


def _postings(docs: DataFrame) -> DataFrame:
    """(term, doc_id, tf, dl) rows: one tokenize pass."""
    return (
        docs.select("doc_id", tokenize_expr().alias("t"))
        .select("doc_id", F.size("t").alias("dl"), F.explode("t").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"), F.max("dl").alias("dl"))
    )


def _side_tables(written: DataFrame) -> dict[str, DataFrame]:
    # every doc contributes ≥1 posting (split of any text is non-empty), so
    # Σtf = Σdl; an empty batch stores sum_dl 0, not NULL, so the serve-time
    # fold stays a plain sum
    tf = F.col("tf").cast("double")
    return {
        "_stats": written.agg(
            F.countDistinct("doc_id").cast("double").alias("n_docs"),
            F.coalesce(F.sum("tf"), F.lit(0)).cast("double").alias("sum_dl"),
        ),
        "_df": written.groupBy("term").agg(
            F.count("*").cast("double").alias("df"),
            F.max(tf).alias("tf_max"),
            F.min(F.col("dl").cast("double")).alias("dl_min"),
        ),
    }


def build_bm25_index(docs: DataFrame, path: str, n_partitions: int = 32) -> None:
    """Full (re)build: batch 0 over a fresh index root."""
    write_batch(_postings(docs), path, 0, _SORT, _side_tables, n_partitions,
                full_rebuild=True)


def append_bm25_index(
    docs: DataFrame, path: str, batch_id: int, n_partitions: int = 32
) -> None:
    """Incremental index maintenance (the ``termindex`` batch convention:
    re-running a batch id OVERWRITES it, so a failed/retried append is
    idempotent; batches carry disjoint doc sets).

    Cost is ONE tokenize pass over the NEW batch only: the side tables
    store PER-BATCH contributions (``_df``: per-term (df, tf_max, dl_min);
    ``_stats``: (n_docs, sum_dl)) that serving folds together — no global
    recomputation on append.  MaxScore upper bounds are derived at serve
    time from the folded envelope: BM25's saturation factor is monotone
    increasing in tf and decreasing in dl, so
    idf(Σdf) · sat(max tf_max, min dl_min, global avgdl) dominates every
    actual posting contribution — a valid (slightly loose) bound, which is
    all the pruning proof needs."""
    write_batch(_postings(docs), path, batch_id, _SORT, _side_tables, n_partitions)


def compact_bm25_index(spark: SparkSession, path: str, n_partitions: int = 32) -> None:
    """Rewrite every batch into a single batch 0 (``termindex.compact``).
    Besides restoring term-sorted row groups per bucket, this TIGHTENS the
    MaxScore envelope back to a single fold (the folded corner
    (max tf_max, min dl_min) across batches is looser than the one-batch
    corner)."""
    compact(spark, path, _SORT, _side_tables, n_partitions)


def streaming_index_docs(
    spark: SparkSession,
    docs_stream_dir: str,
    index_path: str,
    ckpt_dir: str,
) -> None:
    """One :func:`append_bm25_index` per (doc_id, text) file of the stream
    (``termindex.stream_appends``); streaming ≡ batch is pinned in
    tests/test_bm25_append.py."""
    stream_appends(spark, docs_stream_dir, index_path, ckpt_dir, append_bm25_index)


def _contrib(n_docs: float, avgdl: float):
    """Per-posting BM25 contribution expression over (tf, dl, df) columns."""
    idf = F.log((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf = F.col("tf").cast("double")
    return idf * tf * (K1 + 1.0) / (
        tf + K1 * (1.0 - B + B * F.col("dl").cast("double") / F.lit(avgdl))
    )


def _serve_full(
    spark: SparkSession,
    index_path: str,
    term_meta: dict[str, tuple[float, float]],
    leg_rows: list[tuple[int, str]],
    n_docs: float,
    avgdl: float,
    topk: int,
) -> DataFrame:
    """The original single-pass plan: one pruned postings scan over ALL the
    queries' terms, one (query, doc) aggregation shuffle, one top-k window."""
    from pyspark.sql import Window

    vocab = sorted({t for _, t in leg_rows})
    legs = spark.createDataFrame(
        [(qid, t, term_meta[t][0]) for qid, t in leg_rows],
        "query_id int, term string, df double",
    )
    post = pruned_scan(spark, index_path, vocab)
    scored = (
        post.join(F.broadcast(legs), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(_contrib(n_docs, avgdl)), 4).cast("double").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= topk)
        .select("query_id", "doc_id", "score")
    )


def bm25_search_index(
    spark: SparkSession,
    index_path: str,
    queries: list[tuple[int, list[str]]],
    topk: int = 10,
    prune: bool = True,
    stats_out: dict | None = None,
) -> DataFrame:
    """Batch ranked retrieval: (query_id, doc_id, score) top-``topk`` per
    query, score DESC / doc_id ASC.  Absent query terms contribute nothing
    (bag-of-words OR semantics).

    With ``prune=True`` (default) the MaxScore two-pass plan serves every
    query whose per-query safety condition holds and falls back to the
    single-pass plan for the rest — results are identical either way (see
    module docstring for the exactness argument).  ``stats_out``, if given,
    receives {'pruned_queries', 'fallback_queries', 'candidates'}.
    """
    leg_rows = sorted(
        {(qid, t.strip().lower()) for qid, terms in queries for t in terms if t.strip()}
    )
    if stats_out is not None:
        stats_out.update(pruned_queries=0, fallback_queries=0, candidates=0)
    if not leg_rows:
        return spark.createDataFrame([], "query_id int, doc_id long, score double")
    vocab = sorted({t for _, t in leg_rows})

    # fold the per-batch side tables: n_docs/avgdl across batches, and per
    # term the global df plus the (tf_max, dl_min) saturation envelope
    srows = spark.read.parquet(index_path + "/_stats").collect()
    n_docs = float(sum(r["n_docs"] for r in srows))
    if n_docs == 0:
        return spark.createDataFrame([], "query_id int, doc_id long, score double")
    if srows and "sum_dl" in srows[0].asDict():
        avgdl = float(sum(r["sum_dl"] for r in srows)) / n_docs
    else:
        # legacy (pre-batch) side table stores avgdl directly — fold as a
        # doc-weighted mean so the no-envelope serve path below (has_ub
        # False → full scoring) is actually reachable for such indexes
        avgdl = float(sum(r["avgdl"] * r["n_docs"] for r in srows)) / n_docs
    df_tbl = spark.read.parquet(index_path + "/_df")
    has_ub = "tf_max" in df_tbl.columns
    aggs = [F.sum("df").alias("df")]
    if has_ub:
        aggs += [F.max("tf_max").alias("tf_max"), F.min("dl_min").alias("dl_min")]
    meta_rows = (
        df_tbl.where(F.col("term").isin(vocab)).groupBy("term").agg(*aggs).collect()
    )

    def _ub(df: float, tf_max: float, dl_min: float) -> float:
        # valid MaxScore bound: sat is monotone ↑ in tf, ↓ in dl, so the
        # envelope corner dominates every actual posting of the term
        idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        sat = tf_max * (K1 + 1.0) / (
            tf_max + K1 * (1.0 - B + B * dl_min / avgdl)
        )
        return idf * sat

    # vocabulary-sized driver map: term → (df, ub)
    term_meta = {
        r["term"]: (
            float(r["df"]),
            _ub(float(r["df"]), float(r["tf_max"]), float(r["dl_min"]))
            if has_ub
            else math.inf,
        )
        for r in meta_rows
    }
    # absent terms contribute nothing — drop their legs entirely
    leg_rows = [(q, t) for q, t in leg_rows if t in term_meta]
    if not leg_rows:
        return spark.createDataFrame([], "query_id int, doc_id long, score double")

    if not (prune and has_ub):
        if stats_out is not None:
            stats_out["fallback_queries"] = len({q for q, _ in leg_rows})
        return _serve_full(
            spark, index_path, term_meta, leg_rows, n_docs, avgdl, topk
        )

    hot_cap = max(float(topk), _HOT_DF_FRAC * n_docs)
    by_query: dict[int, list[str]] = {}
    for q, t in leg_rows:
        by_query.setdefault(q, []).append(t)
    ess_legs: list[tuple[int, str]] = []
    hot_legs: list[tuple[int, str]] = []
    ub_hot: dict[int, float] = {}
    fallback_q: set[int] = set()
    for q, terms in by_query.items():
        ess = [t for t in terms if term_meta[t][0] <= hot_cap]
        if not ess:
            fallback_q.add(q)  # all-stopword query: full plan is the plan
            continue
        ess_legs += [(q, t) for t in ess]
        hot = [t for t in terms if term_meta[t][0] > hot_cap]
        hot_legs += [(q, t) for t in hot]
        ub_hot[q] = sum(term_meta[t][1] for t in hot)

    result = None
    if ess_legs:
        from pyspark.sql import Window

        ess_vocab = sorted({t for _, t in ess_legs})
        legs1 = spark.createDataFrame(
            [(q, t, term_meta[t][0]) for q, t in ess_legs],
            "query_id int, term string, df double",
        )
        # bounded: Σ essential df ≤ |legs| × hot_cap
        partial, h = caches.local_checkpoint(
            pruned_scan(spark, index_path, ess_vocab)
            .join(F.broadcast(legs1), "term")
            .groupBy("query_id", "doc_id")
            .agg(F.sum(_contrib(n_docs, avgdl)).alias("partial"))
        )
        # the returned frame is lazy over this checkpoint: consumers release
        # it via queries.release_query_caches() (the caches.py contract)
        caches.register(h)
        w = Window.partitionBy("query_id").orderBy(F.col("partial").desc())
        theta_rows = (
            partial.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == topk)
            .select("query_id", "partial")
            .collect()
        )
        theta = {int(r["query_id"]): float(r["partial"]) for r in theta_rows}
        safe_q = {
            q
            for q in ub_hot
            if q in theta and ub_hot[q] < theta[q] - _ROUND_MARGIN
        }
        fallback_q |= set(ub_hot) - safe_q

        if safe_q:
            qmeta = spark.createDataFrame(
                [(q, theta[q], ub_hot[q]) for q in sorted(safe_q)],
                "query_id int, theta double, ub_hot double",
            )
            cand = (
                partial.join(F.broadcast(qmeta), "query_id")
                .where(
                    F.col("partial") + F.col("ub_hot")
                    >= F.col("theta") - F.lit(_ROUND_MARGIN)
                )
                .select("query_id", "doc_id", "partial")
            )
            n_cand = cand.count()
            if stats_out is not None:
                stats_out["candidates"] = n_cand
            if n_cand > _MAX_CANDIDATES:
                fallback_q |= safe_q
            else:
                hot_safe = [(q, t) for q, t in hot_legs if q in safe_q]
                if hot_safe:
                    legs2 = spark.createDataFrame(
                        [(q, t, term_meta[t][0]) for q, t in hot_safe],
                        "query_id int, term string, df double",
                    )
                    hot_vocab = sorted({t for _, t in hot_safe})
                    hot_sum = (
                        pruned_scan(spark, index_path, hot_vocab)
                        .join(F.broadcast(legs2), "term")
                        # the MaxScore payoff: stopword postings are cut to
                        # the candidate set MAP-SIDE, before any shuffle
                        .join(F.broadcast(cand.select("query_id", "doc_id")),
                              ["query_id", "doc_id"])
                        .groupBy("query_id", "doc_id")
                        .agg(F.sum(_contrib(n_docs, avgdl)).alias("hot"))
                    )
                    full = cand.join(hot_sum, ["query_id", "doc_id"], "left").select(
                        "query_id",
                        "doc_id",
                        (F.col("partial") + F.coalesce(F.col("hot"), F.lit(0.0))
                         ).alias("raw"),
                    )
                else:
                    full = cand.selectExpr(
                        "query_id", "doc_id", "partial AS raw"
                    )
                wk = Window.partitionBy("query_id").orderBy(
                    F.col("score").desc(), F.col("doc_id")
                )
                result = (
                    full.select(
                        "query_id",
                        "doc_id",
                        F.round(F.col("raw"), 4).cast("double").alias("score"),
                    )
                    .withColumn("rn", F.row_number().over(wk))
                    .where(F.col("rn") <= topk)
                    .select("query_id", "doc_id", "score")
                )
                if stats_out is not None:
                    stats_out["pruned_queries"] = len(safe_q - fallback_q)

    if stats_out is not None:
        stats_out["fallback_queries"] = len(fallback_q)
    if fallback_q:
        fb = _serve_full(
            spark,
            index_path,
            term_meta,
            [(q, t) for q, t in leg_rows if q in fallback_q],
            n_docs,
            avgdl,
            topk,
        )
        result = fb if result is None else result.unionByName(fb)
    if result is None:
        return spark.createDataFrame([], "query_id int, doc_id long, score double")
    return result
