"""Gates for incremental BM25 index maintenance (append_bm25_index).

Equivalence chain: appending the corpus in batches then serving ≡ a
from-scratch build over the union (exact row equality incl. scores), so
append inherits the serve path's transitively-pinned oracle strength.
Plus: retry idempotency (re-running a batch overwrites its partitions —
index content and serve results unchanged), per-batch side-table pruning
(an append's derivation scans only its own batch), and MaxScore pruned ≡
full on the multi-batch index (the envelope bound stays valid after
folding batches).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from extractor_spark.spark.bm25index import (
    append_bm25_index,
    bm25_search_index,
    build_bm25_index,
)
from extractor_spark.spark.queries import release_query_caches

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


def _queries_for(spark, docs):
    from extractor_spark.spark.phraseindex import tokenize_expr

    rows = (
        docs.select("doc_id", tokenize_expr().alias("t"))
        .where("doc_id % 50 = 0 AND size(t) >= 7")
        .selectExpr("doc_id", "array_distinct(slice(t, 5, 3)) AS terms")
        .collect()
    )
    return [(int(r["doc_id"]), list(r["terms"])) for r in rows]


def _rows(df):
    return {(r["query_id"], r["doc_id"]): r["score"] for r in df.collect()}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def test_batched_append_equals_scratch_build(spark, docs, tmp_path):
    inc = str(tmp_path / "inc")
    scratch = str(tmp_path / "scratch")
    build_bm25_index(docs, scratch)
    # disjoint thirds by doc_id
    build_bm25_index(docs.where("doc_id % 3 = 0"), inc)
    append_bm25_index(docs.where("doc_id % 3 = 1"), inc, batch_id=1)
    append_bm25_index(docs.where("doc_id % 3 = 2"), inc, batch_id=2)
    queries = _queries_for(spark, docs)
    assert queries
    got = _rows(bm25_search_index(spark, inc, queries, topk=10))
    release_query_caches()
    want = _rows(bm25_search_index(spark, scratch, queries, topk=10))
    release_query_caches()
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k

    # retry idempotency: re-append batch 1 → identical index + results
    n_before = spark.read.parquet(inc).count()
    append_bm25_index(docs.where("doc_id % 3 = 1"), inc, batch_id=1)
    assert spark.read.parquet(inc).count() == n_before
    again = _rows(bm25_search_index(spark, inc, queries, topk=10))
    release_query_caches()
    assert again == got


def test_side_tables_fold_across_batches(spark, docs, tmp_path):
    inc = str(tmp_path / "inc2")
    build_bm25_index(docs.where("doc_id % 2 = 0"), inc)
    append_bm25_index(docs.where("doc_id % 2 = 1"), inc, batch_id=1)
    srows = spark.read.parquet(inc + "/_stats").collect()
    assert sorted(r["batch"] for r in srows) == [0, 1]
    n_docs = sum(r["n_docs"] for r in srows)
    assert n_docs == docs.where("trim(text) IS NOT NULL").count()
    # folded df equals the true global document frequency
    dfs = (
        spark.read.parquet(inc + "/_df")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    true_df = (
        spark.read.parquet(inc)
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("want"))
    )
    bad = dfs.join(true_df, "term").where("df <> want").count()
    assert bad == 0


def test_maxscore_pruning_exact_on_appended_index(spark, tmp_path):
    """Zipf corpus split into 3 batches: pruned serve ≡ full serve, and
    pruning actually fires (the envelope bound survives batch folding)."""
    zdocs = spark.range(3000).selectExpr(
        "id AS doc_id",
        """concat_ws(' ', transform(sequence(1, 40), i ->
             concat('w', cast(floor(exp(
               (pmod(hash(id * 131 + i), 1000000) / 1000000.0) * ln(5000)
             )) AS string)))) AS text""",
    )
    inc = str(tmp_path / "zinc")
    build_bm25_index(zdocs.where("doc_id % 3 = 0"), inc)
    append_bm25_index(zdocs.where("doc_id % 3 = 1"), inc, batch_id=1)
    append_bm25_index(zdocs.where("doc_id % 3 = 2"), inc, batch_id=2)
    dfs = (
        spark.read.parquet(inc + "/_df")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    rare = [
        r["term"]
        for r in dfs.where("df BETWEEN 8 AND 40")
        .orderBy(F.desc("df"), "term")
        .limit(12)
        .collect()
    ]
    hot = [
        r["term"] for r in dfs.orderBy(F.desc("df"), "term").limit(2).collect()
    ]
    queries = [
        (q, [rare[2 * q], rare[2 * q + 1], hot[q % 2]]) for q in range(6)
    ]
    stats: dict = {}
    got = _rows(bm25_search_index(spark, inc, queries, topk=10, stats_out=stats))
    release_query_caches()
    want = _rows(bm25_search_index(spark, inc, queries, topk=10, prune=False))
    release_query_caches()
    assert got.keys() == want.keys()
    for k in want:
        # exact equality of the rounded scores (see test_bm25_maxscore)
        assert got[k] == want[k], k
    assert stats["pruned_queries"] >= 4, stats


def test_streaming_index_equals_batch_appends(spark, docs, tmp_path):
    """Structured-Streaming maintenance ≡ the batch append loop: one doc
    file per microbatch (maxFilesPerTrigger=1), served results identical
    to a from-scratch build over the union."""
    import os

    from extractor_spark.spark.bm25index import streaming_index_docs

    stream_dir = str(tmp_path / "stream_in")
    os.makedirs(stream_dir)
    # three disjoint doc files, written as separate parquet FILES inside
    # the stream dir (driver tables are single files; streams need dirs)
    for i in range(3):
        docs.where(f"doc_id % 3 = {i}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"part{i}"))
        import glob
        import shutil

        src = glob.glob(str(tmp_path / f"part{i}" / "*.parquet"))[0]
        shutil.copy(src, os.path.join(stream_dir, f"docs_{i}.parquet"))

    sidx = str(tmp_path / "sidx")
    streaming_index_docs(
        spark, stream_dir, sidx, ckpt_dir=str(tmp_path / "ckpt")
    )
    scratch = str(tmp_path / "scratch2")
    build_bm25_index(docs, scratch)
    queries = _queries_for(spark, docs)
    got = _rows(bm25_search_index(spark, sidx, queries, topk=10))
    release_query_caches()
    want = _rows(bm25_search_index(spark, scratch, queries, topk=10))
    release_query_caches()
    assert got.keys() == want.keys() and got
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k
    # the stream produced one batch per file
    batches = sorted(
        r["batch"]
        for r in spark.read.parquet(sidx + "/_stats").select("batch").collect()
    )
    assert batches == [0, 1, 2]


def test_compaction_preserves_serving_and_merges_batches(spark, docs, tmp_path):
    from extractor_spark.spark.bm25index import compact_bm25_index

    inc = str(tmp_path / "cmp")
    build_bm25_index(docs.where("doc_id % 3 = 0"), inc)
    append_bm25_index(docs.where("doc_id % 3 = 1"), inc, batch_id=1)
    append_bm25_index(docs.where("doc_id % 3 = 2"), inc, batch_id=2)
    queries = _queries_for(spark, docs)
    before = _rows(bm25_search_index(spark, inc, queries, topk=10))
    release_query_caches()
    n_postings = spark.read.parquet(inc).count()
    compact_bm25_index(spark, inc)
    # one batch left, same postings, identical served results
    assert sorted(
        r["batch"]
        for r in spark.read.parquet(inc + "/_stats").select("batch").collect()
    ) == [0]
    assert spark.read.parquet(inc).count() == n_postings
    assert (
        spark.read.parquet(inc).select("batch").distinct().collect()[0]["batch"] == 0
    )
    after = _rows(bm25_search_index(spark, inc, queries, topk=10))
    release_query_caches()
    assert after == before


def test_legacy_side_tables_fall_back_to_full_scoring(spark, docs, tmp_path):
    """A pre-batch-format index (df-only _df, n_docs/avgdl _stats) cannot
    prune — the serve path must reach the no-envelope fallback (not crash
    on the missing sum_dl column) and produce the standard full-scoring
    results."""
    import shutil

    idx = str(tmp_path / "idx")
    build_bm25_index(docs, idx)
    queries = _queries_for(spark, docs)
    want = _rows(bm25_search_index(spark, idx, queries, topk=10))
    release_query_caches()
    # rewrite the side tables in the legacy schema
    legacy_df = (
        spark.read.parquet(idx + "/_df")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .collect()
    )
    srows = spark.read.parquet(idx + "/_stats").collect()
    n_docs = int(sum(r["n_docs"] for r in srows))
    avgdl = float(sum(r["sum_dl"] for r in srows)) / n_docs
    shutil.rmtree(idx + "/_df")
    shutil.rmtree(idx + "/_stats")
    spark.createDataFrame(
        [(r["term"], int(r["df"])) for r in legacy_df], "term string, df long"
    ).write.parquet(idx + "/_df")
    spark.createDataFrame(
        [(n_docs, avgdl)], "n_docs bigint, avgdl double"
    ).write.parquet(idx + "/_stats")
    stats: dict = {}
    got = _rows(bm25_search_index(spark, idx, queries, topk=10, stats_out=stats))
    release_query_caches()
    assert stats["pruned_queries"] == 0 and stats["fallback_queries"] > 0
    assert got == want
