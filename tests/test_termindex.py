"""Gates for the term-index store both stored indexes share
(spark/termindex.py), run once per index: every bucket file is in sort-key
order, an empty append leaves serving unchanged, a stream restarted over
its checkpoint reuses the pinned batch offset, and a fresh-checkpoint
stream lands past every existing batch."""

from __future__ import annotations

import glob
import os
import shutil
from types import SimpleNamespace

import pytest

from extractor_spark.spark import bm25index, phraseindex
from extractor_spark.spark.queries import release_query_caches
from extractor_spark.spark.termindex import tokenize_expr

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def _query_slices(docs, expr):
    """Per sampled doc, ``expr`` over its tokens 5..7 as column ``q``."""
    return (
        docs.select("doc_id", tokenize_expr().alias("t"))
        .where("doc_id % 50 = 0 AND size(t) >= 7")
        .selectExpr("doc_id", f"{expr} AS q")
        .collect()
    )


def _serve_phrase(spark, path, docs):
    rows = _query_slices(docs, "concat_ws(' ', slice(t, 5, 3))")
    phrases = sorted({r["q"] for r in rows})
    return sorted(
        tuple(r) for r in phraseindex.phrase_search(spark, path, phrases).collect()
    )


def _serve_bm25(spark, path, docs):
    queries = [
        (int(r["doc_id"]), list(r["q"]))
        for r in _query_slices(docs, "array_distinct(slice(t, 5, 3))")
    ]
    got = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25index.bm25_search_index(spark, path, queries, topk=10).collect()
    }
    release_query_caches()
    return got


def _same_phrase(got, want):
    assert got and got == want


def _same_bm25(got, want):
    assert got.keys() == want.keys() and got
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k


def _batches(spark, path, table, distinct):
    rows = spark.read.parquet(f"{path}/{table}").select("batch")
    return sorted(r["batch"] for r in (rows.distinct() if distinct else rows).collect())


INDEXES = [
    pytest.param(
        SimpleNamespace(
            build=phraseindex.build_phrase_index,
            sort_cols=phraseindex._SORT,
            append=phraseindex.append_phrase_index,
            stream=phraseindex.streaming_phrase_index,
            serve=_serve_phrase,
            same=_same_phrase,
            batches=lambda spark, path: _batches(spark, path, "_df", True),
        ),
        id="phrase",
    ),
    pytest.param(
        SimpleNamespace(
            build=bm25index.build_bm25_index,
            sort_cols=bm25index._SORT,
            append=bm25index.append_bm25_index,
            stream=bm25index.streaming_index_docs,
            serve=_serve_bm25,
            same=_same_bm25,
            # one _stats row per batch
            batches=lambda spark, path: _batches(spark, path, "_stats", False),
        ),
        id="bm25",
    ),
]


def _add_stream_file(docs, tmp_path, stream_dir, i):
    """Third ``i`` of the corpus as one parquet FILE in ``stream_dir``
    (driver tables are single files; streams need dirs)."""
    part = str(tmp_path / f"part{i}")
    docs.where(f"doc_id % 3 = {i}").coalesce(1).write.mode("overwrite").parquet(part)
    os.makedirs(stream_dir, exist_ok=True)
    shutil.copy(
        glob.glob(part + "/*.parquet")[0],
        os.path.join(stream_dir, f"docs_{i}.parquet"),
    )


def _assert_serves_like_scratch_build(spark, docs, tmp_path, ix, idx):
    scratch = str(tmp_path / "scratch")
    ix.build(docs, scratch)
    ix.same(ix.serve(spark, idx, docs), ix.serve(spark, scratch, docs))


@pytest.mark.parametrize("ix", INDEXES)
def test_bucket_files_in_sort_key_order(docs, tmp_path, ix):
    """Rows inside every written bucket file are in the index's sort-key
    order — the order its row-group min/max pruning relies on — and not
    just grouped by the (bucket, batch) partition columns."""
    import pyarrow.parquet as pq

    idx = str(tmp_path / "idx")
    ix.build(docs, idx)
    files = glob.glob(os.path.join(idx, "bucket=*", "batch=*", "*.parquet"))
    assert files
    cols = list(ix.sort_cols)
    for f in files:
        t = pq.ParquetFile(f).read(columns=cols)
        keys = list(zip(*(t.column(c).to_pylist() for c in cols)))
        assert keys == sorted(keys), f


@pytest.mark.parametrize("ix", INDEXES)
def test_empty_append_leaves_serving_unchanged(spark, docs, tmp_path, ix):
    """A 0-row batch (an empty file landing in a stream) contributes
    nothing: serving after it equals serving before it."""
    idx = str(tmp_path / "idx")
    ix.build(docs, idx)
    before = ix.serve(spark, idx, docs)
    assert before
    ix.append(docs.limit(0), idx, batch_id=1)
    assert ix.serve(spark, idx, docs) == before


@pytest.mark.parametrize("ix", INDEXES)
def test_streaming_fresh_checkpoint_offsets_past_existing_batches(
    spark, docs, tmp_path, ix
):
    """Microbatch ids are checkpoint-scoped and restart at 0 — a stream
    started with a FRESH checkpoint against an index that already holds
    batch 0 must append PAST it (the offset sidecar), never silently
    overwrite it via the idempotent partition-overwrite convention."""
    idx = str(tmp_path / "idx")
    ix.build(docs.where("doc_id % 3 = 0"), idx)  # owns batch 0
    stream_dir = str(tmp_path / "stream_in")
    for i in (1, 2):
        _add_stream_file(docs, tmp_path, stream_dir, i)
    ix.stream(spark, stream_dir, idx, str(tmp_path / "fresh_ckpt"))
    assert ix.batches(spark, idx) == [0, 1, 2]  # batch 0 untouched
    _assert_serves_like_scratch_build(spark, docs, tmp_path, ix, idx)


@pytest.mark.parametrize("ix", INDEXES)
def test_streaming_restart_reuses_pinned_offset(spark, docs, tmp_path, ix):
    """A drain restarted over the SAME checkpoint reuses the offset pinned
    by its first run, so its next microbatch lands right after the batches
    it already wrote — re-reading the index's max batch id instead would
    skip an id (and a replayed microbatch would miss its own partitions)."""
    idx = str(tmp_path / "idx")
    ix.build(docs.where("doc_id % 3 = 0"), idx)
    stream_dir = str(tmp_path / "stream_in")
    ckpt = str(tmp_path / "ckpt")
    _add_stream_file(docs, tmp_path, stream_dir, 1)
    ix.stream(spark, stream_dir, idx, ckpt)
    _add_stream_file(docs, tmp_path, stream_dir, 2)
    ix.stream(spark, stream_dir, idx, ckpt)
    assert ix.batches(spark, idx) == [0, 1, 2]
    _assert_serves_like_scratch_build(spark, docs, tmp_path, ix, idx)
