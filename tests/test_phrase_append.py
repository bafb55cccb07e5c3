"""Gates for incremental phrase-index maintenance (append_phrase_index).

Same equivalence chain as the BM25 index: batched appends then serving ≡
a from-scratch build over the union (exact (phrase_id, doc_id, start)
equality), retry idempotency, folded rarest-leg df counts, streaming ≡
batch replay, and compaction preserving served results while merging
batches."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from extractor_spark.spark.phraseindex import (
    append_phrase_index,
    build_phrase_index,
    compact_phrase_index,
    phrase_search,
    streaming_phrase_index,
    tokenize_expr,
)

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def _phrases(spark, docs):
    rows = (
        docs.select("doc_id", tokenize_expr().alias("t"))
        .where("doc_id % 50 = 0 AND size(t) >= 7")
        .selectExpr("concat_ws(' ', slice(t, 5, 3)) AS p")
        .collect()
    )
    return sorted({r["p"] for r in rows})


def _rows(spark, path, phrases):
    return sorted(
        tuple(r) for r in phrase_search(spark, path, phrases).collect()
    )


def test_batched_append_streaming_and_compaction(spark, docs, tmp_path):
    phrases = _phrases(spark, docs)
    assert phrases

    scratch = str(tmp_path / "scratch")
    build_phrase_index(docs, scratch)
    want = _rows(spark, scratch, phrases)
    assert want

    # batch appends over disjoint thirds
    inc = str(tmp_path / "inc")
    build_phrase_index(docs.where("doc_id % 3 = 0"), inc)
    append_phrase_index(docs.where("doc_id % 3 = 1"), inc, batch_id=1)
    append_phrase_index(docs.where("doc_id % 3 = 2"), inc, batch_id=2)
    assert _rows(spark, inc, phrases) == want

    # retry idempotency
    n_before = spark.read.parquet(inc).count()
    append_phrase_index(docs.where("doc_id % 3 = 1"), inc, batch_id=1)
    assert spark.read.parquet(inc).count() == n_before
    assert _rows(spark, inc, phrases) == want

    # streaming drain, one file per microbatch
    stream_dir = str(tmp_path / "stream_in")
    os.makedirs(stream_dir)
    for i in range(3):
        part = str(tmp_path / f"part{i}")
        docs.where(f"doc_id % 3 = {i}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(part)
        shutil.copy(
            glob.glob(part + "/*.parquet")[0],
            os.path.join(stream_dir, f"docs_{i}.parquet"),
        )
    sidx = str(tmp_path / "sidx")
    streaming_phrase_index(spark, stream_dir, sidx, str(tmp_path / "ckpt"))
    assert sorted(
        r["batch"]
        for r in spark.read.parquet(sidx + "/_df")
        .select("batch")
        .distinct()
        .collect()
    ) == [0, 1, 2]
    assert _rows(spark, sidx, phrases) == want

    # compaction: one batch left, identical results, postings preserved
    n_post = spark.read.parquet(sidx).count()
    compact_phrase_index(spark, sidx)
    assert spark.read.parquet(sidx).count() == n_post
    assert [
        r["batch"]
        for r in spark.read.parquet(sidx).select("batch").distinct().collect()
    ] == [0]
    assert _rows(spark, sidx, phrases) == want

