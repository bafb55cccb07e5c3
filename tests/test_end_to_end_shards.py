"""Whole-pipeline composition: synthesized HTML pages → extract pipeline
(HTML→markdown→text) → curation funnel → BPE token-id training shards —
the complete raw-web-to-trainer path, every stage an independently gated
operator.  The gate here is the composition only: the final shards decode
back to the curated corpus's word stream in pack order, and the counts
thread through (curated docs = shard-manifest docs)."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))

from extractor_spark.spark.queries import release_query_caches

pytestmark = pytest.mark.spark


def test_pages_to_token_shards(spark, tmp_path):
    from tokenize_pack import run_job

    from extractor_spark.spark.curate import curate
    from extractor_spark.spark.pipeline import PipelineConfig, run_pipeline
    from extractor_spark.spark.synth import write_pages
    from extractor_spark.spark.tokenshards import decode_ids

    pages = str(tmp_path / "pages.parquet")
    out = str(tmp_path / "out")
    curated = str(tmp_path / "curated")
    shards_dir = str(tmp_path / "shards_run")

    write_pages(spark, pages, n_pages=300)
    run_pipeline(
        spark,
        PipelineConfig(
            pages_path=pages,
            output_path=out,
            schema=None,
            n_buckets=8,
            resume=False,
        ),
    )
    stats = curate(spark, out, curated, min_tokens=5)
    release_query_caches()
    assert stats["after_quality_filter"] > 0

    # the curation funnel exports JSONL (sources.write_output)
    docs = (
        spark.read.json(curated)
        .select(F.xxhash64("url").alias("doc_id"), "text")
        .where("text IS NOT NULL")
    )
    n_curated = docs.count()
    docs_path = str(tmp_path / "docs.parquet")
    docs.write.mode("overwrite").parquet(docs_path)

    os.makedirs(shards_dir)
    manifest = run_job(spark, docs_path, shards_dir, n_merges=8, seq_len=256)
    release_query_caches()
    assert manifest["n_docs"] == n_curated
    assert manifest["n_seqs"] > 0

    vocab = [
        r["token"]
        for r in spark.read.parquet(os.path.join(shards_dir, "vocab"))
        .orderBy("id")
        .collect()
    ]
    shard_rows = (
        spark.read.parquet(os.path.join(shards_dir, "shards"))
        .orderBy("seq_id")
        .collect()
    )
    stream = [i for r in shard_rows for i in r["token_ids"]]
    assert len(stream) == manifest["n_tokens"]
    want_words = [
        w
        for row in sorted(docs.collect(), key=lambda r: r["doc_id"])
        for w in row["text"].strip().lower().split()
        if w and all(ord(c) <= 0xFFFF for c in w)
    ]
    assert decode_ids(stream, vocab) == want_words
