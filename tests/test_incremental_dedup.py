"""Incremental MinHash dedup (spark/incdedup.py) gates:

1. From-scratch reference equality — the persisted-store replay is pinned
   against an independent one-shot computation that builds bands for the
   WHOLE corpus at once with the shared functions (curate.py's
   shingle_sets / minhash_bands) and takes only strictly-earlier-batch
   verified matches in its own candidate + verify SQL (no store, no
   incremental code).
2. Planted near-copy: a batch-2 doc that is a near-copy of a batch-1 doc
   is flagged with the right attribution; a fresh doc is not.
3. Streaming (foreachBatch availableNow) ≡ the batch loop on the same
   chunking.
4. The streamed source-count store equals the batch aggregation, also
   when the store swap fails at any of its filesystem steps and the
   drain is run again on the same work_dir.
"""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from extractor_spark.spark.session import get_spark

    yield get_spark("incdedup-tests", cpus=8)


def _corpus(spark, sf_dir=SF_DIR):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "CAST(doc_id AS STRING) AS url", "text", "pmod(doc_id, 3) AS b"
    )


def _run_incremental(spark, docs, n_batches=3, threshold=0.8):
    from extractor_spark.spark.incdedup import dedup_batch

    work = tempfile.mkdtemp(prefix="incdedup_t_")
    try:
        rows = {}
        for b in range(n_batches):
            batch = docs.filter(F.col("b") == b).select("url", "text")
            v, h = dedup_batch(spark, work, batch, threshold=threshold, batch_id=b)
            for r in v.collect():
                rows[r["url"]] = (r["is_dup"], r["dup_of"])
            h.unpersist()
        return rows
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_incremental_matches_from_scratch_reference(spark):
    from extractor_spark.spark.curate import minhash_bands, shingle_sets

    docs = _corpus(spark)
    got = _run_incremental(spark, docs)

    # one-shot reference: full-corpus shingles + bands, candidates = band
    # collisions where the matched side sits in a STRICTLY EARLIER batch,
    # exact-Jaccard verify, min earlier url as attribution
    docs.createOrReplaceTempView("ref_docs")
    sh = shingle_sets(docs)
    sh.createOrReplaceTempView("ref_sh")
    minhash_bands(sh).createOrReplaceTempView("ref_bands")
    expected_matches = {
        r["url"]: r["dup_of"]
        for r in spark.sql(
            """
            WITH cand AS (
              SELECT DISTINCT nb.url AS b_url, sb.url AS s_url
              FROM ref_bands nb
              JOIN ref_bands sb
                ON nb.band_idx = sb.band_idx AND nb.band_hash = sb.band_hash
              JOIN ref_docs nd ON nd.url = nb.url
              JOIN ref_docs sd ON sd.url = sb.url
              WHERE sd.b < nd.b
            )
            SELECT c.b_url AS url, min(c.s_url) AS dup_of
            FROM cand c
            JOIN ref_sh s1 ON s1.url = c.b_url
            JOIN ref_sh s2 ON s2.url = c.s_url
            WHERE CAST(size(array_intersect(s1.hs, s2.hs)) AS DOUBLE)
                  / (size(s1.hs) + size(s2.hs)
                     - size(array_intersect(s1.hs, s2.hs))) >= 0.8
            GROUP BY c.b_url
            """
        ).collect()
    }
    n_docs = docs.count()
    assert len(got) == n_docs
    flagged = {u for u, (d, _a) in got.items() if d}
    assert flagged == set(expected_matches)
    assert len(flagged) > 0, "corpus should contain cross-batch near-dups"
    for u in flagged:
        assert got[u][1] == expected_matches[u], u


def test_planted_near_copy_flagged(spark):
    import pandas as pd

    base = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(59)) + " changed"
    fresh = " ".join(f"other{i}" for i in range(60))
    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                ("a1", base, 0),
                ("b1", near, 1),   # near-copy of a1 -> flagged, dup_of a1
                ("b2", fresh, 1),  # novel -> not flagged
                ("c1", base, 2),   # exact copy arriving later -> dup_of a1
            ],
            columns=["url", "text", "b"],
        )
    )
    got = _run_incremental(spark, docs)
    assert got["a1"] == (False, None)
    assert got["b1"] == (True, "a1")
    assert got["b2"] == (False, None)
    assert got["c1"] == (True, "a1")


def test_streaming_equals_batch_loop(spark, tmp_path):
    from extractor_spark.spark.incdedup import streaming_dedup

    docs = _corpus(spark)
    batch_rows = _run_incremental(spark, docs)

    stream_dir = os.path.join(str(tmp_path), "docs_stream")
    os.makedirs(stream_dir)
    # one parquet FILE per batch, written in arrival order (the file
    # source picks them up one per microbatch via maxFilesPerTrigger=1)
    for b in range(3):
        part_dir = os.path.join(str(tmp_path), f"part{b}")
        docs.filter(F.col("b") == b).select("url", "text").coalesce(1).write.mode(
            "overwrite"
        ).parquet(part_dir)
        src = next(
            f for f in os.listdir(part_dir) if f.endswith(".parquet")
        )
        shutil.copy(
            os.path.join(part_dir, src), os.path.join(stream_dir, f"batch_{b}.parquet")
        )

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out = streaming_dedup(spark, stream_dir, os.path.join(str(tmp_path), "work"))
    # every microbatch's verdict checkpoint is released with its batch
    assert set(jsc.getPersistentRDDs().keySet()) <= before
    stream_rows = {r["url"]: (r["is_dup"], r["dup_of"]) for r in out.collect()}
    assert stream_rows == batch_rows


def _source_count_stream(spark, tmp_path) -> str:
    """The sf documents as three (source, text) parquet files, one per
    microbatch."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "source", "text", "pmod(doc_id, 3) AS b"
    )
    stream_dir = os.path.join(str(tmp_path), "docs_stream")
    os.makedirs(stream_dir)
    for b in range(3):
        part_dir = os.path.join(str(tmp_path), f"part{b}")
        docs.filter(F.col("b") == b).select("source", "text").coalesce(1).write.mode(
            "overwrite"
        ).parquet(part_dir)
        src = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        shutil.copy(
            os.path.join(part_dir, src), os.path.join(stream_dir, f"chunk_{b}.parquet")
        )
    return stream_dir


def _batch_source_counts(spark):
    from extractor_spark.spark.queries import _SOURCE_KL_SC_SQL, _views

    _views(spark, SF_DIR)
    return spark.sql(_SOURCE_KL_SC_SQL)


def test_streaming_source_counts_match_batch_and_kl(spark, tmp_path):
    """Counts are associative: the streamed (source, w, c) store equals the
    one-shot batch aggregation exactly, and feeding the store to the KL
    SQL reproduces the batch source_drift_kl rows bit-for-bit."""
    from extractor_spark.spark.incdedup import streaming_source_counts
    from extractor_spark.spark.queries import _SOURCE_KL_SPARK

    stream_dir = _source_count_stream(spark, tmp_path)
    store = streaming_source_counts(spark, stream_dir, os.path.join(str(tmp_path), "w"))

    batch_counts = _batch_source_counts(spark)
    got = {(r["source"], r["w"]): r["c"] for r in store.collect()}
    want = {(r["source"], r["w"]): r["c"] for r in batch_counts.collect()}
    assert got == want

    # KL from the streamed store == the batch query rows exactly
    batch_counts.createOrReplaceTempView("source_kl_sc")
    batch_kl = {tuple(r) for r in spark.sql(_SOURCE_KL_SPARK).collect()}
    store.createOrReplaceTempView("source_kl_sc")
    stream_kl = {tuple(r) for r in spark.sql(_SOURCE_KL_SPARK).collect()}
    assert stream_kl == batch_kl


# Ordinal of the failing call among the os.rename/shutil.rmtree calls on
# the store's paths, counted from the start of the drain: batch 0 renames
# its new store in; batch 1 renames the old store aside, renames the new
# one in, then deletes the aside copy.
_SWAP_STEPS = {
    "first_store_in": 0,
    "old_store_aside": 1,
    "next_store_in": 2,
    "drop_aside": 3,
}


@pytest.mark.parametrize("step", list(_SWAP_STEPS))
def test_streaming_source_counts_survive_swap_crash(spark, tmp_path, monkeypatch, step):
    """A store swap that raises at one filesystem step fails its
    microbatch; draining again on the same work_dir replays that
    microbatch and must end with exactly the batch aggregation — no
    batch lost (a deleted store with the new one not yet renamed in) and
    none summed twice (a replay after the new store went in)."""
    from extractor_spark.spark.incdedup import streaming_source_counts

    stream_dir = _source_count_stream(spark, tmp_path)
    work = os.path.join(str(tmp_path), "w")
    store_dir = os.path.join(work, "srccnt_store")
    calls: list = []

    def failing_once(real):
        def call(path, *args, **kwargs):
            if str(path).startswith(store_dir):
                calls.append(path)
                if len(calls) - 1 == _SWAP_STEPS[step]:
                    raise OSError(f"injected failure at {step}")
            return real(path, *args, **kwargs)

        return call

    monkeypatch.setattr(os, "rename", failing_once(os.rename))
    monkeypatch.setattr(shutil, "rmtree", failing_once(shutil.rmtree))
    with pytest.raises(Exception, match="injected failure"):
        streaming_source_counts(spark, stream_dir, work)
    store = streaming_source_counts(spark, stream_dir, work)

    got = {(r["source"], r["w"]): r["c"] for r in store.collect()}
    want = {(r["source"], r["w"]): r["c"] for r in _batch_source_counts(spark).collect()}
    assert got == want


def test_batch_replay_is_idempotent(spark):
    """At-least-once streaming semantics: re-running a batch AFTER its
    first attempt already wrote the store (the retry case) produces the
    identical verdicts — the probe reads only batch< partitions, so a
    batch never sees its own first attempt — and the per-batch partition
    OVERWRITE leaves the store without duplicates."""
    import pandas as pd

    from extractor_spark.spark.incdedup import BANDS_SUBDIR, dedup_batch

    base = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(59)) + " changed"
    docs = spark.createDataFrame(
        pd.DataFrame(
            [("a1", base, 0), ("b1", near, 1), ("b2", base + " tail x", 1)],
            columns=["url", "text", "b"],
        )
    )
    work = tempfile.mkdtemp(prefix="incdedup_replay_")
    try:
        handles = []
        for b in range(2):
            batch = docs.filter(F.col("b") == b).select("url", "text")
            v1, h1 = dedup_batch(spark, work, batch, batch_id=b)
            handles.append(h1)
        first = sorted(tuple(r) for r in v1.collect())
        bands_rows = spark.read.parquet(os.path.join(work, BANDS_SUBDIR)).count()

        # retry batch 1: store already holds its first attempt
        batch = docs.filter(F.col("b") == 1).select("url", "text")
        v2, h2 = dedup_batch(spark, work, batch, batch_id=1)
        assert sorted(tuple(r) for r in v2.collect()) == first
        for h in handles + [h2]:
            h.unpersist()
        # overwrite, not append: store row count unchanged
        assert (
            spark.read.parquet(os.path.join(work, BANDS_SUBDIR)).count()
            == bands_rows
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
