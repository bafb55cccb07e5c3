"""The term-index store: the one on-disk layout behind the stored phrase
index (phraseindex.py) and the stored BM25 index (bm25index.py).

Layout under an index root::

  bucket=<pmod(xxhash64(term), 256)>/batch=<id>/   posting rows
  _<name>/batch=<id>/                              per-batch side tables

The bucket directories are what make serving cheap: a query over k terms
touches at most k of the 256 buckets (PartitionFilters prune the rest at
planning time), and within a bucket rows are sorted by the index's sort
key, so row-group min/max stats prune further.  Measured on the phrase
index at 500k docs / 28.4M postings: the pruned vocabulary scan reads
3.8M rows in 0.6 s where a flat term-sorted layout re-scanned everything.

A batch is the unit of incremental maintenance (the incdedup convention):
an append writes one batch with a dynamic partition overwrite, so re-running
a batch id replaces exactly that batch's partitions and a retried append is
idempotent.  Batches must carry disjoint doc sets.  Side tables are derived
from the WRITTEN batch (a partition-pruned scan, not a second corpus pass)
and hold per-batch contributions that serving folds together.  The
underscore prefix keeps them invisible to parquet reads of the root.
"""

from __future__ import annotations

import glob
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources import drain_files, swap_store

N_TERM_BUCKETS = 256

SideTables = Callable[[DataFrame], dict[str, DataFrame]]


def tokenize_expr(col: str = "text"):
    """The corpus tokenize used across the text operators (whitespace on
    lowered, trimmed text) — index and query sides must split identically."""
    return F.split(F.trim(F.lower(F.col(col))), r"\s+")


def _bucket():
    return F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS))


def write_batch(
    postings: DataFrame,
    path: str,
    batch_id: int,
    sort_cols: tuple[str, ...],
    side_tables: SideTables,
    n_partitions: int = 32,
    full_rebuild: bool = False,
) -> None:
    """Write ``postings`` (with a ``term`` column) as batch ``batch_id`` at
    ``path``, then each side table ``side_tables(written_batch)`` returns
    under ``<path>/<name>/batch=<id>``.  ``full_rebuild`` wipes the whole
    root (static overwrite); otherwise only this batch is replaced."""
    batch = F.lit(int(batch_id))
    ow = "static" if full_rebuild else "dynamic"
    (
        postings.withColumn("bucket", _bucket())
        .withColumn("batch", batch)
        .repartition(n_partitions, "bucket")
        # led by the partition columns: the writer sorts by them unless the
        # input already is, and its sort would not keep the term order
        .sortWithinPartitions("bucket", "batch", *sort_cols)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", ow)
        .partitionBy("bucket", "batch")
        .parquet(path)
    )
    written = postings.sparkSession.read.parquet(path).where(F.col("batch") == batch)
    for name, table in side_tables(written).items():
        (
            table.withColumn("batch", batch)
            .repartition(8)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", ow)
            .partitionBy("batch")
            .parquet(f"{path}/{name}")
        )


def compact(
    spark: SparkSession,
    path: str,
    sort_cols: tuple[str, ...],
    side_tables: SideTables,
    n_partitions: int = 32,
) -> None:
    """Rewrite every batch into a single batch 0 (stored rows, no
    re-tokenize): after many small streaming appends a bucket holds one
    small file per batch, and compaction restores the build-once layout.
    Written beside the index and swapped in by the crash-safe
    ``sources.swap_store``."""

    def write_next(old: DataFrame, nxt: str) -> None:
        write_batch(old.drop("bucket", "batch"), nxt, 0, sort_cols, side_tables,
                    n_partitions, full_rebuild=True)

    swap_store(spark, path, write_next)


def stream_appends(
    spark: SparkSession,
    stream_dir: str,
    index_path: str,
    ckpt_dir: str,
    append: Callable[..., None],
) -> None:
    """Stream drain (``sources.drain_files``) over (doc_id, text) files:
    each microbatch runs ``append(batch_df, index_path, batch_id=...)``,
    whose idempotent partition overwrite makes a replayed microbatch land
    on identical content.

    Microbatch ids are scoped to the CHECKPOINT and start at 0, while
    ``batch=`` partitions are owned by whoever wrote them: a fresh
    checkpoint against an index that already holds batch 0 (from a build,
    an append, or a compaction) would silently overwrite it.  So the
    microbatch id is offset by one more than the index's max batch id,
    read ONCE and pinned in a sidecar file next to the checkpoint dir.
    Restarts of the SAME stream reuse the pinned offset (replayed
    microbatches still land on their own partitions), while a fresh
    checkpoint always starts past every batch it did not produce."""
    marker = ckpt_dir.rstrip("/") + ".index_batch_offset"
    if os.path.exists(marker):
        with open(marker) as f:
            off = int(f.read().strip())
    else:
        dirs = glob.glob(os.path.join(index_path, "bucket=*", "batch=*"))
        ids = [d.rsplit("=", 1)[1] for d in dirs]
        off = 1 + max((int(i) for i in ids if i.isdigit()), default=-1)
        os.makedirs(os.path.dirname(marker) or ".", exist_ok=True)
        with open(marker, "w") as f:
            f.write(str(off))

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        append(batch_df, index_path, batch_id=int(batch_id) + off)

    drain_files(spark, stream_dir, "doc_id long, text string", ckpt_dir, handle)


def pruned_scan(spark: SparkSession, path: str, vocab: list[str]) -> DataFrame:
    """Posting rows for a query vocabulary: partition-pruned to the
    vocabulary's buckets (bucket ids via the same JVM xxhash64 the build
    used — one driver-local job over |vocab| rows), then term-pruned via
    row-group stats."""
    buckets = sorted(
        {
            r["b"]
            for r in spark.createDataFrame([(w,) for w in vocab], "term string")
            .select(_bucket().alias("b"))
            .collect()
        }
    )
    return spark.read.parquet(path).where(
        F.col("bucket").isin(buckets) & F.col("term").isin(vocab)
    )
