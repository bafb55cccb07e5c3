"""Table IO for the pages/output tables — Iceberg-ready, parquet fallback.

The target deployment stores ``pages`` as an Iceberg table
(BASELINE.json input_hint); this sandbox has no Iceberg runtime jar, so the
default is a parquet layout with the identical logical schema.  When the
cluster image carries ``iceberg-spark-runtime`` (plus catalog conf), pass
``fmt="iceberg"`` — the read/write paths below are the documented one-line
switch (SURVEY.md §1.3).

The incremental surfaces (frontier stores, near-dup store, source-count
store, and the two search indexes through ``termindex``, which owns their
shared postings layout) share two protocols defined here:
:func:`drain_files`, the one-file-per-microbatch availableNow stream
drain, and :func:`swap_store`, the crash-safe read-old → write-new → swap
that stands in for a transactional table MERGE / metastore pointer flip.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark extension classes are on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        )
        return True
    except Exception:
        return False


_PAGES_JSONL_SCHEMA = (
    "url string, warc_ts timestamp, html string, text string, lang string"
)


def read_pages(spark: SparkSession, location: str, fmt: str = "parquet") -> DataFrame:
    """Read the pages table.  ``location`` is a path (parquet/jsonl) or a
    catalog table identifier (iceberg).  ``jsonl`` covers the common
    crawl-dump interchange shape (one JSON object per line, html as a
    string); the schema is given explicitly so malformed lines become null
    rows instead of triggering a schema-inference pass over the corpus."""
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(location)
    if fmt == "jsonl":
        return spark.read.schema(_PAGES_JSONL_SCHEMA).json(location)
    if fmt == "orc":
        # ORC ships in Spark core (no extra jar): same columnar
        # pushdown/pruning properties as parquet for Hive-resident crawls
        return spark.read.orc(location)
    return spark.read.parquet(location)


def read_warc_pages(spark: SparkSession, location: str) -> DataFrame:
    """Read WARC crawl archives into the ``pages`` schema.

    Scale shape: ``binaryFile`` lists the archive files and each task parses
    whole files (the Common-Crawl unit of parallelism — ~1 GB per .warc.gz;
    a 100 TB crawl is ~100k files, far more than executor slots).  Per-record
    gzip members are handled by the engine parser; text/lang are left null
    (the convert stage recomputes them).
    """
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("html", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
    )

    def parse_files(batches):
        import pandas as pd

        from extractor_spark.engine.warc import extract_pages

        CHUNK = 2000  # bound per-yield memory: a ~1 GB archive holds ~50k
        # pages; never hold a whole file's rows (let alone a whole batch's)

        def frames(pdf):
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                gz = str(path).endswith(".gz")
                for url, ts, html in extract_pages(bytes(content), gzipped=gz):
                    rows.append(
                        {"url": url, "warc_ts": ts, "html": html, "text": None, "lang": None}
                    )
                    if len(rows) >= CHUNK:
                        yield rows
                        rows = []
            if rows:
                yield rows

        cols = ["url", "warc_ts", "html", "text", "lang"]
        for pdf in batches:
            empty = True
            for rows in frames(pdf):
                empty = False
                yield pd.DataFrame(rows, columns=cols)
            if empty:
                yield pd.DataFrame([], columns=cols)

    files = spark.read.format("binaryFile").load(location).select("path", "content")
    return files.mapInPandas(parse_files, schema=schema)


def write_output(
    df: DataFrame,
    location: str,
    fmt: str = "parquet",
    partition_col: str = "bucket",
) -> None:
    """Write the output table partitioned by ``partition_col``.

    Iceberg: ``createOrReplace`` via the DataFrameWriterV2 API (an atomic
    snapshot commit).  Parquet and jsonl: a static overwrite — the write
    replaces the whole location, including partitions the new frame does
    not hold.
    """
    if fmt == "iceberg":
        writer = df.writeTo(location)
        if partition_col and partition_col in df.columns:
            writer = writer.partitionedBy(df[partition_col])
        writer.createOrReplace()
        return
    if fmt == "jsonl":
        # training-data export shape: one JSON object per line (binary
        # columns are base64'd by the JSON writer; callers usually select
        # the text/markdown/data columns first)
        writer = df.write.mode("overwrite")
        if partition_col and partition_col in df.columns:
            writer = writer.partitionBy(partition_col)
        writer.json(location)
        return
    writer = df.write.mode("overwrite")
    if partition_col and partition_col in df.columns:
        writer = writer.partitionBy(partition_col)
    writer.parquet(location)


def drain_files(
    spark: SparkSession,
    stream_dir: str,
    schema: str,
    ckpt_dir: str,
    handle: Callable[[DataFrame, int], None],
) -> None:
    """Run ``handle(batch_df, batch_id)`` over the parquet files in
    ``stream_dir`` as an availableNow ``foreachBatch`` drain and block
    until it ends.  One file per microbatch: the streaming ≡ batch gates
    replay the same chunking on the batch side, so the chunking is part of
    the contract.  A microbatch that raises is replayed under the same
    ``batch_id`` by the next drain over the same ``ckpt_dir``."""
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# Parquet readers skip "_"-prefixed files, so the stamp rides inside the store.
_STAMP = "_swap_batch"


def swap_store(
    spark: SparkSession,
    store_dir: str,
    write_next: Callable[[DataFrame | None, str], None],
    batch_id: int | None = None,
) -> None:
    """Replace the parquet store at ``store_dir`` with
    ``write_next(old, next_dir)``'s output, where ``old`` is the current
    store (None before the first swap) and ``next_dir`` a sibling to write.

    The store path never stays empty without a restorable copy: the old
    store is renamed aside, the new one renamed in, and the aside copy
    deleted last.  A swap that died between the two renames left only the
    aside copy, which is renamed back before ``old`` is read; one that died
    after them left both, and the aside copy is dropped.  With a
    ``batch_id`` (a microbatch id) the new store carries it as a stamp, and
    a replay of that microbatch after its swap completed changes nothing,
    so non-idempotent merges (sums) stay exact under at-least-once replay.
    The stamp ties the store to the checkpoint whose ids it records: keep
    or discard the two together."""
    aside = store_dir + ".aside"
    nxt = store_dir + ".next"
    stamp = os.path.join(store_dir, _STAMP)
    if os.path.isdir(aside):
        if os.path.isdir(store_dir):
            shutil.rmtree(aside)
        else:
            os.rename(aside, store_dir)
    if batch_id is not None and os.path.exists(stamp):
        with open(stamp) as f:
            if int(f.read()) == batch_id:
                return
    old = spark.read.parquet(store_dir) if os.path.isdir(store_dir) else None
    if os.path.isdir(nxt):
        shutil.rmtree(nxt)
    write_next(old, nxt)
    if batch_id is not None:
        with open(os.path.join(nxt, _STAMP), "w") as f:
            f.write(str(int(batch_id)))
    if old is not None:
        os.rename(store_dir, aside)
    os.rename(nxt, store_dir)
    if old is not None:
        shutil.rmtree(aside)
