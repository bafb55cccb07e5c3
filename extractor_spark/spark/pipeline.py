"""End-to-end extract pipeline (reference A1 composed Spark-first, plus the
scale engineering the north rule mandates: latest-crawl-per-url dedup,
explicit skew handling, resumable per-bucket manifest with lineage +
metrics).

Dataflow (SURVEY.md §3.1 Spark lifecycle):

    scan pages (parquet/Iceberg/WARC)               -- Catalyst pruning
      → bucket = pmod(xxhash64(url), n_buckets)     -- resume granularity
      → NOT IN manifest buckets                     -- literal filter at scan
      → optional broadcast context join on url      -- before the sort, so
                                                       dedup sees every row
      → repartition(bucket)
        + sort(bucket, url, warc_ts ↓)              -- the one shuffle
      → one mapInPandas: stage C (keeping the first
        row of each url run = latest crawl), then
        stage E when a schema is given              -- Arrow batches
      → write one file per task, bucket a column    -- no further shuffle
      → append manifest rows (bucket, metrics, lineage, file)

At 10^12-document scale every step stays shuffle-bounded: one full-data
shuffle, on bucket.  Bucket = f(url), so every crawl of a url lands in one
partition (dedup needs no second shuffle) and each task holds whole buckets,
so each bucket sits in exactly one output file.  Skew is handled by
construction: the bucket hashes the whole url, so one hot host's pages
spread across all buckets instead of serializing on one partition.  The
output is flat — never ``partitionBy("bucket")``: the bucket is the resume
unit, not the file unit, and rows are written in bucket order so row-group
min/max on ``bucket`` still prunes a one-bucket read.

Manifest contract (resume identity + commit log, SURVEY's Iceberg-style
table): one row per (bucket, run) naming the file that holds the bucket;
rows record ``n_buckets`` — the bucket-assignment modulus — and resume FAILS
LOUDLY on a mismatch (a silent mismatch would skip the wrong buckets).  Each
wave stages its files under ``<output>/_staging/``, aggregates its rows from
those files only (committed waves are never re-scanned), renames the files
into the output and appends its rows as one manifest file — the wave commits
all of its buckets or none.  A resume deletes staged leftovers and any
output file no manifest row names (a wave that crashed before its append),
and refuses output in the earlier ``bucket=N`` layout or a manifest without
the ``file`` column.  All file operations go through the Hadoop FileSystem
API (local, HDFS, S3A).  The ``dedup_mode`` column is always ``"fused"``; it
stays so manifests from earlier versions, which also recorded it, keep their
column set.
"""

from __future__ import annotations

import datetime
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from extractor_spark.engine.convert import HtmlExtractionOptions
from extractor_spark.spark.stages import (
    convert_extract_stage,
    convert_stage,
    with_typed_data,
)

CODE_VERSION = "extractor-spark-0.1"


@dataclass
class PipelineConfig:
    pages_path: str
    output_path: str
    # "parquet" (default), "iceberg" (catalog table id), or "warc"
    # (directory of .warc/.warc.gz crawl archives, parsed distributed)
    pages_format: str = "parquet"
    manifest_path: str | None = None  # default: <output>/_manifest
    schema: dict | None = None  # extraction schema; None = convert-only
    html_options: HtmlExtractionOptions = field(default_factory=HtmlExtractionOptions)
    # Resume granularity, not file granularity (each output file holds the
    # whole buckets of one task); must stay FIXED across runs (bucket
    # identity is xxhash64(url) % n_buckets — changing it invalidates the
    # manifest).
    n_buckets: int = 512
    # Python-stage width; default spark.sql.shuffle.partitions (one task
    # per shuffle partition), capped at n_buckets either way
    repartition: int | None = None
    # >1 = intra-run checkpointing: buckets split into this many commit
    # waves, manifest refreshed after each (crash loses ≤ one wave).
    waves: int = 1
    resume: bool = True
    context_path: str | None = None  # optional (url, context_json) side table
    custom_prompt: str | None = None
    max_input_tokens: float | None = None
    # Opt-in: rewrite url to engine.urlnorm.canonical_url BEFORE bucketing,
    # so spelling variants (host case, fragments, default ports, tracking
    # params, unsorted query) share a bucket and dedup to one row.  Off by
    # default — it changes the output url column to the canonical form.
    canonicalize_urls: bool = False

    def resolved_manifest_path(self) -> str:
        return self.manifest_path or os.path.join(self.output_path, "_manifest")


def dedup_latest_per_url(pages: DataFrame) -> DataFrame:
    """Keep the newest crawl of each url: row_number over (url ⟶ warc_ts
    desc).  The reference semantics that ``run_pipeline``'s in-stage dedup
    must match (its equivalence test's oracle)."""
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def with_canonical_urls(pages: DataFrame) -> DataFrame:
    """Rewrite ``url`` to its canonical spelling (Arrow-vectorized batches;
    the per-url work is a pure string function)."""
    from .arrow_udfs import canonical_url_udf

    return pages.withColumn("url", canonical_url_udf()("url"))


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def _committed_rows(
    spark: SparkSession, manifest_path: str, expected_n_buckets: int
) -> list | None:
    """The committed manifest rows (bucket, n_buckets, file, docs_parsed),
    materialized eagerly — later waves append to the manifest, so resume
    must not keep a lazy file dependency on it.  ``None`` when no manifest
    directory exists; ``[]`` when it exists but no wave committed yet.
    One row per committed bucket, so the collect is bounded by n_buckets.

    Bucket identity is xxhash64(url) % n_buckets, so resuming a manifest
    written under a different modulus would silently skip the WRONG buckets
    (missing/duplicate rows).  Manifest rows record their n_buckets; any
    mismatch raises."""
    entries = _data_entries(spark, manifest_path)
    if entries is None:
        return None
    if not entries:
        return []
    manifest = spark.read.parquet(manifest_path)
    if "n_buckets" not in manifest.columns:
        # a manifest written before the resume-identity contract: refuse to
        # guess the modulus (silently reprocessing + appending mixed-schema
        # rows would be worse) — the operator decides
        raise ValueError(
            f"manifest at {manifest_path} predates the n_buckets contract "
            "(no n_buckets column); start a fresh output/manifest or migrate "
            "the manifest by adding the n_buckets/run_id/dedup_mode columns."
        )
    if "file" not in manifest.columns:
        raise ValueError(
            f"manifest at {manifest_path} has no file column: it was written "
            "for the bucket=N directory layout, which this version neither "
            "reads nor repairs. Re-run with resume=False to rebuild the output."
        )
    rows = manifest.select("bucket", "n_buckets", "file", "docs_parsed").collect()
    bad = {r["n_buckets"] for r in rows} - {expected_n_buckets}
    if bad:
        raise ValueError(
            f"manifest at {manifest_path} was written with n_buckets={sorted(bad)} "
            f"but this run uses n_buckets={expected_n_buckets}; bucket identity is "
            "xxhash64(url) % n_buckets, so resuming would skip the wrong buckets. "
            "Re-run with the original n_buckets or start a fresh output/manifest."
        )
    return rows


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — local in the sandbox,
    HDFS/S3A on a cluster."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _delete_path(spark: SparkSession, path: str) -> None:
    fs, hpath = _fs_path(spark, path)
    fs.delete(hpath, True)


def _data_entries(spark: SparkSession, path: str) -> list[str] | None:
    """Names of the entries under ``path`` that a reader sees (not ``_`` or
    ``.`` prefixed, as Spark's file index skips those); None when ``path``
    does not exist."""
    fs, hpath = _fs_path(spark, path)
    if not fs.exists(hpath):
        return None
    names = [st.getPath().getName() for st in fs.listStatus(hpath)]
    return [n for n in names if not n.startswith(("_", "."))]


def _repair_output(spark: SparkSession, conf: PipelineConfig, manifest_path: str) -> list:
    """Resume start: check the output's layout and drop what no committed
    wave owns.  Returns the committed manifest rows.

    A wave that crashed before its manifest append leaves ``_staging``
    leftovers, and — if it crashed after its rename — root data files no
    manifest row names.  Both are deleted, so the wave reruns cleanly."""
    entries = _data_entries(spark, conf.output_path) or []
    if any(n.startswith("bucket=") for n in entries):
        raise ValueError(
            f"{conf.output_path} holds bucket=N directories, the output layout "
            "of an earlier version that this version neither reads nor repairs. "
            "Re-run with resume=False to rebuild the output."
        )
    rows = _committed_rows(spark, manifest_path, conf.n_buckets)
    if rows is None:
        if entries:
            # resume identity contract (mirrors the n_buckets mismatch
            # check): output holds data files but the manifest is missing —
            # deleted, or written by a run that predates it.  Treating this
            # as fresh would leave files of unknown provenance in the output
            # and the cumulative totals.  The operator decides.
            raise ValueError(
                f"resume=True but no manifest at {manifest_path} while "
                f"{conf.output_path} already contains data files; "
                "refusing to guess their provenance. Delete the stale "
                "output (or run with resume=False, which clears it) or "
                "restore the manifest."
            )
        return []
    _delete_path(spark, os.path.join(conf.output_path, "_staging"))
    _delete_path(spark, os.path.join(manifest_path, "_staging"))
    named = {r["file"] for r in rows}
    for name in entries:
        if name not in named:
            _delete_path(spark, os.path.join(conf.output_path, name))
    return rows


def warmup(
    spark: SparkSession,
    pages_path: str,
    n_rows: int = 512,
    schema: dict | None = None,
) -> None:
    """Exercise the full stage chain on a small slice so JVM JIT, codegen,
    and Python-worker spawn costs are paid before measurement (a cluster
    amortizes these over hours; a cold local[N] JVM would otherwise fold
    them into the timed region).  Pass ``schema`` to also warm the
    extraction stage's codegen/worker path (the structured pipeline's
    first leg otherwise pays it inside the timed region)."""
    import shutil
    import tempfile

    sample = spark.read.parquet(pages_path).limit(n_rows)
    pages = dedup_latest_per_url(sample).select("url", "warc_ts", "html", "lang")
    if schema is None:
        out = convert_stage(pages)
    else:
        out = convert_extract_stage(pages, schema)
    scratch = tempfile.mkdtemp(prefix="extractor_warmup_")
    try:
        # the write is the point: it runs the same write path as a real run
        out.write.mode("overwrite").parquet(os.path.join(scratch, "out"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _read_pages(spark: SparkSession, conf: PipelineConfig) -> DataFrame:
    if conf.pages_format == "warc":
        from extractor_spark.spark.sources import read_warc_pages

        return read_warc_pages(spark, conf.pages_path)
    from extractor_spark.spark.sources import read_pages

    return read_pages(spark, conf.pages_path, conf.pages_format)


def run_pipeline(spark: SparkSession, conf: PipelineConfig) -> dict:
    """Execute (or resume) the pipeline; returns a run summary dict.

    ``conf.waves > 1`` splits the remaining buckets into that many commit
    waves — each wave writes its output and appends its manifest rows before
    the next starts, so a mid-run failure loses at most one wave (the next
    launch resumes from the manifest).  The tradeoff is one input scan per
    wave; at petabyte scale pick waves so a wave is hours, not minutes.
    """
    started = time.time()
    manifest_path = conf.resolved_manifest_path()
    run_id = uuid.uuid4().hex[:12]

    pages_raw = _read_pages(spark, conf)
    if conf.canonicalize_urls:
        pages_raw = with_canonical_urls(pages_raw)
    pages_all = with_bucket(pages_raw, conf.n_buckets)

    prior: list = []
    if conf.resume:
        prior = _repair_output(spark, conf, manifest_path)
        if prior:
            # bucket list is tiny — a literal NOT IN filter (no shuffle,
            # evaluated at the scan)
            pages_all = pages_all.filter(~F.col("bucket").isin([r["bucket"] for r in prior]))
    else:
        # fresh run: drop stale state so totals/resume never mix runs — the
        # manifest AND the output (files of a prior run are named by no
        # manifest row of this one)
        _delete_path(spark, manifest_path)
        _delete_path(spark, conf.output_path)

    # Default compute parallelism: one task per shuffle partition
    # (get_spark: max(cores, 8)).  Each Python task costs ~0.07 s before its
    # first row under the lean worker daemon, ~0.28 s under Spark's stock
    # one (stages.py docstring; an identity mapInPandas on local[4] takes
    # 0.26–0.29 s at 8 tasks and 1.28–1.36 s at 64), so several task waves
    # per core slot spend more on task start-up than they win back in
    # balance over long-tailed page sizes.
    n_parts = conf.repartition or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )

    waves = max(1, conf.waves)
    done = {r["bucket"] for r in prior}
    wave_seconds: list[float] = []
    committed: list = []  # this run's manifest rows, one per bucket
    for wave in range(waves):
        if done.issuperset(range(wave, conf.n_buckets, waves)):
            continue  # every bucket of this wave is committed: nothing to scan
        pages = (
            pages_all
            if waves == 1
            else pages_all.filter(F.pmod(F.col("bucket"), F.lit(waves)) == wave)
        )
        t_wave = time.time()
        committed += _run_wave(spark, conf, pages, n_parts, manifest_path, run_id, wave)
        wave_seconds.append(round(time.time() - t_wave, 3))

    wall = time.time() - started
    # totals from the manifest rows this run committed and read at its
    # start — no re-read of the manifest.  Per-run figures cover THIS run's
    # rows only (a resumed run must not claim previously-committed docs in
    # its throughput).
    docs = sum(r["docs_parsed"] for r in committed)
    return {
        "docs": docs,
        "html_bytes": sum(r["html_bytes"] for r in committed),
        "convert_failures": sum(r["convert_failures"] for r in committed),
        "schema_validation_failures": sum(r["schema_validation_failures"] for r in committed),
        "cumulative_docs": docs + sum(r["docs_parsed"] for r in prior),
        "skipped_buckets": len(prior),
        "output_files": len({r["file"] for r in committed}),
        "wall_seconds": wall,
        "wave_seconds": wave_seconds,
        "docs_per_sec": docs / wall if wall > 0 else None,
        "run_id": run_id,
        "output_path": conf.output_path,
        "manifest_path": manifest_path,
    }


def _run_wave(
    spark: SparkSession,
    conf: PipelineConfig,
    pages: DataFrame,
    n_parts: int,
    manifest_path: str,
    run_id: str,
    wave: int,
) -> list:
    """Process one wave and commit it; returns its manifest rows.

    Commit protocol — the manifest is the wave's commit log:
      1. write the wave into ``<output>/_staging/<wave_id>/`` (readers skip
         ``_``-prefixed paths), one file per task;
      2. aggregate the per-bucket metrics from those staged files only, into
         one file under ``<manifest>/_staging/<wave_id>/`` (a JVM write: no
         Python task builds the rows);
      3. rename the files the metrics name into ``<output>/``;
      4. append the wave's rows by renaming that one file into the manifest.
    A crash before 4 leaves files no manifest row names; the next resume
    deletes them and reruns the wave (``_repair_output``).  Step 2 creates
    the manifest directory before any file reaches the output, so a resume
    tells a crash before the first append (repair) from a deleted manifest
    (refuse)."""
    # one shuffle: bucket partitioning co-locates url runs, and each task
    # holds whole buckets.  The count is explicit so AQE's size-based
    # coalescing cannot shrink the CPU-bound Python stage's parallelism.
    n_parts = min(n_parts, conf.n_buckets)
    columns = ["url", "warc_ts", "html", "lang"]
    context_column = None
    if conf.schema is not None and conf.context_path:
        # joined BEFORE the sort: a sort directly under a join is dropped by
        # the optimizer (join output order is undefined), which would break
        # the sorted-run dedup
        context = spark.read.parquet(conf.context_path)
        pages = pages.join(F.broadcast(context), "url", "left")
        context_column = "context_json"
        columns.append(context_column)
    # bucket leads the sort: the url determines the bucket, so url runs stay
    # contiguous for the sorted-run dedup, and rows reach the writer in
    # bucket order — row-group min/max on bucket prunes a one-bucket read
    pages = (
        pages.repartition(n_parts, "bucket")
        .sortWithinPartitions("bucket", "url", F.col("warc_ts").desc())
        .select(*columns)
    )

    if conf.schema is not None:
        output = convert_extract_stage(
            pages,
            conf.schema,
            conf.html_options,
            dedup_sorted_runs=True,
            custom_prompt=conf.custom_prompt,
            max_input_tokens=conf.max_input_tokens,
            context_column=context_column,
        )
        output = with_typed_data(output, conf.schema).drop("data_json")
    else:
        output = convert_stage(pages, conf.html_options, dedup_sorted_runs=True)
    output = with_bucket(output, conf.n_buckets)

    wave_id = f"{run_id}-{wave}"
    staged = os.path.join(conf.output_path, "_staging", wave_id)
    staged_manifest = os.path.join(manifest_path, "_staging", wave_id)
    # maxRecordsPerFile=0 whatever the session says: a bucket split across
    # two files would leave one of them unnamed by the manifest
    output.write.mode("overwrite").option("maxRecordsPerFile", 0).parquet(staged)
    metrics = _bucket_metrics(spark, conf, output.schema, staged, run_id)
    metrics.coalesce(1).write.mode("overwrite").parquet(staged_manifest)
    # ≤ n_buckets small rows: the collect is bounded by construction
    rows = spark.read.schema(metrics.schema).parquet(staged_manifest).collect()
    if rows:
        _commit_files(spark, staged, conf.output_path, {r["file"] for r in rows})
        _append_manifest(spark, staged_manifest, manifest_path)
    _delete_path(spark, os.path.join(conf.output_path, "_staging"))
    _delete_path(spark, os.path.join(manifest_path, "_staging"))
    return rows


def _bucket_metrics(
    spark: SparkSession, conf: PipelineConfig, schema, staged: str, run_id: str
) -> DataFrame:
    """One manifest row per bucket with lineage + metrics, read from the
    wave's staged files only (never the committed output), each row naming
    the one file that holds its bucket."""
    written = spark.read.schema(schema).parquet(staged)
    agg_cols = [
        F.count("*").alias("docs_parsed"),
        F.sum("html_bytes").alias("html_bytes"),
        F.sum("boilerplate_bytes_removed").alias("boilerplate_bytes_removed"),
        F.sum(F.when(F.col("convert_error").isNotNull(), 1).otherwise(0)).alias(
            "convert_failures"
        ),
    ]
    if conf.schema is not None:
        agg_cols.append(
            F.sum(F.when(F.col("extract_error").isNotNull(), 1).otherwise(0)).alias(
                "schema_validation_failures"
            )
        )
    else:
        agg_cols.append(F.lit(0).alias("schema_validation_failures"))

    run_ts = datetime.datetime.now(datetime.timezone.utc).isoformat()
    return (
        written.groupBy("bucket")
        .agg(*agg_cols, F.min("_metadata.file_name").alias("file"))
        .select(
            "bucket", "docs_parsed", "html_bytes", "boilerplate_bytes_removed",
            "convert_failures", "schema_validation_failures",
            F.lit(conf.pages_path).alias("input_path"),
            F.lit(CODE_VERSION).alias("code_version"),
            F.lit(run_ts).alias("run_ts"),
            F.lit(run_id).alias("run_id"),
            # resume identity + provenance (_committed_rows checks n_buckets)
            F.lit(conf.n_buckets).alias("n_buckets"),
            F.lit("fused").alias("dedup_mode"),
            "file",
        )
    )


def _rename(spark: SparkSession, src_dir: str, dst_dir: str, name: str) -> None:
    """Move ``src_dir/name`` to ``dst_dir/name`` (Hadoop FS rename)."""
    fs, _ = _fs_path(spark, dst_dir)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    if not fs.rename(Path(os.path.join(src_dir, name)), Path(os.path.join(dst_dir, name))):
        raise OSError(f"could not rename {name} from {src_dir} into {dst_dir}")


def _commit_files(spark: SparkSession, staged: str, output_path: str, files: set[str]) -> None:
    """Rename the wave's named files into the output root."""
    for name in sorted(files):
        _rename(spark, staged, output_path, name)


def _append_manifest(spark: SparkSession, staged_manifest: str, manifest_path: str) -> None:
    """Append the wave's rows — staged as ONE manifest file — with one
    rename: the wave commits all of its buckets or none."""
    for name in _data_entries(spark, staged_manifest):
        _rename(spark, staged_manifest, manifest_path, name)


def summarize_metrics(spark: SparkSession, output_path: str) -> DataFrame:
    """Host-level metric rollup over the output table (engineered agg op)."""
    out = spark.read.parquet(output_path)
    return (
        out.withColumn("url_host", F.expr("parse_url(url, 'HOST')"))
        .groupBy("url_host")
        .agg(
            F.count("*").alias("docs"),
            F.sum("html_bytes").alias("html_bytes"),
            F.sum("markdown_chars").alias("markdown_chars"),
            F.sum("boilerplate_bytes_removed").alias("boilerplate_bytes_removed"),
        )
        .orderBy(F.col("docs").desc())
    )
