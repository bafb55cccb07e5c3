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
      → repartition(bucket) + sort(url, warc_ts ↓)  -- the one shuffle
      → one mapInPandas: stage C (keeping the first
        row of each url run = latest crawl), then
        stage E when a schema is given              -- Arrow batches
      → write output partitioned by bucket          -- no further shuffle
      → append manifest rows (bucket, metrics, lineage)

At 10^12-document scale every step stays shuffle-bounded: one full-data
shuffle, on bucket.  Bucket = f(url), so every crawl of a url lands in one
partition (dedup needs no second shuffle) and each task holds whole buckets
(the bucket-partitioned write emits one file per bucket).  Skew is handled
by construction: the bucket hashes the whole url, so one hot host's pages
spread across all buckets instead of serializing on one partition.  Output
partitioning by bucket gives idempotent re-runs (dynamic partition overwrite
replaces exactly the re-processed buckets).

Manifest contract (resume identity): one row per (bucket, run); rows record
``n_buckets`` — the bucket-assignment modulus — and resume FAILS LOUDLY on a
mismatch (a silent mismatch would skip the wrong buckets).  Each wave appends
only its own buckets' rows, aggregated from the wave's partition directories
(partition-pruned read — previously-committed waves are never re-scanned).
The ``dedup_mode`` column is always ``"fused"``; it stays so manifests from
earlier versions, which also recorded it, resume unchanged.
"""

from __future__ import annotations

import datetime
import json
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
    # Resume granularity; must stay FIXED across runs (bucket identity is
    # xxhash64(url) % n_buckets — changing it invalidates the manifest).
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


def completed_buckets(
    spark: SparkSession, manifest_path: str, expected_n_buckets: int | None = None
) -> list[int] | None:
    """Bucket ids already committed, materialized eagerly — later waves
    append to the manifest files, so resume must not keep a lazy file
    dependency on them.

    ``expected_n_buckets``: bucket identity is xxhash64(url) % n_buckets, so
    resuming a manifest written under a different modulus would silently
    skip the WRONG buckets (missing/duplicate rows).  Manifest rows record
    their n_buckets; any mismatch raises."""
    try:
        manifest = spark.read.parquet(manifest_path)
    except Exception:
        return None  # no manifest yet — nothing committed
    if "n_buckets" not in manifest.columns:
        # a manifest written before the resume-identity contract: refuse to
        # guess the modulus (silently reprocessing + appending mixed-schema
        # rows would be worse) — the operator decides
        raise ValueError(
            f"manifest at {manifest_path} predates the n_buckets contract "
            "(no n_buckets column); start a fresh output/manifest or migrate "
            "the manifest by adding the n_buckets/run_id/dedup_mode columns."
        )
    rows = manifest.select("bucket", "n_buckets").distinct().collect()
    if expected_n_buckets is not None:
        seen = {r["n_buckets"] for r in rows}
        bad = seen - {expected_n_buckets}
        if bad:
            raise ValueError(
                f"manifest at {manifest_path} was written with n_buckets={sorted(bad)} "
                f"but this run uses n_buckets={expected_n_buckets}; bucket identity is "
                "xxhash64(url) % n_buckets, so resuming would skip the wrong buckets. "
                "Re-run with the original n_buckets or start a fresh output/manifest."
            )
    return sorted({r["bucket"] for r in rows})


def _delete_path(spark: SparkSession, path: str) -> None:
    """FS-agnostic recursive delete via the Hadoop FileSystem API (works on
    local paths in the sandbox and on HDFS/S3A on a cluster)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


def _has_bucket_partitions(spark: SparkSession, path: str) -> bool:
    """True when ``path`` already holds bucket=N partition dirs — output
    from some prior run."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    for st in fs.listStatus(hpath):
        if st.getPath().getName().startswith("bucket="):
            return True
    return False


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
    import tempfile

    scratch = tempfile.mkdtemp(prefix="extractor_warmup_")
    sample = spark.read.parquet(pages_path).limit(n_rows)
    pages = dedup_latest_per_url(sample).select("url", "warc_ts", "html", "lang")
    if schema is None:
        out = convert_stage(pages)
    else:
        out = convert_extract_stage(pages, schema)
    out.write.mode("overwrite").parquet(os.path.join(scratch, "out"))


def _read_pages(spark: SparkSession, conf: PipelineConfig) -> DataFrame:
    if conf.pages_format == "warc":
        from extractor_spark.spark.sources import read_warc_pages

        return read_warc_pages(spark, conf.pages_path)
    from extractor_spark.spark.sources import read_pages

    return read_pages(spark, conf.pages_path, conf.pages_format)


def run_pipeline(spark: SparkSession, conf: PipelineConfig) -> dict:
    """Execute (or resume) the pipeline; returns a run summary dict.

    ``conf.waves > 1`` splits the remaining buckets into that many commit
    waves — each wave writes its output and refreshes the manifest before
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

    skipped_buckets = 0
    done: list[int] = []
    if conf.resume:
        done_or_none = completed_buckets(spark, manifest_path, conf.n_buckets)
        if done_or_none is None and _has_bucket_partitions(spark, conf.output_path):
            # resume identity contract (mirrors the n_buckets mismatch
            # check): output holds bucket partitions but the manifest is
            # missing — deleted, or written by a run that predates it.
            # Treating this as fresh WITHOUT deleting would let leftover
            # partitions from a different n_buckets (ids >= the current
            # modulus are never overwritten) silently pollute the output
            # and the cumulative totals.  The operator decides.
            raise ValueError(
                f"resume=True but no manifest at {manifest_path} while "
                f"{conf.output_path} already contains bucket partitions; "
                "refusing to guess their provenance. Delete the stale "
                "output (or run with resume=False, which clears it) or "
                "restore the manifest."
            )
        done = done_or_none or []
        if done:
            skipped_buckets = len(done)
            # bucket list is tiny — a literal NOT IN filter (no shuffle,
            # evaluated at the scan)
            pages_all = pages_all.filter(~F.col("bucket").isin(done))
    else:
        # fresh run: drop stale state so totals/resume never mix runs — the
        # manifest AND the output (leftover bucket partitions from a prior
        # larger run would otherwise be re-read by the wave aggregation and
        # stamped with THIS run's run_id, corrupting per-run totals and
        # future resumes)
        _delete_path(spark, manifest_path)
        _delete_path(spark, conf.output_path)

    # Default compute parallelism: one task per shuffle partition
    # (get_spark: max(cores, 8)).  Each Python task costs 0.13–0.29 s before
    # its first row (stages.py docstring; an identity mapInPandas on
    # local[4] takes 0.4 s at 4 tasks and 4.1–4.5 s at 64), so several task
    # waves per core slot spend more on task start-up than they win back in
    # balance over long-tailed page sizes.
    n_parts = conf.repartition or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )

    done_set = set(done)
    waves = max(1, conf.waves)
    wave_seconds: list[float] = []
    for wave in range(waves):
        pages = (
            pages_all
            if waves == 1
            else pages_all.filter(F.pmod(F.col("bucket"), F.lit(waves)) == wave)
        )
        wave_buckets = [
            b
            for b in range(conf.n_buckets)
            if b % waves == wave and b not in done_set
        ]
        t_wave = time.time()
        _run_wave(spark, conf, pages, n_parts, manifest_path, wave_buckets, run_id)
        wave_seconds.append(round(time.time() - t_wave, 3))

    wall = time.time() - started
    # totals from the written manifest (tiny) — not a recompute of the agg.
    # Per-run figures come from THIS run's manifest rows only (a resumed run
    # must not claim previously-committed docs in its throughput).
    try:
        manifest = spark.read.parquet(manifest_path)
    except Exception:  # nothing ever written (fully-empty input)
        manifest = None
    totals = {"docs": 0, "bytes": 0, "convert_failures": 0, "schema_failures": 0,
              "cumulative_docs": 0}
    if manifest is not None:
        this_run = F.col("run_id") == run_id

        def run_sum(col: str):
            return F.coalesce(F.sum(F.when(this_run, F.col(col))), F.lit(0))

        totals = manifest.agg(
            run_sum("docs_parsed").alias("docs"),
            run_sum("html_bytes").alias("bytes"),
            run_sum("convert_failures").alias("convert_failures"),
            run_sum("schema_validation_failures").alias("schema_failures"),
            F.coalesce(F.sum("docs_parsed"), F.lit(0)).alias("cumulative_docs"),
        ).collect()[0]
    return {
        "docs": totals["docs"],
        "html_bytes": totals["bytes"],
        "convert_failures": totals["convert_failures"],
        "schema_validation_failures": totals["schema_failures"],
        "cumulative_docs": totals["cumulative_docs"],
        "skipped_buckets": skipped_buckets,
        "wall_seconds": wall,
        "wave_seconds": wave_seconds,
        "docs_per_sec": (totals["docs"] or 0) / wall if wall > 0 else None,
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
    wave_buckets: list[int],
    run_id: str,
) -> None:
    # one shuffle: bucket partitioning co-locates url runs AND aligns with
    # the bucketed write (no further shuffle before the sink).  The count is
    # explicit so AQE's size-based coalescing cannot shrink the CPU-bound
    # Python stage's parallelism.
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
    pages = (
        pages.repartition(n_parts, "bucket")
        .sortWithinPartitions("url", F.col("warc_ts").desc())
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

    # Dynamic partition overwrite, set on this write only (the session conf
    # stays the caller's): re-running a bucket replaces exactly that
    # bucket's files — idempotent resume.  Rows never moved since the bucket
    # shuffle, so each task already holds whole buckets — partitionBy emits
    # one file per bucket.
    (
        output.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(conf.output_path)
    )

    # Manifest: one row per completed bucket with lineage + metrics,
    # aggregated from THIS wave's bucket partitions only.  The filter is on
    # the partition column, so Catalyst prunes every previously-committed
    # bucket directory — a W-wave run reads each output byte once, not W
    # times.  Rows are APPENDED; a crash between the output write and this
    # append just reprocesses the wave (idempotent via dynamic overwrite).
    try:
        written = spark.read.parquet(conf.output_path)
    except Exception:
        # fully-filtered wave into a not-yet-existing output dir: nothing
        # was written, so there is nothing to commit
        return
    written = written.filter(F.col("bucket").isin(wave_buckets))
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
    manifest_rows = (
        written.groupBy("bucket")
        .agg(*agg_cols)
        .withColumn("input_path", F.lit(conf.pages_path))
        .withColumn("code_version", F.lit(CODE_VERSION))
        .withColumn("run_ts", F.lit(run_ts))
        .withColumn("run_id", F.lit(run_id))
        # resume identity + provenance (completed_buckets checks n_buckets)
        .withColumn("n_buckets", F.lit(conf.n_buckets))
        .withColumn("dedup_mode", F.lit("fused"))
    )
    manifest_rows.write.mode("append").parquet(manifest_path)


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
