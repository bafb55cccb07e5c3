#!/usr/bin/env python
"""spark-submit entry point for the extract pipeline (north rule: launched
via ``spark-submit --py-files engine.zip jobs/extract_pipeline.py``).

Examples:
    # local dev run (creates its own local[N] session)
    python jobs/extract_pipeline.py --pages /data/pages --output /data/out \
        --schema schema.json --cpus 32

    # cluster run (master/executors come from spark-submit)
    spark-submit --py-files extractor_spark.zip jobs/extract_pipeline.py \
        --from-submit --pages s3://bucket/pages --output s3://bucket/out

Output layout: flat parquet, one file per convert/extract task, with
``bucket`` as a data column; ``<output>/_manifest`` is the commit log, one
row per bucket naming the file that holds it.  Resume is the default: a
re-launch skips the buckets the manifest names, deletes files no manifest
row names (a wave that crashed before committing) and processes the rest.
An output in the earlier ``bucket=N`` directory layout is refused; rerun it
with --no-resume.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Allow running from any cwd without installation (spark-submit ships the
# package via --py-files instead).
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--pages", required=True, help="input pages table (parquet dir)")
    p.add_argument("--pages-format", default="parquet",
                   choices=["parquet", "iceberg", "warc", "jsonl", "orc"],
                   help="input format; 'warc' ingests .warc/.warc.gz crawl "
                        "archives, 'jsonl' one-object-per-line dumps, 'orc' Hive-resident crawls")
    p.add_argument("--canonicalize-urls", action="store_true",
                   help="rewrite urls to canonical form before bucketing so "
                        "spelling variants (fragments, tracking params, host "
                        "case) dedup to one row")
    p.add_argument("--output", required=True, help="output table path")
    p.add_argument("--manifest", default=None, help="manifest path (default <output>/_manifest)")
    p.add_argument("--schema", default=None, help="extraction schema JSON file; omit for convert-only")
    p.add_argument("--context", default=None, help="optional (url, context_json) parquet side table")
    p.add_argument("--prompt", default=None, help="custom extraction prompt")
    p.add_argument("--max-input-tokens", type=float, default=None)
    p.add_argument("--extract-main-html", action="store_true")
    p.add_argument("--include-images", action="store_true")
    p.add_argument("--clean-urls", action="store_true")
    p.add_argument("--n-buckets", type=int, default=512,
                   help="resume identity (bucket = xxhash64(url) %% n_buckets); must match\n"
                        "across runs of the same output — the manifest records it and a\n"
                        "mismatched resume fails loudly.  Buckets are resume units, not\n"
                        "files: each task writes one file holding its whole buckets")
    p.add_argument("--partitions", type=int, default=None,
                   help="width of the convert/extract stage (default: "
                        "spark.sql.shuffle.partitions, one task per shuffle "
                        "partition; capped at --n-buckets)")
    p.add_argument("--no-resume", action="store_true",
                   help="clear the output and the manifest and start fresh")
    p.add_argument("--waves", type=int, default=1,
                   help="intra-run checkpoint waves (crash loses at most one wave)")
    p.add_argument("--warmup", action="store_true",
                   help="run an untimed small-slice pass first (JIT/worker spawn; parquet pages only)")
    p.add_argument("--cpus", type=int, default=None, help="local[N] when not using spark-submit")
    p.add_argument("--from-submit", action="store_true",
                   help="use the session provided by spark-submit instead of creating local[N]")
    args = p.parse_args(argv)
    if args.warmup and args.pages_format != "parquet":
        # the warm-up slice is read with spark.read.parquet
        p.error("--warmup needs --pages-format parquet")
    return args


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from extractor_spark.engine.convert import HtmlExtractionOptions
    from extractor_spark.spark.pipeline import PipelineConfig, run_pipeline

    if args.from_submit:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.getOrCreate()
        # naive-UTC timestamps (e.g. WARC dates) must not be re-localized
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    else:
        from extractor_spark.spark.session import get_spark

        spark = get_spark("extract-pipeline", cpus=args.cpus)

    schema = None
    if args.schema:
        with open(args.schema) as fh:
            schema = json.load(fh)

    conf = PipelineConfig(
        pages_path=args.pages,
        pages_format=args.pages_format,
        output_path=args.output,
        manifest_path=args.manifest,
        schema=schema,
        html_options=HtmlExtractionOptions(
            extract_main_html=args.extract_main_html,
            include_images=args.include_images,
            clean_urls=args.clean_urls,
        ),
        n_buckets=args.n_buckets,
        repartition=args.partitions,
        resume=not args.no_resume,
        waves=args.waves,
        context_path=args.context,
        custom_prompt=args.prompt,
        max_input_tokens=args.max_input_tokens,
        canonicalize_urls=args.canonicalize_urls,
    )
    if args.warmup:
        from extractor_spark.spark.pipeline import warmup

        warmup(spark, args.pages, schema=schema)

    summary = run_pipeline(spark, conf)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
