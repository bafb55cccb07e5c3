#!/usr/bin/env python
"""Training-data curation CLI: extract-pipeline output -> URL blocklist ->
exact dedup -> MinHash near-dup clustering -> quality filter -> benchmark
decontamination -> leakage-safe split -> JSONL export.

    python jobs/curate.py --input /data/extract_out --output /data/curated \
        [--min-tokens 10] [--max-dup-permille 300] [--jaccard 0.8] \
        [--blocklist-domains ut1/ads/domains] [--blocklist-urls ut1/ads/urls] \
        [--decon-benchmarks benchmarks.txt] [--split] [--pack-budget 2048]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--min-tokens", type=int, default=10)
    p.add_argument("--max-dup-permille", type=int, default=300)
    p.add_argument("--jaccard", type=float, default=0.8)
    p.add_argument("--pack-budget", type=int, default=None,
                   help="optional: assign concat-then-chunk pack ids at this token budget (adds pack_id/n_tokens to the JSONL)")
    p.add_argument("--blocklist-domains", default=None,
                   help="UT1-format domains file: drop pages whose host matches a listed domain or any subdomain of it (label-boundary)")
    p.add_argument("--blocklist-urls", default=None,
                   help="UT1-format urls file (scheme-less host/path prefixes): drop pages under a listed URL subtree")
    p.add_argument("--decon-benchmarks", default=None,
                   help="text file, one benchmark document per line: drop docs sharing any 8-token gram with a benchmark")
    p.add_argument("--split", action="store_true",
                   help="add a leakage-safe train/valid/test column keyed on near-dup cluster ids (90/5/5)")
    p.add_argument("--shuffle-seed", type=int, default=None,
                   help="compose packs over a seeded deterministic global shuffle order instead of url order (requires --pack-budget)")
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument("--from-submit", action="store_true")
    args = p.parse_args(argv if argv is not None else sys.argv[1:])

    if args.from_submit:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.getOrCreate()
    else:
        from extractor_spark.spark.session import get_spark

        spark = get_spark("curate", cpus=args.cpus)

    from extractor_spark.spark.curate import curate

    stats = curate(
        spark,
        args.input,
        args.output,
        min_tokens=args.min_tokens,
        max_dup_permille=args.max_dup_permille,
        jaccard_threshold=args.jaccard,
        pack_budget=args.pack_budget,
        blocklist_domains=args.blocklist_domains,
        blocklist_urls=args.blocklist_urls,
        decon_benchmarks=args.decon_benchmarks,
        split=args.split,
        shuffle_seed=args.shuffle_seed,
    )
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
