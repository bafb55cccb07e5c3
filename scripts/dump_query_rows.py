"""Dump exact query outputs for old-vs-new equivalence checks (r6).

Collects each named registry query's rows, sorts them, and writes
repr()-exact values to a JSON file — float repr round-trips the exact
double, so a byte-equal file means bit-identical results.

Usage: python scripts/dump_query_rows.py OUT.json sf_dir q1 q2 ...
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    out, sf_dir, names = sys.argv[1], sys.argv[2], sys.argv[3:]

    from extractor_spark.spark.queries import QUERIES, release_query_caches
    from extractor_spark.spark.session import get_spark

    spark = get_spark("dump_query_rows")
    dump: dict[str, list] = {}
    for name in names:
        fn, _oracle = QUERIES[name]
        df = fn(spark, sf_dir)
        rows = sorted(
            tuple(repr(v) for v in r) for r in df.collect()
        )
        dump[name] = rows
        release_query_caches()
        print(f"{name}: {len(rows)} rows", flush=True)
    with open(out, "w") as f:
        json.dump(dump, f, indent=0, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
