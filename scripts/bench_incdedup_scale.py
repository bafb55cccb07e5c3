"""Scale probe for incremental MinHash dedup (spark/incdedup.py) and the
PII span tagger.

incdedup: 4 arrival batches of 50k synthetic docs (seeded per-partition
RNG, ~80 tokens from a 50k vocab — distinct docs, negligible accidental
shingle collisions).  5% of each batch (id % 20 == 0) regenerates the
token stream of the SAME id one batch earlier with one token appended —
a planted ~0.93-Jaccard near-dup pointing one batch back.  The probe
records per-batch wall time as the store grows 0 → 150k docs (the claim
under test: batch cost is O(batch + collisions), not O(store)), and the
dup counts against the ~2.5k/batch plant rate.

pii: the Arrow span tagger over 200k docs with PII planted in every 10th
doc — map-only throughput.

Usage: python scripts/bench_incdedup_scale.py [--batch 50000] [--batches 4]
       [--pii-docs 200000]
Writes one JSON line; redirect to BENCH/ to record.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def synth_docs(spark, n_docs: int, batch_size: int):
    """(url, text, b): seeded per-partition generation; id % 20 == 0 in
    batches > 0 regenerates doc (id - batch_size)'s tokens + ' extra'."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            urls, texts, bs = [], [], []
            for i in pdf["id"]:
                i = int(i)
                b = i // batch_size
                dup = b > 0 and i % 20 == 0
                # base = a PRISTINE doc one batch earlier (id % 20 == 1 is
                # never itself a plant, so its content is its own seed)
                seed_id = i - batch_size + 1 if dup else i
                rng = np.random.default_rng(0xD0C + seed_id)
                toks = rng.integers(0, 50_000, size=80)
                text = " ".join(f"w{t}" for t in toks)
                if dup:
                    text += " extra"
                urls.append(str(i))
                texts.append(text)
                bs.append(b)
            yield pd.DataFrame({"url": urls, "text": texts, "b": bs})

    return (
        spark.range(n_docs, numPartitions=32)
        .mapInPandas(gen, schema="url string, text string, b int")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batch", type=int, default=50_000)
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--pii-docs", type=int, default=200_000)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from extractor_spark.spark.incdedup import dedup_batch
    from extractor_spark.spark.queries import pii_spans_df
    from extractor_spark.spark.session import get_spark

    spark = get_spark("incdedup-scale-r5", cpus=32)
    out: dict = {"batch_size": args.batch, "n_batches": args.batches}

    docs = synth_docs(spark, args.batch * args.batches, args.batch).persist()
    docs.count()

    work = tempfile.mkdtemp(prefix="incdedup_scale_")
    try:
        batch_s, batch_dups = [], []
        for b in range(args.batches):
            batch = docs.filter(F.col("b") == b).select("url", "text")
            t0 = time.time()
            v, h = dedup_batch(spark, work, batch, batch_id=b)
            n_dups = v.filter("is_dup").count()
            batch_s.append(round(time.time() - t0, 2))
            batch_dups.append(n_dups)
            h.unpersist()
        out["batch_s"] = batch_s
        out["batch_dups"] = batch_dups
    finally:
        shutil.rmtree(work, ignore_errors=True)
    docs.unpersist()

    # PII tagger throughput: plant PII in every 10th doc
    pii_docs = (
        spark.range(args.pii_docs, numPartitions=32)
        .selectExpr(
            "id AS doc_id",
            "concat('plain prose body of document ', CAST(id AS STRING),"
            " CASE WHEN id % 10 = 0 THEN"
            "   concat(' mail u', CAST(id AS STRING), '@ex.example.org"
            " from 10.1.2.', CAST(id % 250 AS STRING), ' tel +1 555-123-4567')"
            " ELSE '' END) AS text",
        )
        .persist()
    )
    pii_docs.count()
    t0 = time.time()
    out["pii_spans"] = pii_spans_df(pii_docs).count()
    dt = time.time() - t0
    out["pii_s"] = round(dt, 2)
    out["pii_docs_per_s"] = round(args.pii_docs / dt)
    pii_docs.unpersist()

    print(json.dumps(out))


if __name__ == "__main__":
    main()
