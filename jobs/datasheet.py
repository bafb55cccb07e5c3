#!/usr/bin/env python
"""Corpus datasheet CLI — the data-card artifact ("Datasheets for
Datasets", Gebru et al. 2021; Dolma/FineWeb data cards) every released
training corpus ships with.  One run over a documents parquet composes the
repo's gated operators into a single deterministic JSON report:

    totals       docs, chars, whitespace tokens, distinct langs/sources
    languages    per-lang doc counts + milli fractions
    sources      per-source docs/chars + milli fractions
    quality      Gopher-rule pass rate; exact token-count quantiles
    duplication  exact-dup groups / duplicate docs / excess copies (md5)
    pii          typed span counts by kind (Dolma tagger pass)
    sanitize     mojibake-repair / control-strip / changed-doc counts
    drift        top-K sources by KL(P_source ‖ P_corpus) over unigrams

    python jobs/datasheet.py --input documents.parquet \
        [--output datasheet.json] [--top-k 5] [--cpus 8]

Every section reuses a gated operator (queries.py SQL constants,
pii_spans_df, sanitize_text_udf) so its correctness gates carry over; this
job is their composition, pinned by tests/test_datasheet.py.  Scale shape:
each section is an independent pruned scan of the input parquet
(embarrassingly parallel, the fineweb_filter_chain pattern) — nothing is
collected except the per-section aggregate rows, all bounded by
|langs| / |sources| / |kinds|, never by the corpus.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_datasheet(spark, docs, top_k: int = 5) -> dict:
    """The composition over an explicit documents DataFrame (doc_id, text,
    lang, source) — separated from the CLI so tests drive it directly."""
    from pyspark.sql import functions as F

    from extractor_spark.spark import caches
    from extractor_spark.spark.arrow_udfs import sanitize_text_udf
    from extractor_spark.spark.queries import (
        _EXACT_DUP_GROUPS,
        _GOPHER_SPARK,
        _QUALITY_SPARK,
        _SOURCE_KL_SC_SQL,
        _SOURCE_KL_SPARK,
        _VIEW_REG_STATE,
        pii_spans_df,
    )

    docs = docs.select("doc_id", "text", "lang", "source")
    docs.createOrReplaceTempView("documents")
    # the next registry query must re-register its own documents view
    _VIEW_REG_STATE.clear()
    sheet: dict = {}

    t = spark.sql(
        """SELECT CAST(count(*) AS BIGINT) AS docs,
                  CAST(sum(length(text)) AS BIGINT) AS chars,
                  CAST(sum(size(split(trim(text), '\\\\s+'))) AS BIGINT) AS tokens,
                  CAST(count(DISTINCT lang) AS BIGINT) AS langs,
                  CAST(count(DISTINCT source) AS BIGINT) AS sources
           FROM documents"""
    ).first()
    sheet["totals"] = {k: int(t[k]) for k in ("docs", "chars", "tokens", "langs", "sources")}
    n_docs = sheet["totals"]["docs"]

    sheet["languages"] = {
        r["lang"]: {"docs": int(r["n"]), "milli": int(1000 * r["n"] // max(n_docs, 1))}
        for r in spark.sql(
            "SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang"
        ).collect()
    }
    sheet["sources"] = {
        r["source"]: {
            "docs": int(r["n"]),
            "chars": int(r["chars"]),
            "milli": int(1000 * r["n"] // max(n_docs, 1)),
        }
        for r in spark.sql(
            """SELECT source, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(length(text)) AS BIGINT) AS chars
               FROM documents GROUP BY source"""
        ).collect()
    }

    g = (
        spark.sql(_GOPHER_SPARK)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("gopher_pass"), 1).otherwise(0)).alias("passed"),
        )
        .first()
    )
    q = spark.sql(_QUALITY_SPARK).agg(
        F.expr("percentile(n_tokens, array(0.1, 0.5, 0.9))").alias("tok_q"),
        F.expr(
            "CAST(FLOOR(1000 * sum(n_stopwords) / GREATEST(sum(n_tokens), 1)) AS BIGINT)"
        ).alias("stop_milli"),
    ).first()
    sheet["quality"] = {
        "gopher_scored": int(g["n"]),
        "gopher_passed": int(g["passed"]),
        "gopher_pass_milli": int(1000 * g["passed"] // max(g["n"], 1)),
        "token_quantiles_10_50_90": [float(x) for x in q["tok_q"]],
        "stopword_ratio_milli": int(q["stop_milli"]),
    }

    d = spark.sql(
        f"""SELECT CAST(count(*) AS BIGINT) AS groups,
                   CAST(coalesce(sum(n_copies), 0) AS BIGINT) AS dup_docs,
                   CAST(coalesce(sum(n_copies - 1), 0) AS BIGINT) AS excess
            FROM ({_EXACT_DUP_GROUPS})"""
    ).first()
    sheet["duplication"] = {
        "exact_groups": int(d["groups"]),
        "docs_in_dup_groups": int(d["dup_docs"]),
        "excess_copies": int(d["excess"]),
        "excess_milli": int(1000 * d["excess"] // max(n_docs, 1)),
    }

    sheet["pii"] = {
        r["kind"]: int(r["n"])
        for r in pii_spans_df(docs)
        .groupBy("kind")
        .agg(F.count("*").alias("n"))
        .collect()
    }

    s = (
        docs.withColumn("s", sanitize_text_udf()(F.col("text")))
        .agg(
            F.sum(F.when(F.col("s.repairs") > 0, 1).otherwise(0)).alias("repaired"),
            F.sum(F.when(F.col("s.removed") > 0, 1).otherwise(0)).alias("stripped"),
            F.sum(F.when(F.col("s.clean") != F.col("text"), 1).otherwise(0)).alias(
                "changed"
            ),
        )
        .first()
    )
    sheet["sanitize"] = {
        "docs_mojibake_repaired": int(s["repaired"]),
        "docs_controls_stripped": int(s["stripped"]),
        "docs_changed": int(s["changed"]),
    }

    with caches.scope():
        sc_df = spark.sql(_SOURCE_KL_SC_SQL).persist()
        caches.register(sc_df)
        sc_df.createOrReplaceTempView("source_kl_sc")
        kl = spark.sql(_SOURCE_KL_SPARK).collect()
    kl.sort(key=lambda r: (-r["kl_r4"], r["source"]))
    sheet["drift_top_sources"] = [
        {"source": r["source"], "kl_r4": float(r["kl_r4"])} for r in kl[:top_k]
    ]
    return sheet


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output")
    p.add_argument("--top-k", type=int, default=5)
    p.add_argument("--cpus", type=int, default=None)
    args = p.parse_args(argv)

    from extractor_spark.spark.session import get_spark

    spark = get_spark("datasheet", cpus=args.cpus)
    sheet = build_datasheet(spark, spark.read.parquet(args.input), top_k=args.top_k)
    line = json.dumps(sheet, sort_keys=True)
    if args.output:
        with open(args.output, "w") as f:
            f.write(line + "\n")
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
