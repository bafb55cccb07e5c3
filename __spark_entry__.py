"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship extract pipeline over a deterministic synthetic
``pages`` table (reference fixtures embedded when present) and returns the output
DataFrame.  ``queries``/``oracle_sql`` expose the operator inventory of
SURVEY.md §2 over the driver-provided tables with DuckDB oracles
(extractor_spark/spark/queries.py); probabilistic scale-path ops
(MinHash-LSH, SimHash, hyperplane LSH) and iterative trainers are
registered rows-only.  The driver records the first 50 entries, all
oracled; round 5 rotated six curation-rule queries (exact DuckDB twins)
into that window, retiring six trivial one-liners to rows-only with
their SQL kept as in-repo twin gates (queries.py:TWIN_SQL); a second
session-5 rotation promoted bm25_search / embedding_decontaminate /
ngram_containment_pairs the same way (retiring embedding_quantize,
hot_keys, top_bigrams).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

BLOG_SCHEMA = {
    "type": "object",
    "required": ["title", "summary"],
    "properties": {
        "title": {"type": "string"},
        "summary": {"type": "string", "optional": True},
        "tags": {"type": "array", "items": {"type": "string"}, "optional": True},
        "links": {
            "type": "array",
            "items": {"type": "string", "format": "uri"},
            "optional": True,
        },
    },
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize pages (unit literals, reference fixtures when
    present, boilerplate corpus, PDFs) → bucket shuffle → convert with
    in-stage latest-crawl dedup (mapInPandas) → schema extraction → typed
    output."""
    from extractor_spark.spark.pipeline import PipelineConfig, run_pipeline
    from extractor_spark.spark.synth import write_pages

    workdir = os.path.join(tempfile.gettempdir(), "extractor_spark_entry")
    pages_path = os.path.join(workdir, "pages.parquet")
    out_path = os.path.join(workdir, "out")

    write_pages(spark, pages_path, n_pages=50, include_pdfs=True)
    conf = PipelineConfig(
        pages_path=pages_path,
        output_path=out_path,
        schema=BLOG_SCHEMA,
        n_buckets=8,
        resume=False,
    )
    run_pipeline(spark, conf)
    out = spark.read.parquet(out_path)
    return out.select(
        "url",
        "markdown",
        "text",
        "html_bytes",
        "markdown_chars",
        "boilerplate_bytes_removed",
        "data",
        "input_tokens",
        "output_tokens",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from extractor_spark.spark.queries import QUERIES

    return {name: fn for name, (fn, _oracle) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from extractor_spark.spark.queries import QUERIES

    return {
        name: oracle for name, (_fn, oracle) in QUERIES.items() if oracle is not None
    }
