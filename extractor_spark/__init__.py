"""extractor_spark — PySpark-native HTML→structured-data extraction engine.

A brand-new engine with the capabilities of the reference TypeScript library
``lightfeed/extractor`` (surveyed in SURVEY.md), built
Spark-first: the per-document transform (HTML tidy → markdown → schema-guided
extraction → sanitization) lives in pure-Python ``extractor_spark.engine`` and
is applied over Arrow batches via vectorized ``mapInPandas`` stages in
``extractor_spark.spark``; everything relational (scan, dedup window, context
broadcast join, metric aggregation, skew-defusing repartition, resumable
manifest anti-join) is stock Spark SQL planned by Catalyst.
"""

from extractor_spark.engine.convert import convert_html_to_markdown, html_to_markdown
from extractor_spark.engine.sanitize import (
    fix_url_escape_sequences,
    safe_sanitized_parser,
    transform_schema_for_llm,
)

__all__ = [
    "convert_html_to_markdown",
    "html_to_markdown",
    "safe_sanitized_parser",
    "transform_schema_for_llm",
    "fix_url_escape_sequences",
]

__version__ = "0.1.0"
