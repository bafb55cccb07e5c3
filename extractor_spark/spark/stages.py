"""Vectorized per-document stages (Arrow-batched mapInPandas — no per-row
Python UDFs, per BASELINE.json input_hint).

Stage C (convert): pages → markdown + conversion metrics.
Stage E (extract): markdown → schema-validated JSON + usage + failure flags.
``convert_extract_stage`` runs both batch bodies in one Python node.

All stages are pure maps: no state, no shuffle; memory is bounded by the
Arrow batch size (spark.sql.execution.arrow.maxRecordsPerBatch).  The
per-document work calls the engine package, which is also unit-tested without
Spark — the cluster stage is just transport.

Every Python task pays a fixed cost before its first row, even on a reused
worker.  Under Spark's stock daemon most of it is pyspark's per-task
``importlib.invalidate_caches()``, which under CPython 3.11 re-reads the zip
directories of ``pyspark.zip``, the py4j zip and the Spark core jar:
0.12–0.24 s per task on a 4-core box, 5–6× the Python compute of a
1,000-page structured run.  ``get_spark`` runs workers under
``lean_daemon``, which takes those archives out of the import machinery
(the invalidate then takes ~0.1 ms); scheduling and start-up still cost
~0.07 s per task.  So the pipeline runs one Python node per task (the fused
stage) over few, wide tasks.
"""

from __future__ import annotations

import json
from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from extractor_spark.engine.convert import HtmlExtractionOptions, html_to_markdown
from extractor_spark.engine.extract_llm import LLMClient, MarkdownRuleExtractor, extract_with_llm
from extractor_spark.engine.pdf import is_pdf
from extractor_spark.engine.schema import normalize_schema, to_spark_type

CONVERT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("markdown", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("html_bytes", T.LongType(), True),
        T.StructField("markdown_chars", T.LongType(), True),
        T.StructField("boilerplate_bytes_removed", T.LongType(), True),
        T.StructField("convert_error", T.StringType(), True),
    ]
)

import re as _re

# Positional markdown stripping: in turndown output every LITERAL markdown
# character is backslash-escaped, so unescaped '*'/'_'/'`' are always
# emphasis/code markers and line-leading markers are always syntax — words
# like 'well-known' or 'snake\_case' survive intact (the escape is removed
# last).
_MD_SETEXT_OR_HR = _re.compile(r"(?m)^(?:=+|-+|\* \* \*)\s*$")
# link/image bodies use the unrolled-loop form x*(?:\\.x*)* — the same
# language as (?:\\.|[^x\\])* but without per-character alternation
# backtracking (equality fuzz-checked over 50k adversarial strings)
_MD_IMAGE = _re.compile(r"!\[([^\]\\]*(?:\\.[^\]\\]*)*)\]\([^)\\]*(?:\\.[^)\\]*)*\)")
_MD_LINK = _re.compile(
    r"(?<!!)\[([^\]\\]*(?:\\.[^\]\\]*)*)\]\([^)\\]*(?:\\.[^)\\]*)*\)"
)
_MD_LINE_PREFIX = _re.compile(r"(?m)^\s*(?:> ?)*(?:#{1,6} |(?:[*+-]|\d+\.) )?")
_MD_CODE_SPAN = _re.compile(r"`([^`\n]*)`")
_MD_CODE_PROTECT = _re.compile(r"([*_`])")
_MD_MARKERS = _re.compile(r"(?<!\\)[*_`]")
_MD_UNESCAPE = _re.compile(r"\\([\\`*_{}\[\]()#+\-.!=>~])")


def markdown_to_text(markdown: str) -> str:
    """Plain-text projection of the markdown (the pipeline's ``text`` output
    column; the reference exposes only markdown, text is the training-data-
    friendly extra).  Markdown syntax is stripped positionally — line
    prefixes, setext underlines, link/image syntax, emphasis markers — never
    by character class, so legitimate in-word punctuation survives."""
    s = _MD_SETEXT_OR_HR.sub("", markdown)
    if "](" in s:  # no-link/image docs skip both whole-string scans
        s = _MD_IMAGE.sub(r"\1", s)
        s = _MD_LINK.sub(r"\1", s)
    s = _MD_LINE_PREFIX.sub("", s)
    # code spans: drop the backticks but escape the raw content so the
    # marker pass below can't eat literal *_` inside code
    if "`" in s:
        s = _MD_CODE_SPAN.sub(lambda m: _MD_CODE_PROTECT.sub(r"\\\1", m.group(1)), s)
    s = _MD_MARKERS.sub("", s)
    if "\\" in s:
        s = _MD_UNESCAPE.sub(r"\1", s)
    return " ".join(s.split())


def _first_of_url_runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The first row of each url run of a partition sorted by
    (url asc, warc_ts desc), streaming across Arrow batches with O(1)
    state; batches left empty are dropped."""
    prev_url = None
    for pdf in batches:
        if not len(pdf):
            continue
        urls_s = pdf["url"]
        # vectorized run-boundary mask; first row compares against the
        # previous Arrow batch's last kept url
        mask = urls_s.ne(urls_s.shift())
        mask.iat[0] = urls_s.iat[0] != prev_url
        prev_url = urls_s.iat[-1]
        if not mask.all():
            pdf = pdf[mask]
        if len(pdf):
            yield pdf


def _convert_batch(pdf: pd.DataFrame, opts: HtmlExtractionOptions) -> pd.DataFrame:
    """Stage C's batch body: page rows → CONVERT_SCHEMA columns."""
    n = len(pdf)
    urls = pdf["url"].tolist()
    htmls = pdf["html"].tolist()
    ts = pdf["warc_ts"].tolist() if "warc_ts" in pdf.columns else [None] * n
    langs = pdf["lang"].tolist() if "lang" in pdf.columns else [None] * n
    out = {
        "url": urls,
        "warc_ts": ts,
        "lang": langs,
        "markdown": [],
        "text": [],
        "html_bytes": [],
        "markdown_chars": [],
        "boilerplate_bytes_removed": [],
        "convert_error": [],
    }
    for url, raw in zip(urls, htmls):
        html = (
            raw.decode("utf-8", errors="replace")
            if isinstance(raw, (bytes, bytearray))
            else (raw or "")
        )
        markdown = None
        text = None
        error = None
        boiler = None
        try:
            if isinstance(raw, (bytes, bytearray)) and is_pdf(bytes(raw)):
                # north_rule "PDF/layout parse": crawl payloads that are
                # PDFs route through the layout extractor; the markdown
                # column carries the layout-ordered plain text (PDF has no
                # markup to preserve), and the text projection is
                # whitespace-collapse only — PDF text is not markdown, so
                # the positional stripper must not touch it.
                from extractor_spark.engine.pdf import pdf_to_text

                markdown = pdf_to_text(bytes(raw))
                boiler = len(raw) - len(markdown)
                text = " ".join(markdown.split())
            else:
                markdown = html_to_markdown(html, opts, url)
                boiler = len(html) - len(markdown)
                text = markdown_to_text(markdown)
        except Exception as exc:  # keep the row, record the failure
            error = f"{type(exc).__name__}: {exc}"[:500]
        out["markdown"].append(markdown)
        out["text"].append(text)
        out["html_bytes"].append(len(raw) if raw is not None else 0)
        out["markdown_chars"].append(len(markdown) if markdown is not None else None)
        out["boilerplate_bytes_removed"].append(boiler)
        out["convert_error"].append(error)
    return pd.DataFrame(out)


def convert_stage(
    pages: DataFrame,
    options: HtmlExtractionOptions | None = None,
    dedup_sorted_runs: bool = False,
) -> DataFrame:
    """Stage C: (url, warc_ts, html, lang, ...) → CONVERT_SCHEMA rows.

    ``dedup_sorted_runs=True`` fuses latest-crawl-per-url dedup into the
    stage: the caller guarantees each partition is sorted by
    (url asc, warc_ts desc) and that all rows of a url share a partition
    (bucket co-location) — the stage then keeps only the first row of each
    url run, streaming across Arrow batches with O(1) state.  This replaces
    the separate window-dedup shuffle entirely."""
    opts = options or HtmlExtractionOptions()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if dedup_sorted_runs:
            batches = _first_of_url_runs(batches)
        for pdf in batches:
            yield _convert_batch(pdf, opts)

    return pages.mapInPandas(run, schema=CONVERT_SCHEMA)


_EXTRACT_FIELDS = [
    T.StructField("data_json", T.StringType(), True),
    T.StructField("input_tokens", T.LongType(), True),
    T.StructField("output_tokens", T.LongType(), True),
    T.StructField("extract_error", T.StringType(), True),
]


def _extract_batch(
    pdf: pd.DataFrame,
    pass_names: list[str],
    contexts: list,
    norm_schema: dict,
    client: LLMClient,
    custom_prompt: str | None,
    max_input_tokens: float | None,
) -> pd.DataFrame:
    """Stage E's batch body: the ``pass_names`` columns of ``pdf`` plus the
    extraction fields, one per markdown (and its raw context_json)."""
    data_json_col: list = []
    in_tok_col: list = []
    out_tok_col: list = []
    error_col: list = []
    for markdown, raw_ctx in zip(pdf["markdown"].tolist(), contexts):
        data_json = None
        in_tok = out_tok = None
        error = None
        if markdown is None:
            error = "no markdown (conversion failed upstream)"
        else:
            ctx = None
            if raw_ctx:
                try:
                    ctx = json.loads(raw_ctx)
                except Exception:
                    ctx = None
            try:
                result = extract_with_llm(
                    markdown,
                    norm_schema,
                    client,
                    custom_prompt,
                    "markdown",
                    max_input_tokens,
                    ctx,
                )
                data_json = json.dumps(result["data"], ensure_ascii=False, default=str)
                in_tok = result["usage"].get("input_tokens")
                out_tok = result["usage"].get("output_tokens")
            except Exception as exc:
                error = f"{type(exc).__name__}: {exc}"[:500]
        data_json_col.append(data_json)
        in_tok_col.append(in_tok)
        out_tok_col.append(out_tok)
        error_col.append(error)
    out = pdf[pass_names].copy()
    out["data_json"] = data_json_col
    out["input_tokens"] = in_tok_col
    out["output_tokens"] = out_tok_col
    out["extract_error"] = error_col
    return out


def _contexts(pdf: pd.DataFrame, context_column: str | None) -> list:
    if context_column is not None and context_column in pdf.columns:
        return pdf[context_column].tolist()
    return [None] * len(pdf)


def extract_stage(
    converted: DataFrame,
    schema: dict,
    client_factory: Callable[[], LLMClient] = MarkdownRuleExtractor,
    custom_prompt: str | None = None,
    max_input_tokens: float | None = None,
    context_column: str | None = None,
) -> DataFrame:
    """Stage E: markdown (+ optional per-url context_json column, broadcast-
    joined upstream) → sanitized structured data as JSON.

    All input columns except the context column are passed through, so the
    stage composes with stage C without a self-join (which would recompute
    the conversion).  One client per task (not per row); a network-backed
    client can batch within the Arrow batch.
    """
    norm_schema = normalize_schema(schema)
    passthrough = [f for f in converted.schema.fields if f.name != context_column]
    out_schema = T.StructType(passthrough + _EXTRACT_FIELDS)
    pass_names = [f.name for f in passthrough]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = client_factory()
        for pdf in batches:
            yield _extract_batch(
                pdf, pass_names, _contexts(pdf, context_column),
                norm_schema, client, custom_prompt, max_input_tokens,
            )

    return converted.mapInPandas(run, schema=out_schema)


def convert_extract_stage(
    pages: DataFrame,
    schema: dict,
    options: HtmlExtractionOptions | None = None,
    dedup_sorted_runs: bool = False,
    custom_prompt: str | None = None,
    max_input_tokens: float | None = None,
    context_column: str | None = None,
) -> DataFrame:
    """Stages C and E in one Python node: each batch is converted and then
    extracted inside the same task, so a document crosses JVM↔Python once
    and each partition pays the per-task worker cost (module docstring)
    once instead of twice.  Output equals
    ``extract_stage(convert_stage(pages, options, dedup_sorted_runs),
    schema, ...)``; ``context_column``, when given, is read from ``pages``
    and is not in the output."""
    opts = options or HtmlExtractionOptions()
    norm_schema = normalize_schema(schema)
    out_schema = T.StructType(CONVERT_SCHEMA.fields + _EXTRACT_FIELDS)
    pass_names = CONVERT_SCHEMA.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = MarkdownRuleExtractor()
        if dedup_sorted_runs:
            batches = _first_of_url_runs(batches)
        for pdf in batches:
            yield _extract_batch(
                _convert_batch(pdf, opts), pass_names, _contexts(pdf, context_column),
                norm_schema, client, custom_prompt, max_input_tokens,
            )

    return pages.mapInPandas(run, schema=out_schema)


def with_typed_data(extracted: DataFrame, schema: dict) -> DataFrame:
    """Attach a typed ``data`` struct column by compiling the extraction
    schema to a Spark type and parsing data_json JVM-side (from_json —
    Catalyst handles the heavy lifting, no Python involved)."""
    spark_type = to_spark_type(normalize_schema(schema))
    return extracted.withColumn("data", F.from_json("data_json", spark_type))
