"""Public per-document API (reference A1/A2, src/index.ts)."""

from __future__ import annotations

from extractor_spark.engine.convert import HtmlExtractionOptions, html_to_markdown
from extractor_spark.engine.extract_llm import (
    FORMAT_HTML,
    FORMAT_MARKDOWN,
    LLMClient,
    extract_with_llm,
)


def extract(
    content: str,
    format: str,
    schema: dict,
    llm: LLMClient,
    source_url: str | None = None,
    html_extraction_options: HtmlExtractionOptions | None = None,
    prompt: str | None = None,
    max_input_tokens: float | None = None,
    extraction_context: dict | None = None,
) -> dict:
    """index.ts:26-66 — the flagship entry: HTML is converted to markdown
    (requiring source_url), then structured-extracted against ``schema``.

    Returns {"data": ..., "processed_content": markdown, "usage": {...}}.
    """
    processed_content = content
    effective_format = format

    if format == FORMAT_HTML:
        if not source_url:
            raise ValueError("sourceUrl is required when format is HTML")
        processed_content = html_to_markdown(
            content, html_extraction_options, source_url
        )
        effective_format = FORMAT_MARKDOWN

    result = extract_with_llm(
        processed_content,
        schema,
        llm,
        prompt,
        effective_format,
        max_input_tokens,
        extraction_context,
    )
    return {
        "data": result["data"],
        "processed_content": processed_content,
        "usage": result["usage"],
    }
