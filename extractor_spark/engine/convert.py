"""HTML→markdown conversion driver (reference operator C1,
reference src/converters.ts:75-236)."""

from __future__ import annotations

import sys
from dataclasses import dataclass

# Crawl pages nest arbitrarily deep (malformed HTML); the turndown walk and
# the textContent surrogate recurse ~3 Python frames per DOM level, so the
# default limit of 1000 rejected pages beyond ~330 levels that the Node
# reference converts fine.  Pure-Python recursion does not consume C stack
# on CPython 3.11+ (frames live on the heap), so a high limit is safe; DOM
# *parsing* is already iterative.  Checked per conversion, not only at
# import: other libraries (pyspark/cloudpickle test infra) reset the
# process limit after this module loads.
def _ensure_recursion_headroom() -> None:
    if sys.getrecursionlimit() < 30_000:
        sys.setrecursionlimit(30_000)


_ensure_recursion_headroom()

from extractor_spark.engine.dom import Element
from extractor_spark.engine.main_extract import extract_main_html
from extractor_spark.engine.tidy import tidy_dom, tidy_html
from extractor_spark.engine.turndown_md import (
    TurndownConverter,
    js_trim,
    normalize_text_nodes,
)


@dataclass(frozen=True)
class HtmlExtractionOptions:
    """Mirrors the reference's HTMLExtractionOptions
    (reference src/types.ts:16-44); all default False."""

    extract_main_html: bool = False
    include_images: bool = False
    clean_urls: bool = False


def html_to_markdown(
    html: str,
    options: HtmlExtractionOptions | None = None,
    source_url: str | None = None,
    fast_path: bool = True,
) -> str:
    """Tidy → turndown-convert → optional main-content heuristic.

    Byte-compatible with the reference's ``htmlToMarkdown``
    (converters.ts:75-236) including the 20%/500-char main-vs-full decision.

    ``fast_path`` (no extract_main_html only) hands the tidied DOM straight
    to the converter instead of round-tripping through serialize→reparse —
    equivalent output (tests/test_fast_path.py corpus check), ~30% faster.
    """
    _ensure_recursion_headroom()
    opts = options or HtmlExtractionOptions()
    converter = TurndownConverter(
        include_images=opts.include_images,
        clean_urls=opts.clean_urls,
        source_url=source_url,
    )
    if fast_path and not opts.extract_main_html:
        body = tidy_dom(html, opts.include_images).body
        normalize_text_nodes(body)
        root = Element("#root")
        root.children = body.children
        for child in root.children:
            child.parent = root
        return js_trim(converter.turndown_dom(root))

    tidied = tidy_html(html, opts.include_images)
    full_markdown = js_trim(converter.turndown(tidied))
    if not opts.extract_main_html:
        return full_markdown

    main_html = extract_main_html(tidied)
    main_markdown = js_trim(converter.turndown(main_html))
    # Heuristic (converters.ts:224-232): fall back to the full conversion when
    # the main extraction is empty, or both <20% of full and <500 chars.
    if len(main_markdown) == 0 or (
        len(main_markdown) < len(full_markdown) * 0.2 and len(main_markdown) < 500
    ):
        return full_markdown
    return main_markdown


def convert_html_to_markdown(
    html: str,
    options: HtmlExtractionOptions | None = None,
    source_url: str | None = None,
) -> str:
    """Public standalone export (reference A2, src/index.ts:76-82)."""
    return html_to_markdown(html, options, source_url)
