"""Main-content extraction — discard-rule pass over the tidied HTML
(reference src/converters.ts:40-70)."""

from __future__ import annotations

from extractor_spark.engine.discard_rules import apply_discard_rules
from extractor_spark.engine.dom import parse_document, serialize_inner


def extract_main_html(html: str) -> str:
    """Remove boilerplate nodes and return the body inner HTML.

    Mirrors converters.ts:40-70: empty result falls back to the input; an
    internal error yields "" (the caller's markdown heuristic then keeps the
    full conversion).
    """
    try:
        doc = parse_document(html)
        apply_discard_rules(doc.html)
        refined = serialize_inner(doc.body)
        return html if refined == "" else refined
    except Exception:
        return ""
