"""HTML tidy pass — element denylist + broken-attribute scrub.

Re-expresses the reference's cheerio tidy stage
(reference src/converters.ts:239-327): drop any attribute whose *name*
contains a double quote (broken-markup guard), remove a fixed element
denylist (keeping footer/form/fieldset/button/select/option/label, which the
reference deliberately retains), optionally drop img/picture/figure, then
return the body's inner HTML.
"""

from __future__ import annotations

from extractor_spark.engine.dom import parse_document, serialize_inner

# reference src/converters.ts:264-316 — exact list, commented-out
# entries (footer, form, button, fieldset, label, option, select) excluded.
MANUALLY_CLEANED_ELEMENTS = frozenset(
    (
        "aside embed head iframe menu object script "
        "applet audio canvas map svg video "
        "area blink datalist dialog frame frameset link input ins legend "
        "marquee math menuitem nav noscript optgroup output param progress "
        "rp rt rtc source style track textarea time use"
    ).split()
)

IMAGE_ELEMENTS = frozenset(["img", "picture", "figure"])


def tidy_dom(html: str, include_images: bool = False):
    """Tidy raw HTML in place and return the parsed document builder
    (exposes ``.body``)."""
    doc = parse_document(html)

    denylist = MANUALLY_CLEANED_ELEMENTS
    if not include_images:
        denylist = denylist | IMAGE_ELEMENTS

    # Single walk fusing the broken-attribute scrub (converters.ts:241-254)
    # with the denylist collection (converters.ts:323-325): the reference
    # runs them as two passes, but the scrub never adds/removes elements, so
    # scrubbing and marking in one traversal is observationally identical.
    # "head" is in the denylist, so the whole head (incl. <title>) goes away
    # before serialization.
    doomed = []
    for el in (doc.html, *doc.html.iter_elements()):
        attrs = el.attrs
        if attrs:
            bad = [name for name in attrs if '"' in name]
            for name in bad:
                del attrs[name]
        if el.tag in denylist and el is not doc.html:
            doomed.append(el)
    for el in doomed:
        if el.parent is not None:
            el.detach()

    return doc


def tidy_html(html: str, include_images: bool = False) -> str:
    """Tidy raw HTML and return the body inner HTML
    (cheerio ``$("body").html()`` equivalent,
    reference src/converters.ts:239-327)."""
    return serialize_inner(tidy_dom(html, include_images).body)


def clean_attribute(attribute: str | None) -> str:
    """Collapse newline runs in title/alt attribute text
    (reference src/converters.ts:329-331)."""
    if not attribute:
        return ""
    import re

    return re.sub(r"(\n+\s*)+", "\n", attribute)


def clean_url(url_string: str) -> str:
    """Amazon-only tracking-parameter strip
    (reference src/converters.ts:10-35): on amazon.com/.ca hosts,
    truncate at ``/ref=``; all other URLs pass through unchanged."""
    try:
        hostname = _hostname_of(url_string)
        if hostname is None:
            return url_string
        hostname = hostname.lower()
        if (
            hostname.startswith("amazon.com")
            or hostname.startswith("www.amazon.com")
            or hostname.startswith("amazon.ca")
            or hostname.startswith("www.amazon.ca")
        ):
            ref_index = url_string.find("/ref=")
            if ref_index != -1:
                return url_string[:ref_index]
        return url_string
    except Exception:
        return url_string


def _hostname_of(url_string: str) -> str | None:
    """Hostname per the WHATWG URL parser (``new URL(...)``); raises/None on
    inputs Node's constructor would reject so the caller can pass through."""
    from urllib.parse import urlsplit

    parts = urlsplit(url_string)
    if not parts.scheme:
        # new URL("no-scheme") throws -> clean_url returns input unchanged.
        raise ValueError("relative URL without base")
    return parts.hostname or ""
