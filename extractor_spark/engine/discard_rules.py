"""Boilerplate-discard predicates (trafilatura-derived, as curated by the
reference at src/converters.ts:348-425).

The reference evaluates two XPath lists with jsdom and removes every match.
Here the same predicates are frozen into attribute-substring tests over our
DOM — including the XPath quirk that ``translate()`` folds only specific
single letters (F, R, S, N, B, I) rather than full lowercasing.
"""

from __future__ import annotations

from extractor_spark.engine.dom import ELEMENT_NODE, Element

# XPath `self::div or self::item or self::list or self::p or self::section
# or self::span` (converters.ts:350-351, 420-421).
_TAG_SET = frozenset(["div", "item", "list", "p", "section", "span"])


def _overall_predicate(el: Element) -> bool:
    """converters.ts:350-401 — the big id/class/role/data-component test."""
    attrs = el.attrs
    id_ = attrs.get("id", "") or ""
    cls = attrs.get("class", "") or ""
    role = attrs.get("role", "") or ""
    data_component = attrs.get("data-component", "") or ""

    id_f = id_.replace("F", "f")
    cls_f = cls.replace("F", "f")
    cls_r = cls.replace("R", "r")
    id_s = id_.replace("S", "s")
    id_n = id_.replace("N", "n")
    role_n = role.replace("N", "n")
    cls_n = cls.replace("N", "n")
    cls_b = cls.replace("B", "b")
    cls_i = cls.replace("I", "i")

    return (
        "footer" in id_f
        or "footer" in cls_f
        or "related" in id_
        or "related" in cls_r
        or "viral" in id_
        or "viral" in cls
        or "filter" in id_
        or id_.startswith("shar")
        or cls.startswith("shar")
        or "share-" in cls
        or "share" in id_s
        or "social" in id_
        or "social" in cls
        or "sociable" in cls
        or "syndication" in id_
        or "syndication" in cls
        or id_.startswith("jp-")
        or id_.startswith("dpsp-content")
        or "embedded" in cls
        or "embed" in cls
        or "newsletter" in id_
        or "newsletter" in cls
        or "subnav" in cls
        or "cookie" in id_
        or "cookie" in cls
        or "banner" in id_
        or "banner" in cls
        or "meta" in cls
        or "menu" in id_
        or "menu" in cls
        or "nav" in id_n
        or "nav" in role_n
        or cls.startswith("nav")
        or "navigation" in cls_n
        or "navbar" in cls
        or "navbox" in cls
        or cls.startswith("post-nav")
        or "breadcrumb" in id_
        or "breadcrumb" in cls
        or "bread-crumb" in id_
        or "bread-crumb" in cls
        or "button" in id_
        or "button" in cls
        or "byline" in cls_b
        or cls.startswith("widget")
        or "-ad-" in cls
        or "-icon" in cls
        or "article-infos" in cls
        or "infoline" in cls_i
        or "MostPopularStories" in data_component
        or "outbrain" in cls
        or "taboola" in cls
        or "criteo" in cls
        or "consent" in cls
        or "modal-content" in cls
        or "paid-content" in cls
        or "paidcontent" in cls
        or "premium-" in id_
        or "paywall" in id_
        or "obfuscated" in cls
        or "blurred" in cls
        or " ad " in cls
        or "next-post" in cls
        or "side-stories" in cls
        or "related-stories" in cls
        or "most-popular" in cls
        or "mol-factbox" in cls
        or cls.startswith("ZendeskForm")
        or "message-container" in cls
        or "message_container" in id_
        or "yin" in cls
        or "zlylin" in cls
        or "xg1" in cls
        or "bmdh" in id_
        or "data-lp-replacement-content" in attrs
    )


def _overall_match(el: Element) -> bool:
    return el.tag in _TAG_SET and _overall_predicate(el)


def _footer_match(el: Element) -> bool:
    return el.tag == "footer"  # converters.ts:402


def _header_match(el: Element) -> bool:
    return el.tag == "header"  # converters.ts:419


def _precision_match(el: Element) -> bool:
    """converters.ts:420-424 — bottom/link id-or-class test."""
    if el.tag not in _TAG_SET:
        return False
    id_ = el.attrs.get("id", "") or ""
    cls = el.attrs.get("class", "") or ""
    return "bottom" in id_ or "bottom" in cls or "link" in id_ or "link" in cls


# Applied in the reference's exact order: OVERALL[0], OVERALL[1] (footer),
# PRECISION[0] (header), PRECISION[1] (converters.ts:47).
DISCARD_PREDICATES = (
    _overall_match,
    _footer_match,
    _header_match,
    _precision_match,
)


def apply_discard_rules(root: Element) -> int:
    """Remove every node matching the discard predicates, one predicate at a
    time (snapshot → reverse-order removal, converters.ts:47-62).

    Returns the number of nodes detached (feeds the pipeline's
    boilerplate metrics).
    """
    removed = 0
    for predicate in DISCARD_PREDICATES:
        snapshot = [el for el in root.iter_elements() if predicate(el)]
        for el in reversed(snapshot):
            if el.parent is not None:
                el.detach()
                removed += 1
    return removed
