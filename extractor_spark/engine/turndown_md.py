"""Markdown serializer with turndown-7.2.2 semantics.

A from-scratch Python implementation of the public ``turndown`` npm package's
default (commonmark, setext/inlined/indented) conversion pipeline — DOM
whitespace collapse, rule dispatch with blank-node handling, flanking
whitespace, block joining capped at one blank line, character escaping — plus
the reference's seven custom rules added at
reference src/converters.ts:85-216 (remove-irrelevant,
remove-aria-hidden, truncate-svg, title-as-h1, improved-paragraph,
improved-inline-link, images).  Custom rules take priority in
reverse-addition order, exactly like turndown's ``addRule`` unshift.

Byte-identical output against the reference's golden strings is the contract
(tests/test_turndown_golden.py ports every literal expectation in
reference tests/unit/converters.test.ts).
"""

from __future__ import annotations

import re

from extractor_spark.engine.dom import (
    COMMENT_NODE,
    ELEMENT_NODE,
    TEXT_NODE,
    Element,
    Text,
    parse_fragment,
)
from extractor_spark.engine.tidy import clean_attribute, clean_url
from extractor_spark.engine.urlresolve import resolve_url

# ---------------------------------------------------------------------------
# turndown's element classifications (node.js / utilities.js of the package)
# ---------------------------------------------------------------------------

BLOCK_ELEMENTS = frozenset(
    (
        "address article aside audio blockquote body canvas center dd dir div dl dt "
        "fieldset figcaption figure footer form frameset h1 h2 h3 h4 h5 h6 header "
        "hgroup hr html isindex li main menu nav noframes noscript ol output p pre "
        "section table tbody td tfoot th thead tr ul"
    ).split()
)

VOID_ELEMENTS = frozenset(
    "area base br col command embed hr img input keygen link meta param source track wbr".split()
)

MEANINGFUL_WHEN_BLANK = frozenset(
    "a table thead tbody tfoot th td iframe script audio video".split()
)

# JavaScript's \s character class (used by turndown's regexes); Python's \s
# differs on U+FEFF and control chars, so spell it out.
_JS_WS = " \t\r\n\f\v   -     　﻿"
_JS_WS_RE = re.compile(f"[{_JS_WS}]+")
_JS_WS_ONLY_RE = re.compile(f"^[{_JS_WS}]*$")
_LEAD_TRN_RE = re.compile(r"^[\t\r\n]+")
# turndown postProcess trailing strip: /[\t\r\n\s]+$/ — equivalent to JS \s.
_TRAIL_WS_RE = re.compile(f"[{_JS_WS}]+$")
# _JS_WS expanded to literal characters (it embeds the regex range
#  - ) so str.strip can replace the anchored regexes above —
# strip(charset) ≡ sub("", anchored-charset-run) for whole-string trims
_JS_WS_CHARS = " \t\r\n\f\v\xa0 " + "".join(
    chr(c) for c in range(0x2000, 0x200B)
) + "    　﻿"

_EDGE_WS_RE = re.compile(
    f"^(([ \\t\\r\\n]*)([{_JS_WS}]*))"
    f"(?:(?=[^{_JS_WS}])(?s:.)*[^{_JS_WS}])?"
    f"(([{_JS_WS}]*?)([ \\t\\r\\n]*))$"
)


def js_trim(s: str) -> str:
    return s.strip(" \t\r\n\f\v                 　﻿")


def _is_block(node) -> bool:
    return node.node_type == ELEMENT_NODE and node.tag in BLOCK_ELEMENTS


# turndown's isBlank rule (blank = not void/meaningful-when-blank, text is
# whitespace-only, and no void/meaningful-when-blank descendant) lives
# inlined in _apply_rule, with the descendant walk memoized per conversion.
_VOID_OR_MEANINGFUL = VOID_ELEMENTS | MEANINGFUL_WHEN_BLANK


def _is_code(node) -> bool:
    cur = node if node.node_type == ELEMENT_NODE else node.parent
    while cur is not None:
        if cur.node_type == ELEMENT_NODE and cur.tag == "code":
            return True
        cur = cur.parent
    return False


# ---------------------------------------------------------------------------
# Whitespace collapse (the package's root-node preprocessing)
# ---------------------------------------------------------------------------

_COLLAPSE_RE = re.compile(r"[ \r\n\t]+")


def _wc_remove(node):
    parent = node.parent
    nxt = parent.next_sibling(node) or parent
    parent.remove_child(node)
    return nxt


def _wc_next(prev, current):
    came_up = prev is not None and prev.parent is current
    is_pre = current.node_type == ELEMENT_NODE and current.tag == "pre"
    if came_up or is_pre:
        if current.parent is not None:
            return current.parent.next_sibling(current) or current.parent
        return None
    if current.node_type == ELEMENT_NODE and current.children:
        return current.children[0]
    if current.parent is not None:
        return current.parent.next_sibling(current) or current.parent
    return None


def collapse_whitespace(element: Element) -> None:
    """In-place whitespace collapse, a faithful port of the traversal used by
    turndown's RootNode (skips <pre> subtrees, strips text around blocks,
    protects space next to inline void elements).

    Traversal is the index-stack equivalent of turndown's ``next(prev,
    current)`` walk (kept above as ``_wc_next`` for documentation): each
    element with children is processed on entry AND again on ascent, exactly
    as the pointer walk re-visits a parent on the way up, but sibling
    advancement is O(1) instead of ``children.index``'s O(width) rescan.
    Equivalence is golden-locked by the converter corpus
    (tests/test_converters_golden.py, test_fixtures_e2e.py).
    """
    if not element.children or element.tag == "pre":
        return

    prev_text: Text | None = None
    keep_leading_ws = False
    # stack of [container, next_child_idx]; top identifies the current node
    stack = [[element, 0]]

    while stack:
        top = stack[-1]
        parent, idx = top
        siblings = parent.children
        if idx >= len(siblings):
            # children exhausted — ascend: re-process `parent` (the pointer
            # walk returns to it before moving to its sibling), except the
            # root, which the original loop never processes
            stack.pop()
            if not stack:
                break
            tag = parent.tag
            if tag in BLOCK_ELEMENTS or tag == "br":
                if prev_text is not None and prev_text.data.endswith(" "):
                    prev_text.data = prev_text.data[:-1]
                prev_text = None
                keep_leading_ws = False
            elif tag in VOID_ELEMENTS or tag == "pre":
                prev_text = None
                keep_leading_ws = True
            elif prev_text is not None:
                keep_leading_ws = False
            stack[-1][1] += 1
            continue
        node = siblings[idx]
        ntype = node.node_type
        if ntype == TEXT_NODE:
            data = node.data
            # the sub is identity unless a tab/newline/CR or a space RUN is
            # present — C-speed prechecks beat the regex on typical nodes
            if "\n" in data or "  " in data or "\t" in data or "\r" in data:
                text = _COLLAPSE_RE.sub(" ", data)
            else:
                text = data
            if (
                (prev_text is None or prev_text.data.endswith(" "))
                and not keep_leading_ws
                and text[:1] == " "
            ):
                text = text[1:]
            if not text:
                del siblings[idx]  # next sibling slides into idx
                node.parent = None
                continue
            node.data = text
            prev_text = node
            top[1] = idx + 1
        elif ntype == ELEMENT_NODE:
            tag = node.tag
            if tag in BLOCK_ELEMENTS or tag == "br":
                if prev_text is not None and prev_text.data.endswith(" "):
                    prev_text.data = prev_text.data[:-1]
                prev_text = None
                keep_leading_ws = False
            elif tag in VOID_ELEMENTS or tag == "pre":
                prev_text = None
                keep_leading_ws = True
            elif prev_text is not None:
                keep_leading_ws = False
            if tag != "pre" and node.children:
                stack.append([node, 0])  # descend; parent idx advances on ascent
            else:
                top[1] = idx + 1
        else:  # comments, PIs — dropped by the collapse pass
            del siblings[idx]
            node.parent = None
            continue

    if prev_text is not None:
        if prev_text.data.endswith(" "):
            prev_text.data = prev_text.data[:-1]
        if not prev_text.data:
            _wc_remove(prev_text)


# ---------------------------------------------------------------------------
# Escaping (turndown's escapes table, applied per text node)
# ---------------------------------------------------------------------------

# turndown's escapes table, applied in its exact order; the global rules are
# plain character replacements and the anchored ones are prefix rewrites, so
# everything runs as string ops (hot path — regex only for the two
# length-sensitive anchors).
_HASH_ANCHOR_RE = re.compile(r"^(#{1,6}) ")
_OL_ANCHOR_RE = re.compile(r"^(\d+)\. ")

_ESCAPE_TRIGGER = re.compile(r"[\\*`\[\]_]|^[-+=>#~0-9]")


def normalize_text_nodes(element: Element) -> None:
    """Merge adjacent Text siblings throughout the subtree (what a
    serialize→reparse round trip would do implicitly).  Required before
    :meth:`TurndownConverter.turndown_dom`."""
    stack = [element]
    while stack:
        node = stack.pop()
        children = node.children
        merged: list = []
        for child in children:
            if (
                merged
                and child.node_type == TEXT_NODE
                and merged[-1].node_type == TEXT_NODE
            ):
                merged[-1].data += child.data
            else:
                merged.append(child)
                if child.node_type == ELEMENT_NODE:
                    stack.append(child)
        if len(merged) != len(children):
            node.children = merged


def escape_markdown(text: str) -> str:
    if _ESCAPE_TRIGGER.search(text) is None:
        return text
    if "\\" in text:
        text = text.replace("\\", "\\\\")
    if "*" in text:
        text = text.replace("*", "\\*")
    if text.startswith("-"):
        text = "\\" + text
    if text.startswith("+ "):
        text = "\\" + text
    if text.startswith("="):
        text = "\\" + text
    if text.startswith("#"):
        m = _HASH_ANCHOR_RE.match(text)
        if m:
            text = "\\" + text
    if "`" in text:
        text = text.replace("`", "\\`")
    if text.startswith("~~~"):
        text = "\\" + text
    if "[" in text:
        text = text.replace("[", "\\[")
    if "]" in text:
        text = text.replace("]", "\\]")
    if text.startswith(">"):
        text = "\\" + text
    if "_" in text:
        text = text.replace("_", "\\_")
    m = _OL_ANCHOR_RE.match(text)
    if m:
        digits = m.group(1)
        text = digits + "\\" + text[len(digits):]
    return text


# ---------------------------------------------------------------------------
# join / flanking helpers
# ---------------------------------------------------------------------------

def _join(output: str, replacement: str) -> str:
    s1 = output.rstrip("\n")
    s2 = replacement.lstrip("\n")
    nls = max(len(output) - len(s1), len(replacement) - len(s2))
    if nls > 2:
        nls = 2
    return s1 + "\n\n"[:nls] + s2


def _is_flanked_by_whitespace(side: str, sibling, tc) -> bool:
    if sibling is None:
        return False
    if sibling.node_type == TEXT_NODE:
        value = sibling.data
    elif sibling.node_type == ELEMENT_NODE and not _is_block(sibling):
        value = tc(sibling)
    else:
        return False
    return value.endswith(" ") if side == "left" else value.startswith(" ")


def _flanking_whitespace(node: Element, prev_sib, next_sib, tc) -> tuple[str, str]:
    if _is_block(node):
        return "", ""
    m = _EDGE_WS_RE.match(tc(node))
    if m is None:  # cannot happen — the regex matches any string
        return "", ""
    leading, leading_ascii, leading_non_ascii = m.group(1), m.group(2), m.group(3)
    trailing, trailing_non_ascii, trailing_ascii = m.group(4), m.group(5), m.group(6)
    if leading_ascii and _is_flanked_by_whitespace("left", prev_sib, tc):
        leading = leading_non_ascii
    if trailing_ascii and _is_flanked_by_whitespace("right", next_sib, tc):
        trailing = trailing_non_ascii
    return leading, trailing


# ---------------------------------------------------------------------------
# The converter
# ---------------------------------------------------------------------------

_WS_TO_SPACE_RE = re.compile(f"[{_JS_WS}]+")
_PAREN_ESCAPE_RE = re.compile(r"([()])")
_P_NEWLINES_RE = re.compile(r"\n{3,}")
_EDGE_NL_RE = re.compile(r"^\n+|\n+$")
_LINESTART_RE = re.compile(r"^", re.M)
_LI_LEAD_NL_RE = re.compile(r"^\n+")
_LI_TRAIL_NL_RE = re.compile(r"\n+$")
_CR_NL_RE = re.compile(r"\r?\n|\r")
_CODE_PAD_RE = re.compile(r"^`|^ .*?[^ ].* $|`$")
_BACKTICK_RUN_RE = re.compile(r"`+")

_REMOVE_BASE = frozenset(["meta", "style", "script", "noscript", "link", "textarea"])
_IMG_TAGS = frozenset(["img", "picture", "figure"])


class TurndownConverter:
    """One converter per (include_images, clean_urls, source_url) option set —
    cheap to construct; construct per document if options vary."""

    def __init__(
        self,
        include_images: bool = False,
        clean_urls: bool = False,
        source_url: str | None = None,
    ) -> None:
        self.include_images = include_images
        self.clean_urls = clean_urls
        self.source_url = source_url
        self._remove_tags = (
            _REMOVE_BASE if include_images else (_REMOVE_BASE | _IMG_TAGS)
        )

    # -- public -----------------------------------------------------------
    def turndown(self, input_html: str) -> str:
        if input_html == "":
            return ""
        return self._convert_root(parse_fragment(input_html))

    def turndown_dom(self, root: Element) -> str:
        """Fast path: convert an already-parsed tree (children adopted under
        a detached root), skipping the serialize→reparse round trip.

        Equivalence with ``turndown(serialize_inner(...))`` requires adjacent
        text siblings to be merged first — serialization would merge them,
        and turndown's anchored escape regexes act per text node.  Callers
        use :func:`normalize_text_nodes`."""
        if not root.children:
            return ""
        return self._convert_root(root)

    def _convert_root(self, root: Element) -> str:
        collapse_whitespace(root)
        # Per-conversion textContent SURROGATE cache.  Every consumer of a
        # node's text (blank check, _EDGE_WS_RE flanking, sibling
        # startswith/endswith(" ")) only inspects whitespace-only-ness and
        # the leading/trailing whitespace runs — never interior content.
        # The surrogate preserves exactly those: the full string when it is
        # whitespace-only, else lead-run + "x" + trail-run.  Composition is
        # bottom-up over children surrogates, so the walk is O(total text)
        # instead of the full-textContent cache's O(nodes × depth) string
        # rebuilding (equivalence pinned by the byte-locked converter
        # goldens + the fast-path and semantics fuzz suites).
        cache: dict = {}

        def tc(node):
            key = id(node)
            value = cache.get(key)
            if value is None:
                parts = []
                for ch in node.children:
                    t = ch.node_type
                    if t == TEXT_NODE:
                        parts.append(ch.data)
                    elif t == ELEMENT_NODE:
                        parts.append(tc(ch))
                full = "".join(parts)
                core = full.strip(_JS_WS_CHARS)
                if core:
                    lead = len(full) - len(full.lstrip(_JS_WS_CHARS))
                    trail = len(full) - len(full.rstrip(_JS_WS_CHARS))
                    value = full[:lead] + "x" + full[len(full) - trail :]
                else:
                    value = full  # whitespace-only: the string IS its edges
                cache[key] = value
            return value

        hd_cache: dict = {}

        def hd(el):
            """Memoized 'has a void/meaningful-when-blank descendant'."""
            key = id(el)
            value = hd_cache.get(key)
            if value is None:
                value = False
                for ch in el.children:
                    if ch.node_type == ELEMENT_NODE and (
                        ch.tag in _VOID_OR_MEANINGFUL or hd(ch)
                    ):
                        value = True
                        break
                hd_cache[key] = value
            return value

        self._tc = tc
        self._hd = hd
        output = self._process(root)
        # ≡ _LEAD_TRN_RE / _TRAIL_WS_RE subs (charset-identity fuzz-checked);
        # str.strip avoids rescanning the whole document string
        return output.lstrip("\t\r\n").rstrip(_JS_WS_CHARS)

    # -- core walk --------------------------------------------------------
    def _process(self, parent) -> str:
        # Linear-time fold of turndown's join rule.  The naive
        # ``output = _join(output, replacement)`` re-copies (and re-rstrips)
        # the whole accumulated output per child — quadratic for wide
        # parents.  Invariant here: logical output = "".join(parts) +
        # "\n" * trail, where "".join(parts) never ends with "\n";
        # _join(output, rep) == rstrip-newlines(output) +
        # "\n" * min(2, max(trail, leading-\n of rep)) + lstrip-newlines(rep).
        parts: list[str] = []
        trail = 0
        children = parent.children
        n = len(children)
        for i, node in enumerate(children):
            ntype = node.node_type
            if ntype == TEXT_NODE:
                replacement = node.data if _is_code(node) else escape_markdown(node.data)
            elif ntype == ELEMENT_NODE:
                prev_sib = children[i - 1] if i > 0 else None
                next_sib = children[i + 1] if i + 1 < n else None
                replacement = self._replacement_for(node, prev_sib, next_sib)
            else:
                replacement = ""
            s2 = replacement.lstrip("\n")
            nls = len(replacement) - len(s2)
            if nls > trail:
                trail = nls
            if trail > 2:
                trail = 2
            if s2:
                core = s2.rstrip("\n")
                parts.append("\n" * trail)
                parts.append(core)
                trail = len(s2) - len(core)
        return "".join(parts) + "\n" * trail

    def _replacement_for(self, node: Element, prev_sib, next_sib) -> str:
        content = self._process(node)
        leading, trailing = _flanking_whitespace(node, prev_sib, next_sib, self._tc)
        if leading or trailing:
            content = js_trim(content)
        return leading + self._apply_rule(node, content, next_sib) + trailing

    # -- rule dispatch (priority = reverse addition order, then commonmark) --
    def _apply_rule(self, node: Element, content: str, next_sib) -> str:
        tag = node.tag

        # inline _is_blank with the memoized descendant check (hd): the
        # per-element subtree walk was O(nodes × depth) across a conversion
        if (
            tag not in _VOID_OR_MEANINGFUL
            and _JS_WS_ONLY_RE.match(self._tc(node)) is not None
            and not self._hd(node)
        ):
            return "\n\n" if _is_block(node) else ""

        # custom rule: images (converters.ts:179-216)
        if tag == "img":
            return self._image(node)
        # custom rule: improved-inline-link (converters.ts:134-177)
        if tag == "a" and node.attrs.get("href"):
            return self._link(node, content)
        # custom rule: improved-paragraph (converters.ts:122-132)
        if tag == "p":
            trimmed = js_trim(content)
            if not trimmed:
                return ""
            return _P_NEWLINES_RE.sub("\n\n", trimmed) + "\n\n"
        # custom rule: title-as-h1 (converters.ts:117-120)
        if tag == "title":
            return f"{content}\n===============\n"
        # custom rule: truncate-svg (converters.ts:112-115)
        if tag == "svg":
            return ""
        # custom rule: remove-aria-hidden (converters.ts:107-110)
        if node.attrs.get("aria-hidden") == "true":
            return ""
        # custom rule: remove-irrelevant (converters.ts:88-105)
        if tag in self._remove_tags:
            return ""

        # ---- turndown built-in commonmark rules ----
        if tag == "br":
            return "  \n"
        if tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
            level = int(tag[1])
            if level < 3:  # headingStyle: setext
                # JS String.length counts UTF-16 code units, not codepoints.
                utf16_len = len(content.encode("utf-16-le")) // 2
                underline = ("=" if level == 1 else "-") * utf16_len
                return f"\n\n{content}\n{underline}\n\n"
            return "\n\n" + "#" * level + " " + content + "\n\n"
        if tag == "blockquote":
            inner = _EDGE_NL_RE.sub("", content)
            inner = _LINESTART_RE.sub("> ", inner)
            return f"\n\n{inner}\n\n"
        if tag in ("ul", "ol"):
            parent = node.parent
            if parent is not None and parent.node_type == ELEMENT_NODE and parent.tag == "li":
                last_el = None
                for child in parent.children:
                    if child.node_type == ELEMENT_NODE:
                        last_el = child
                if last_el is node:
                    return "\n" + content
            return f"\n\n{content}\n\n"
        if tag == "li":
            return self._list_item(node, content, next_sib)
        if tag == "pre" and node.first_child is not None and (
            node.first_child.node_type == ELEMENT_NODE and node.first_child.tag == "code"
        ):
            body = node.first_child.text_content().replace("\n", "\n    ")
            return f"\n\n    {body}\n\n"
        if tag == "hr":
            return "\n\n* * *\n\n"
        if tag in ("em", "i"):
            return f"_{content}_" if js_trim(content) else ""
        if tag in ("strong", "b"):
            return f"**{content}**" if js_trim(content) else ""
        if tag == "code":
            # O(1): "has any sibling" ≡ parent has >1 child (the index-scan
            # prev/next_sibling pair was O(parent width) per <code>)
            has_siblings = (
                node.parent is not None and len(node.parent.children) > 1
            )
            is_code_block = (
                node.parent is not None
                and node.parent.node_type == ELEMENT_NODE
                and node.parent.tag == "pre"
                and not has_siblings
            )
            if not is_code_block:
                return _inline_code(content)
            # falls through to the default rule; a block-level pre>code's
            # parent <pre> already produced the indented block above

        # default rule
        if _is_block(node):
            return f"\n\n{content}\n\n"
        return content

    # -- rule bodies ------------------------------------------------------
    def _link(self, node: Element, content: str) -> str:
        href = node.attrs.get("href", "")
        if href:
            if (
                self.source_url
                and not href.startswith("http")
                and not href.startswith("mailto:")
            ):
                href = resolve_url(self.source_url, href)
            if self.clean_urls:
                href = clean_url(href)
            href = _PAREN_ESCAPE_RE.sub(r"\\\1", href)
        title = clean_attribute(node.attrs.get("title"))
        if title:
            title = ' "' + title.replace('"', '\\"') + '"'
        fixed_content = js_trim(_WS_TO_SPACE_RE.sub(" ", content))
        fixed_href = js_trim(_WS_TO_SPACE_RE.sub("", href))
        return f"[{fixed_content}]({fixed_href}{title or ''})"

    def _image(self, node: Element) -> str:
        src = node.attrs.get("src")
        if not src:
            return ""
        if (
            self.source_url
            and not src.startswith("http")
            and not src.startswith("data:")
        ):
            src = resolve_url(self.source_url, src)
        if self.clean_urls:
            src = clean_url(src)
        src = _PAREN_ESCAPE_RE.sub(r"\\\1", src)
        alt = clean_attribute(node.attrs.get("alt") or "")
        title = clean_attribute(node.attrs.get("title"))
        if title:
            title = ' "' + title.replace('"', '\\"') + '"'
        fixed_src = js_trim(_WS_TO_SPACE_RE.sub("", src))
        return f"![{alt}]({fixed_src}{title or ''})"

    @staticmethod
    def _list_item(node: Element, content: str, next_sib) -> str:
        content = _LI_LEAD_NL_RE.sub("", content)
        content = _LI_TRAIL_NL_RE.sub("\n", content)
        content = content.replace("\n", "\n    ")
        prefix = "*   "
        parent = node.parent
        if parent is not None and parent.node_type == ELEMENT_NODE and parent.tag == "ol":
            element_children = [
                c for c in parent.children if c.node_type == ELEMENT_NODE
            ]
            index = element_children.index(node)
            start = parent.attrs.get("start")
            number = (int(start) + index) if start else (index + 1)
            prefix = f"{number}.  "
        suffix = "\n" if (next_sib is not None and not content.endswith("\n")) else ""
        return prefix + content + suffix


def _inline_code(content: str) -> str:
    """turndown's inline `code` rule body (content = processed children)."""
    if not content:
        return ""
    content = _CR_NL_RE.sub(" ", content)
    extra = " " if _CODE_PAD_RE.search(content) else ""
    delimiter = "`"
    runs = set(_BACKTICK_RUN_RE.findall(content))
    while delimiter in runs:
        delimiter += "`"
    return delimiter + extra + content + extra + delimiter
