"""Minimal HTML5-ish DOM on stdlib ``html.parser``.

The sandbox has no lxml/bs4/selectolax, so the per-document stages build on a
small purpose-built DOM: an element tree with ordered attributes, text-node
merging, a tolerant HTML5-flavoured tree builder (implied html/head/body,
auto-closing ``p``/``li``/``td``/... , void elements, raw-text script/style),
and a parse5-style serializer (used to reproduce the reference's
cheerio ``$("body").html()`` intermediate — see
reference src/converters.ts:239-327).

Design notes for scale: this module is the hot path of the extract pipeline —
it runs once per document inside Arrow-batched ``mapInPandas`` workers.  It is
pure Python (no Spark imports), allocation-light (``__slots__`` everywhere,
adjacent text merged at parse time), and state-machine simple so CPython can
run it at tens of MB/s per core; parallelism comes from Spark partitioning,
not from this module.
"""

from __future__ import annotations

from html.parser import HTMLParser

# HTML5 void elements (no end tag, no children).
VOID_ELEMENTS = frozenset(
    "area base br col command embed hr img input keygen link meta param source track wbr".split()
)

# Start tags that implicitly close an open <p> (HTML5 "in body" insertion mode).
_P_CLOSERS = frozenset(
    (
        "address article aside blockquote center details dialog dir div dl fieldset "
        "figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr main menu "
        "nav ol p pre search section summary table ul li dd dt"
    ).split()
)

# tag -> set of sibling tags it implicitly closes when opened.
_SIBLING_CLOSERS = {
    "li": frozenset(["li"]),
    "dt": frozenset(["dt", "dd"]),
    "dd": frozenset(["dt", "dd"]),
    "tr": frozenset(["tr", "td", "th"]),
    "td": frozenset(["td", "th"]),
    "th": frozenset(["td", "th"]),
    "option": frozenset(["option"]),
    "optgroup": frozenset(["option", "optgroup"]),
    "thead": frozenset(["thead", "tbody", "tfoot", "tr", "td", "th"]),
    "tbody": frozenset(["thead", "tbody", "tfoot", "tr", "td", "th"]),
    "tfoot": frozenset(["thead", "tbody", "tfoot", "tr", "td", "th"]),
    "a": frozenset(["a"]),
    "button": frozenset(["button"]),
}

# Union gate: a start tag outside this set can trigger no implicit close —
# _insert_start skips the _implicit_close call entirely (pure fast-path;
# _implicit_close itself is unchanged)
_IMPLICIT_CLOSE_TRIGGERS = _P_CLOSERS | frozenset(_SIBLING_CLOSERS)

# Scope barriers: implicit sibling/p closing never crosses these.
_SCOPE_BARRIERS = frozenset(
    "html body table template ul ol dl select td th caption".split()
)

# Elements that belong in <head> while no body content has been seen.
_HEAD_ELEMENTS = frozenset(
    "base basefont bgsound link meta noframes style template title script".split()
)

# Children serialized raw (no entity escaping), per the HTML serialization spec.
_RAW_TEXT_CONTAINERS = frozenset(
    "style script xmp iframe noembed noframes plaintext".split()
)

TEXT_NODE = 3
ELEMENT_NODE = 1
COMMENT_NODE = 8


class Text:
    __slots__ = ("data", "parent")
    node_type = TEXT_NODE

    def __init__(self, data: str, parent: "Element | None" = None) -> None:
        self.data = data
        self.parent = parent

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Text({self.data!r})"


class Comment:
    __slots__ = ("data", "parent")
    node_type = COMMENT_NODE

    def __init__(self, data: str, parent: "Element | None" = None) -> None:
        self.data = data
        self.parent = parent

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Comment({self.data!r})"


class Element:
    __slots__ = ("tag", "attrs", "children", "parent")
    node_type = ELEMENT_NODE

    def __init__(self, tag: str, attrs: dict | None = None) -> None:
        self.tag = tag
        self.attrs = attrs if attrs is not None else {}
        self.children: list = []
        self.parent: Element | None = None

    # -- tree ops ---------------------------------------------------------
    def append(self, node) -> None:
        node.parent = self
        self.children.append(node)

    def remove_child(self, node) -> None:
        self.children.remove(node)
        node.parent = None

    def detach(self) -> None:
        if self.parent is not None:
            self.parent.remove_child(self)

    # -- accessors --------------------------------------------------------
    def get(self, name: str, default=None):
        return self.attrs.get(name, default)

    @property
    def first_child(self):
        return self.children[0] if self.children else None

    def next_sibling(self, node):
        """Sibling after `node` among this element's children."""
        idx = self.children.index(node)
        return self.children[idx + 1] if idx + 1 < len(self.children) else None

    def prev_sibling(self, node):
        idx = self.children.index(node)
        return self.children[idx - 1] if idx > 0 else None

    def iter_elements(self):
        """All descendant elements, document order (self excluded)."""
        stack = list(reversed(self.children))
        while stack:
            node = stack.pop()
            if node.node_type == ELEMENT_NODE:
                yield node
                stack.extend(reversed(node.children))

    def text_content(self) -> str:
        parts: list[str] = []
        stack = list(reversed(self.children))
        while stack:
            node = stack.pop()
            if node.node_type == TEXT_NODE:
                parts.append(node.data)
            elif node.node_type == ELEMENT_NODE:
                stack.extend(reversed(node.children))
        return "".join(parts)

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<{self.tag} attrs={self.attrs} children={len(self.children)}>"


def sibling_of(node):
    """(previous, next) siblings of a node, or (None, None) if detached."""
    parent = node.parent
    if parent is None:
        return None, None
    return parent.prev_sibling(node), parent.next_sibling(node)


# ---------------------------------------------------------------------------
# Serialization (parse5-compatible escaping)
# ---------------------------------------------------------------------------

def _escape_text(text: str) -> str:
    return (
        text.replace("&", "&amp;")
        .replace(" ", "&nbsp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )


def _escape_attr(value: str) -> str:
    return (
        value.replace("&", "&amp;")
        .replace(" ", "&nbsp;")
        .replace('"', "&quot;")
    )


def serialize_inner(element: Element) -> str:
    out: list[str] = []
    raw = element.tag in _RAW_TEXT_CONTAINERS
    for child in element.children:
        _serialize_node(child, out, raw)
    return "".join(out)


def serialize_node(node) -> str:
    out: list[str] = []
    _serialize_node(node, out, False)
    return "".join(out)


def _serialize_node(node, out: list, raw_parent: bool) -> None:
    ntype = node.node_type
    if ntype == TEXT_NODE:
        out.append(node.data if raw_parent else _escape_text(node.data))
        return
    if ntype == COMMENT_NODE:
        out.append(f"<!--{node.data}-->")
        return
    tag = node.tag
    out.append("<")
    out.append(tag)
    for name, value in node.attrs.items():
        out.append(" ")
        out.append(name)
        out.append('="')
        out.append(_escape_attr(value if value is not None else ""))
        out.append('"')
    out.append(">")
    if tag in VOID_ELEMENTS:
        return
    raw = tag in _RAW_TEXT_CONTAINERS
    for child in node.children:
        _serialize_node(child, out, raw)
    out.append("</")
    out.append(tag)
    out.append(">")


# ---------------------------------------------------------------------------
# Parsing
# ---------------------------------------------------------------------------

class _TreeBuilder(HTMLParser):
    """Tolerant HTML5-flavoured tree builder.

    ``fragment=True`` parses in "in body" context under a detached root (the
    equivalent of turndown's ``<x-turndown>`` wrapper parse); otherwise a full
    document with implied html/head/body is built (the cheerio/jsdom
    ``load()`` equivalent).
    """

    def __init__(self, fragment: bool) -> None:
        super().__init__(convert_charrefs=True)
        self.fragment = fragment
        if fragment:
            self.root = Element("#root")
            self.html = self.head = self.body = None
            self._stack = [self.root]
            self._in_body = True
        else:
            self.html = Element("html")
            self.head = Element("head")
            self.body = Element("body")
            self.html.append(self.head)
            self.html.append(self.body)
            self.root = self.html
            self._stack = [self.html]
            self._in_body = False
            self._head_explicit = False

    # -- helpers ----------------------------------------------------------
    def _current(self) -> Element:
        return self._stack[-1]

    def _open_body(self) -> None:
        if not self._in_body:
            self._in_body = True
            self._stack = [self.html, self.body]

    def _implicit_close(self, tag: str) -> None:
        """Close <p>/sibling elements implied-closed by this start tag."""
        if tag in _P_CLOSERS:
            # Close an open <p> unless a scope barrier intervenes.
            for i in range(len(self._stack) - 1, 0, -1):
                t = self._stack[i].tag
                if t == "p":
                    del self._stack[i:]
                    break
                if t in _SCOPE_BARRIERS or (tag == "li" and t in ("ul", "ol")):
                    break
        closers = _SIBLING_CLOSERS.get(tag)
        if closers:
            for i in range(len(self._stack) - 1, 0, -1):
                t = self._stack[i].tag
                if t in closers:
                    del self._stack[i:]
                    break
                if t in _SCOPE_BARRIERS:
                    break

    def _append_text(self, target: Element, data: str) -> None:
        children = target.children
        if children and children[-1].node_type == TEXT_NODE:
            children[-1].data += data
        else:
            target.append(Text(data))

    @staticmethod
    def _make_attrs(attr_list) -> dict:
        attrs: dict = {}
        for name, value in attr_list:
            if name not in attrs:  # first occurrence wins (parse5 behavior)
                attrs[name] = value if value is not None else ""
        return attrs

    # -- HTMLParser callbacks --------------------------------------------
    def handle_starttag(self, tag: str, attr_list) -> None:
        self._insert_start(tag, attr_list, self_closing=False)

    def handle_startendtag(self, tag: str, attr_list) -> None:
        # HTML5 ignores the trailing slash on non-void HTML elements, but
        # treating `<x/>` as an empty element is closer to what authors mean
        # and avoids runaway nesting on malformed pages.
        self._insert_start(tag, attr_list, self_closing=True)

    def _insert_start(self, tag: str, attr_list, self_closing: bool) -> None:
        if not self.fragment:
            if tag == "html":
                for name, value in attr_list:
                    if name not in self.html.attrs:
                        self.html.attrs[name] = value if value is not None else ""
                return
            if tag == "head":
                self._head_explicit = True
                for name, value in attr_list:
                    if name not in self.head.attrs:
                        self.head.attrs[name] = value if value is not None else ""
                return
            if tag == "body":
                for name, value in attr_list:
                    if name not in self.body.attrs:
                        self.body.attrs[name] = value if value is not None else ""
                self._open_body()
                return
            if not self._in_body:
                if tag in _HEAD_ELEMENTS:
                    el = Element(tag, self._make_attrs(attr_list))
                    self.head.append(el)
                    if tag not in VOID_ELEMENTS and not self_closing:
                        self._stack.append(el)
                    return
                self._open_body()
        else:
            if tag in ("html", "head", "body"):
                return  # ignored in fragment context

        if tag in _IMPLICIT_CLOSE_TRIGGERS:
            self._implicit_close(tag)
        # attr-less tags (the majority) skip the dict-building call;
        # Element() creates the empty attrs dict itself
        el = Element(tag, self._make_attrs(attr_list) if attr_list else None)
        self._current().append(el)
        if tag not in VOID_ELEMENTS and not self_closing:
            self._stack.append(el)

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_ELEMENTS:
            return
        if not self.fragment and tag in ("html", "body"):
            # Close everything down to body level; later content re-opens body.
            if self._in_body:
                self._stack = [self.html, self.body]
            return
        if not self.fragment and tag == "head":
            if not self._in_body:
                self._stack = [self.html]
            return
        # Pop up to the nearest matching open element; ignore if absent.
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                return

    def handle_data(self, data: str) -> None:
        if not data:
            return
        if not self.fragment and not self._in_body:
            current = self._current()
            if current is not self.html:
                # Inside an open head element (title/style/script...).
                self._append_text(current, data)
                return
            if data.strip() == "":
                self._append_text(self.head, data)
                return
            self._open_body()
        self._append_text(self._current(), data)

    def handle_comment(self, data: str) -> None:
        if not self.fragment and not self._in_body:
            current = self._current()
            target = current if current is not self.html else self.head
            target.append(Comment(data))
            return
        self._current().append(Comment(data))

    def handle_decl(self, decl: str) -> None:  # <!DOCTYPE html> — dropped
        return

    def handle_pi(self, data: str) -> None:  # processing instructions — dropped
        return

    def unknown_decl(self, data: str) -> None:  # CDATA etc. — dropped
        return


# The one-shot tokenizer (engine/tokenizer.py) is behaviorally equivalent to
# feeding HTMLParser the whole document (equivalence fuzz-tested), ~1.5×
# faster, and crash-free on malformed marked sections.  The stdlib path
# (fast=False) is kept for the equivalence tests themselves.
def parse_document(html: str, fast: bool = True) -> _TreeBuilder:
    """Parse a full document (implied html/head/body). Returns the builder,
    exposing ``.html``, ``.head``, ``.body``."""
    builder = _TreeBuilder(fragment=False)
    if fast:
        from extractor_spark.engine.tokenizer import tokenize

        tokenize(html, builder)
    else:
        builder.feed(html)
        builder.close()
    return builder


def parse_fragment(html: str, fast: bool = True) -> Element:
    """Parse markup in body context under a detached ``#root`` element."""
    builder = _TreeBuilder(fragment=True)
    if fast:
        from extractor_spark.engine.tokenizer import tokenize

        tokenize(html, builder)
    else:
        builder.feed(html)
        builder.close()
    return builder.root
