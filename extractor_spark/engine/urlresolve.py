"""Relative→absolute URL resolution with Node legacy ``url.resolve`` parity.

The reference resolves link/image targets against the page URL with Node's
legacy resolver (reference src/converters.ts:153,188).  RFC-3986
``urljoin`` disagrees with it on real crawl inputs — backslashes, host case,
the legacy auto-escape charset, ``//`` duplicate path segments surviving the
merge, hostname-part validation spilling into the path — so this module
implements the legacy *algorithm* (parse → resolveObject → format) rather
than patching urljoin's output:

- backslashes in the section before ``?``/``#`` act as path separators
  (Node's post-CVE-2018-12123 behavior); in query/fragment they are
  percent-escaped with the rest of the legacy auto-escape charset
  (``' { } | ^ ` < > "`` + whitespace);
- hostnames are lowercased, validated per dot-label
  (``[+a-zA-Z0-9_-]{0,63}``); an invalid label truncates the host there and
  pushes the remainder into the path; non-ASCII labels are punycoded;
- auth is percent-decoded at parse (malformed ``%`` sequences throw, like
  ``decodeURIComponent``) and re-encoded at format;
- the path merge is Node's array splice (``..`` consumes the nearest prior
  segment *including empty ones*; duplicate ``//`` survive), not RFC 3986
  dot-segment removal;
- non-slashed-protocol URLs (``mailto:``, ``weird:``…) still get host/auth
  parsing and path escaping, and format omits the ``//``.

Parity is golden-locked against Node itself: tests/data/urlresolve_golden.json
(732 enumerated cases) and urlresolve_fuzz.json (800 seeded-fuzz cases) are
generated by scripts/gen_urlresolve_{golden,fuzz}.js — Node is present in
the sandbox, so the corpus is reference-derived, not hand-frozen.
"""

from __future__ import annotations

import re
from functools import lru_cache

_SLASHED = {"http:", "https:", "ftp:", "gopher:", "file:", "ws:", "wss:"}
_HOSTLESS = {"javascript:"}
_UNSAFE = {"javascript:"}

_PROTO_RE = re.compile(r"^([a-zA-Z0-9.+-]+:)")
_PORT_RE = re.compile(r":[0-9]*$")
# chars allowed to stay in a (lowercased) hostname, probed empirically
# against this Node's legacy parser; anything else truncates the host there
# and pushes the remainder into the path with a '/' prefix
_HOST_ALLOWED = frozenset("abcdefghijklmnopqrstuvwxyz0123456789.!$&()*+,-=_~")

# legacy charsets (url.js): delims + unwise; autoEscape adds the quote
_HOST_ENDING = "/?#"
_NON_HOST_CHARS = set("%/?;#{}|\\^`<>\" \r\n\t")
_AUTO_ESCAPE = set("'{}|\\^`<>\" \r\n\t")

# encodeURIComponent's unreserved set
_ENC_URI_COMPONENT_SAFE = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_.!~*'()"
)

_HEX = "0123456789abcdefABCDEF"


def _decode_uri_component(s: str) -> str:
    """decodeURIComponent semantics: strict %XX + strict UTF-8 (throws on
    malformed input, which makes url.parse throw — callers catch)."""
    out = bytearray()
    i = 0
    while i < len(s):
        c = s[i]
        if c == "%":
            if i + 2 >= len(s) + 1 or len(s) - i < 3 or s[i + 1] not in _HEX or s[i + 2] not in _HEX:
                raise ValueError("URI malformed")
            out.append(int(s[i + 1 : i + 3], 16))
            i += 3
        else:
            out.extend(c.encode("utf-8"))
            i += 1
    return out.decode("utf-8")  # raises on invalid sequences, like JS


def _encode_uri_component(s: str) -> str:
    out = []
    for ch in s:
        if ch in _ENC_URI_COMPONENT_SAFE:
            out.append(ch)
        else:
            out.extend("%%%02X" % b for b in ch.encode("utf-8"))
    return "".join(out)


def _auto_escape(s: str) -> str:
    if not any(c in _AUTO_ESCAPE for c in s):
        return s
    return "".join("%%%02X" % ord(c) if c in _AUTO_ESCAPE else c for c in s)


def _punycode_host(hostname: str) -> str:
    """punycode.toASCII per dot-label (what legacy url.parse applies)."""
    if hostname.isascii():
        return hostname
    labels = []
    for label in hostname.split("."):
        if label.isascii():
            labels.append(label)
        else:
            labels.append("xn--" + label.encode("punycode").decode("ascii"))
    return ".".join(labels)


class _LegacyUrl:
    __slots__ = (
        "protocol",
        "slashes",
        "auth",
        "host",
        "hostname",
        "port",
        "pathname",
        "search",
        "hash",
    )

    def __init__(self):
        self.protocol = None  # includes trailing ':'
        self.slashes = False
        self.auth = None
        self.host = None  # hostname[:port]
        self.hostname = None
        self.port = None
        self.pathname = None
        self.search = None  # includes '?'
        self.hash = None  # includes '#'

    # -- parse -------------------------------------------------------------

    @classmethod
    def parse(cls, url: str) -> "_LegacyUrl":
        self = cls()
        rest = url.strip()

        # backslashes act as path separators in the pre-?/# section
        cut = len(rest)
        for ch in "?#":
            i = rest.find(ch)
            if i != -1:
                cut = min(cut, i)
        rest = rest[:cut].replace("\\", "/") + rest[cut:]

        m = _PROTO_RE.match(rest)
        if m:
            self.protocol = m.group(1).lower()
            rest = rest[len(m.group(1)) :]

        proto = self.protocol or ""
        slashes = rest.startswith("//")
        if slashes and not (proto and proto in _HOSTLESS):
            rest = rest[2:]
            self.slashes = True

        if proto not in _HOSTLESS and (
            slashes or (proto and proto not in _SLASHED)
        ):
            rest = self._parse_host(rest)

        if proto not in _UNSAFE:
            rest = _auto_escape(rest)

        i = rest.find("#")
        if i != -1:
            self.hash = rest[i:]
            rest = rest[:i]
        i = rest.find("?")
        if i != -1:
            self.search = rest[i:]
            rest = rest[:i]
        if rest:
            self.pathname = rest
        if proto in _SLASHED and self.hostname and not self.pathname:
            self.pathname = "/"
        return self

    def _parse_host(self, rest: str) -> str:
        host_end = -1
        for ch in _HOST_ENDING:
            i = rest.find(ch)
            if i != -1 and (host_end == -1 or i < host_end):
                host_end = i
        at = rest.rfind("@") if host_end == -1 else rest.rfind("@", 0, host_end)
        if at != -1:
            self.auth = _decode_uri_component(rest[:at])
            rest = rest[at + 1 :]

        host_end = -1
        for i, ch in enumerate(rest):
            if ch in _NON_HOST_CHARS:
                host_end = i
                break
        if host_end == -1:
            host_end = len(rest)
        host = rest[:host_end]
        rest = rest[host_end:]

        # port
        m = _PORT_RE.search(host)
        if m:
            port = m.group(0)
            if port != ":":
                self.port = port[1:]
            host = host[: len(host) - len(port)]
        self.hostname = host.lower()

        ipv6 = self.hostname.startswith("[") and self.hostname.endswith("]")
        if not ipv6:
            for i, ch in enumerate(self.hostname):
                if ch not in _HOST_ALLOWED and ord(ch) <= 127:
                    # spill the invalid tail into the path WITHOUT a '/'
                    # prefix: format() adds it for slashed forms only
                    rest = self.hostname[i:] + rest
                    self.hostname = self.hostname[:i]
                    break

        if len(self.hostname) > 255:
            self.hostname = ""
        if not ipv6:
            self.hostname = _punycode_host(self.hostname)

        port = ":" + self.port if self.port else ""
        self.host = (self.hostname or "") + port
        if ipv6:
            self.hostname = self.hostname[1:-1]
            if rest and rest[0] != "/":
                rest = "/" + rest
        return rest

    # -- format ------------------------------------------------------------

    def format(self) -> str:
        auth = self.auth or ""
        if auth:
            auth = _encode_uri_component(auth)
            auth = re.sub("%3A", ":", auth, count=1, flags=re.I)
            auth += "@"

        protocol = self.protocol or ""
        pathname = self.pathname or ""
        hash_ = self.hash or ""
        host = None
        if self.host is not None:
            host = auth + self.host
        elif self.hostname is not None:
            host = auth + (
                self.hostname
                if ":" not in self.hostname
                else "[" + self.hostname + "]"
            )
            if self.port:
                host += ":" + self.port

        search = self.search or ""
        if protocol and not protocol.endswith(":"):
            protocol += ":"

        if self.slashes or (
            (not protocol or protocol in _SLASHED) and host is not None
        ):
            host = "//" + (host or "")
            if pathname and not pathname.startswith("/"):
                pathname = "/" + pathname
        elif host is None:
            host = ""

        if hash_ and not hash_.startswith("#"):
            hash_ = "#" + hash_
        if search and not search.startswith("?"):
            search = "?" + search
        pathname = pathname.replace("?", "%3F").replace("#", "%23")
        search = search.replace("#", "%23")
        return protocol + host + pathname + search + hash_

    # -- resolve -----------------------------------------------------------

    def resolve(self, relative: str) -> str:
        return self.resolve_object(_LegacyUrl.parse(relative)).format()

    def _copy(self) -> "_LegacyUrl":
        out = _LegacyUrl()
        for k in self.__slots__:
            setattr(out, k, getattr(self, k))
        return out

    def resolve_object(self, rel: "_LegacyUrl") -> "_LegacyUrl":
        result = self._copy()
        # the fragment never survives from the base (legacy: result.hash =
        # relative.hash before anything else)
        result.hash = rel.hash

        if rel.format() == "":
            return result

        if rel.slashes and not rel.protocol:
            # take everything except the protocol from relative
            for k in _LegacyUrl.__slots__:
                if k != "protocol":
                    setattr(result, k, getattr(rel, k))
            if (
                result.protocol in _SLASHED
                and result.hostname
                and not result.pathname
            ):
                result.pathname = "/"
            return result

        if rel.protocol and rel.protocol != result.protocol:
            # different scheme entirely
            if rel.protocol not in _SLASHED:
                return rel._copy()
            result.protocol = rel.protocol
            if not rel.host and rel.protocol not in _HOSTLESS:
                src = (rel.pathname or "").split("/")
                host = ""
                while src and not host:
                    host = src.pop(0)
                rel_host = host or ""
                result.host = rel_host
                result.hostname = rel_host
                if not src or src[0] != "":
                    src.insert(0, "")
                if len(src) < 2:
                    src.insert(0, "")
                result.pathname = "/".join(src)
            else:
                result.pathname = rel.pathname
                result.host = rel.host or ""
                result.hostname = rel.hostname
            result.search = rel.search
            result.auth = rel.auth
            result.port = rel.port
            result.slashes = result.slashes or rel.slashes
            return result

        is_source_abs = bool(result.pathname and result.pathname.startswith("/"))
        is_rel_abs = rel.host is not None or bool(
            rel.pathname and rel.pathname.startswith("/")
        )
        must_end_abs = bool(
            is_rel_abs or is_source_abs or (result.host and rel.pathname)
        )
        remove_all_dots = must_end_abs
        src_path = result.pathname.split("/") if result.pathname else []
        rel_path = rel.pathname.split("/") if rel.pathname else []
        psychotic = bool(result.protocol and result.protocol not in _SLASHED)

        # non-slashed protocols: the host is really just part of the path
        if psychotic:
            result.hostname = ""
            result.port = None
            if result.host:
                if not src_path:
                    src_path = [result.host]
                elif src_path[0] == "":
                    src_path[0] = result.host
                else:
                    src_path.insert(0, result.host)
            result.host = ""
            if rel.protocol:
                rel.hostname = None
                rel.port = None
                if rel.host:
                    if not rel_path:
                        rel_path = [rel.host]
                    elif rel_path[0] == "":
                        rel_path[0] = rel.host
                    else:
                        rel_path.insert(0, rel.host)
                rel.host = None

        if is_rel_abs:
            if rel.host is not None:
                result.host = rel.host
                # a relative with its own authority never inherits base auth
                result.auth = None
            if rel.hostname is not None:
                result.hostname = rel.hostname
            result.search = rel.search
            src_path = rel_path
        elif rel_path:
            if not src_path:
                src_path = []
            if src_path:
                src_path.pop()
            src_path = src_path + rel_path
            result.search = rel.search
        elif rel.search is not None:
            if psychotic:
                host = src_path.pop(0) if src_path else ""
                result.host = host
                result.hostname = host
                # auth hiding in the first path component
                if host and host.find("@") > 0:
                    parts = host.split("@")
                    result.auth = parts[0]
                    result.host = result.hostname = parts[1]
            result.search = rel.search
            result.pathname = "/".join(src_path) if src_path else None
            return result

        if not src_path:
            result.pathname = None
            return result

        last = src_path[-1]
        has_trailing_slash = bool(
            (
                (result.host or rel.host or len(src_path) > 1)
                and (last == "." or last == "..")
            )
            or last == ""
        )

        up = 0
        for i in range(len(src_path) - 1, -1, -1):
            p = src_path[i]
            if p == ".":
                del src_path[i]
            elif p == "..":
                del src_path[i]
                up += 1
            elif up:
                del src_path[i]
                up -= 1

        if not must_end_abs and not remove_all_dots:
            while up:
                src_path.insert(0, "..")
                up -= 1

        if (
            must_end_abs
            and (not src_path or src_path[0] != "")
            and (not src_path or not src_path[0].startswith("/"))
        ):
            src_path.insert(0, "")

        if has_trailing_slash and not "/".join(src_path).endswith("/"):
            src_path.append("")

        is_absolute = bool(
            src_path
            and (src_path[0] == "" or (src_path[0] and src_path[0].startswith("/")))
        )

        if psychotic:
            if is_absolute:
                result.hostname = ""
                result.host = ""
            else:
                host = src_path.pop(0) if src_path else ""
                result.hostname = host
                result.host = host
            if result.host and result.host.find("@") > 0:
                parts = result.host.split("@")
                result.auth = parts[0]
                result.host = result.hostname = parts[1]

        must_end_abs = must_end_abs or bool(result.host and src_path)
        if must_end_abs and not is_absolute:
            src_path.insert(0, "")

        result.pathname = "/".join(src_path) if src_path else None
        result.auth = rel.auth or result.auth
        result.slashes = result.slashes or rel.slashes
        return result


# Fast path: hrefs made only of chars that the legacy pipeline passes
# through untouched (no auto-escape, no backslash, no scheme colon, no
# query/fragment) and containing no dot-segments or empty segments — for
# these the legacy merge equals plain directory concatenation, so the parsed
# base (cached: a page resolves many hrefs against ONE url) can be reused
# without running resolveObject.  Anything else falls through to the full
# algorithm; parity over both golden corpora is unaffected (they exercise
# both paths).
_FAST_HREF_RE = re.compile(r"[A-Za-z0-9._~!$&*+,;=@%/-]*\Z")


@lru_cache(maxsize=1024)
def _parse_base(base: str) -> "_LegacyUrl":
    return _LegacyUrl.parse(base)


def _fast_resolve(b: "_LegacyUrl", href: str) -> str | None:
    if b.protocol not in _SLASHED or b.auth is not None or not b.host:
        return None
    if not _FAST_HREF_RE.match(href):
        return None
    if href.startswith("//") or "//" in href or not href:
        return None
    if ".." in href or href.startswith("./") or "/./" in href or href.endswith("/.") or href == ".":
        return None
    base_path = b.pathname or "/"
    # the BASE may carry dot segments / empty segments, or a non-absolute
    # path (host-validation spill) — the legacy merge/format resolves
    # those, so such bases must take the full path
    if (
        not base_path.startswith("/")
        or "//" in base_path
        or "/./" in base_path
        or "/../" in base_path
        or base_path.endswith(("/.", "/.."))
    ):
        return None
    if href.startswith("/"):
        path = href
    else:
        path = base_path[: base_path.rfind("/") + 1] + href
    return b.protocol + "//" + b.host + path


@lru_cache(maxsize=4096)
def node_url_resolve(base: str, href: str) -> str:
    """Emulate Node legacy ``url.resolve(base, href)`` (see module doc).
    Pure function — results are memoized (crawl pages repeat both bases and
    hrefs heavily)."""
    b = _parse_base(base)
    fast = _fast_resolve(b, href)
    if fast is not None:
        return fast
    return b.resolve(href)


def resolve_url(base: str, href: str) -> str:
    """Resolve ``href`` against ``base`` with Node-legacy semantics; on any
    failure return ``href`` unchanged (the reference warns and keeps the
    original, converters.ts:154-159)."""
    try:
        return node_url_resolve(base, href)
    except Exception:
        return href
