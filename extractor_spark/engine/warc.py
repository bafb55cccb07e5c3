"""Minimal WARC/1.x reader for crawl ingestion (pure Python, no deps).

Parses the subset a page pipeline needs: ``response`` (and ``resource``)
records with their target URI, capture timestamp, and HTTP payload body.
Handles the two layouts Common-Crawl ships: plain ``.warc`` and
``.warc.gz`` with one gzip member per record (concatenated members are
decompressed in a loop — stdlib ``gzip.decompress`` stops at the first
member, ``zlib`` with window 31 exposes ``unused_data`` so we can walk
them all).

The reference has no acquisition layer beyond fixture reads
(reference tests/integration/extract.test.ts:26-29); this is the
Spark-first source for the Iceberg-style ``pages`` table the engine
actually runs on (SURVEY.md §1.3).
"""

from __future__ import annotations

import datetime
import zlib
from dataclasses import dataclass


@dataclass
class WarcRecord:
    headers: dict[str, str]  # lowercased keys
    payload: bytes

    @property
    def record_type(self) -> str:
        return self.headers.get("warc-type", "")

    @property
    def target_uri(self) -> str | None:
        uri = self.headers.get("warc-target-uri")
        if uri and uri.startswith("<") and uri.endswith(">"):
            uri = uri[1:-1]  # WARC/1.0 allows angle-bracketed URIs
        return uri

    @property
    def date(self) -> datetime.datetime | None:
        raw = self.headers.get("warc-date")
        if not raw:
            return None
        try:
            return datetime.datetime.fromisoformat(raw.replace("Z", "+00:00"))
        except ValueError:
            return None


def gunzip_members(data: bytes) -> bytes:
    """Decompress ALL concatenated gzip members (CC writes one per record).
    Corrupt members end the walk with whatever decompressed cleanly — one
    bad CRC must not fail a whole archive/task (tolerance contract)."""
    out = bytearray()
    rest = data
    while rest:
        d = zlib.decompressobj(31)
        try:
            out += d.decompress(rest)
            out += d.flush()
        except zlib.error:
            break
        if not d.unused_data or d.unused_data == rest:
            break
        rest = d.unused_data
    return bytes(out)


def iter_warc_records(data: bytes):
    """Yield WarcRecord for each record in a (decompressed) WARC byte
    stream.  Tolerant: records with unparseable headers or lengths are
    skipped, not raised — a trillion-page crawl contains every corruption."""
    i = 0
    n = len(data)
    while i < n:
        # seek the version line
        start = data.find(b"WARC/", i)
        if start == -1:
            return
        head_end = data.find(b"\r\n\r\n", start)
        if head_end == -1:
            return
        header_blob = data[start:head_end].decode("utf-8", errors="replace")
        lines = header_blob.split("\r\n")[1:]  # drop the version line
        headers: dict[str, str] = {}
        for line in lines:
            k, sep, v = line.partition(":")
            if sep:
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            i = head_end + 4
            continue
        if length < 0:
            # corrupt length must not move the cursor backwards (it would
            # re-find this record forever); skip past the headers instead
            i = head_end + 4
            continue
        body_start = head_end + 4
        payload = data[body_start : body_start + length]
        yield WarcRecord(headers=headers, payload=payload)
        i = body_start + length


def _dechunk(body: bytes) -> bytes | None:
    """Decode a Transfer-Encoding: chunked body; None when the framing is
    broken (caller falls back to the raw bytes)."""
    out = bytearray()
    i, n = 0, len(body)
    while True:
        j = body.find(b"\r\n", i)
        if j == -1:
            return None
        size_tok = body[i:j].split(b";")[0].strip()  # drop chunk extensions
        try:
            size = int(size_tok, 16)
        except ValueError:
            return None
        if size == 0:
            return bytes(out)  # trailers (if any) are not page bytes
        start = j + 2
        end = start + size
        if end > n:
            return None
        out += body[start:end]
        if body[end : end + 2] != b"\r\n":
            return None
        i = end + 2


def http_body(payload: bytes) -> bytes:
    """Strip the HTTP response envelope from a response record's payload
    (CC stores the raw HTTP message) and undo the wire encodings real
    crawls carry: Transfer-Encoding: chunked is de-chunked, then
    Content-Encoding: gzip/x-gzip/deflate is decompressed — otherwise
    chunk-framed or compressed bytes would reach the converter as garbage
    HTML.  Tolerant: broken framing or a bad stream falls back to the raw
    body bytes (one corrupt record must not fail a task).  Payloads that
    don't look like HTTP are returned unchanged (``resource`` records
    store the body directly)."""
    if not payload.startswith(b"HTTP/"):
        return payload
    sep = payload.find(b"\r\n\r\n")
    if sep == -1:
        return payload
    body = payload[sep + 4 :]
    chunked, cenc = False, ""
    for line in payload[:sep].decode("latin-1").split("\r\n")[1:]:
        k, s, v = line.partition(":")
        if not s:
            continue
        k, v = k.strip().lower(), v.strip().lower()
        if k == "transfer-encoding" and "chunked" in v:
            chunked = True
        elif k == "content-encoding":
            cenc = v
    if chunked:
        dechunked = _dechunk(body)
        if dechunked is not None:
            body = dechunked
    if cenc in ("gzip", "x-gzip"):
        try:
            d = zlib.decompressobj(31)
            body = d.decompress(body) + d.flush()
        except zlib.error:
            pass
    elif cenc == "deflate":
        # the wild ships both zlib-wrapped and raw-deflate under "deflate"
        for wbits in (15, -15):
            try:
                d = zlib.decompressobj(wbits)
                body = d.decompress(body) + d.flush()
                break
            except zlib.error:
                continue
    return body


def extract_pages(data: bytes, gzipped: bool = False):
    """Yield (url, warc_ts, html_bytes) for every response/resource record
    with a target URI."""
    if gzipped:
        data = gunzip_members(data)
    for rec in iter_warc_records(data):
        if rec.record_type not in ("response", "resource"):
            continue
        url = rec.target_uri
        if not url:
            continue
        ts = rec.date
        if ts is not None and ts.tzinfo is not None:
            # normalize any offset to UTC before dropping tzinfo (a naive
            # date stays naive — astimezone would assume local time)
            ts = ts.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        yield url, ts, http_body(rec.payload)


def build_warc(records) -> bytes:
    """Serialize (url, ts, html_bytes) triples as WARC response records —
    the test-fixture writer (and the documented round-trip of the reader)."""
    out = bytearray()
    for url, ts, html in records:
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
        headers = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
            f"Content-Length: {len(http)}\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            "\r\n"
        ).encode()
        out += headers + http + b"\r\n\r\n"
    return bytes(out)
