"""Zod-equivalent strict parser for the internal schema dialect.

Replicates the observable ``schema.parse`` behavior the reference's sanitizer
leans on (zod 3.25, reference package.json:75): strict type checks with
no coercion, unknown object keys stripped, ``optional`` accepting undefined
but not null, ``nullable`` accepting null but not undefined, and the stock
string/number check implementations (url via WHATWG-style scheme parse, the
zod email regex, the default UTC ``datetime`` regex, Number.isInteger, > 0
positive).
"""

from __future__ import annotations

import re
from functools import lru_cache
from urllib.parse import urlsplit

from extractor_spark.engine.schema import UNDEFINED


class SchemaValidationError(ValueError):
    """Raised when a value does not conform (zod ZodError equivalent)."""


# zod 3.x email regex (case-insensitive)
_EMAIL_RE = re.compile(
    r"^(?!\.)(?!.*\.\.)([A-Z0-9_'+\-\.]*)[A-Z0-9_+-]@([A-Z0-9][A-Z0-9\-]*\.)+[A-Z]{2,}$",
    re.I,
)

# zod z.string().datetime() default: UTC, any sub-second precision
_DATETIME_RE = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?Z$")

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")

# WHATWG "special schemes" — require a host for new URL() to succeed.
_SPECIAL_SCHEMES = frozenset(["http", "https", "ws", "wss", "ftp"])


@lru_cache(maxsize=8192)
def is_valid_url(value: str) -> bool:
    """Approximate ``new URL(value)`` success (zod's url check).

    Memoized: corpora repeat link targets heavily (nav/footer links recur on
    every page of a host), and the check is a pure function of the string —
    the cache turns the per-link scheme-regex + urlsplit into a dict hit on
    the E-stage profile (~25 url checks/doc)."""
    if not _SCHEME_RE.match(value):
        return False
    try:
        parts = urlsplit(value)
    except ValueError:
        return False
    if parts.scheme.lower() in _SPECIAL_SCHEMES:
        return bool(parts.netloc)
    return True


def _fail(msg: str):
    raise SchemaValidationError(msg)


def zod_parse(schema: dict, value):
    """Parse ``value`` against internal ``schema``; return the (rebuilt)
    output or raise SchemaValidationError."""
    stype = schema["type"]

    if stype == "optional":
        if value is UNDEFINED:
            return UNDEFINED
        return zod_parse(schema["inner"], value)
    if stype == "nullable":
        if value is None:
            return None
        return zod_parse(schema["inner"], value)

    if value is UNDEFINED:
        _fail("required value is undefined")
    if stype == "any":
        return value
    if value is None:
        _fail("value is null")

    if stype == "string":
        if not isinstance(value, str):
            _fail("expected string")
        for check in schema.get("checks", ()):
            kind = check["kind"]
            if kind == "url":
                if not is_valid_url(value):
                    _fail("invalid url")
            elif kind == "email":
                if not _EMAIL_RE.match(value):
                    _fail("invalid email")
            elif kind == "datetime":
                if not _DATETIME_RE.match(value):
                    _fail("invalid datetime")
            elif kind == "min":
                if len(value) < check["value"]:
                    _fail("string too short")
            elif kind == "max":
                if len(value) > check["value"]:
                    _fail("string too long")
        return value

    if stype == "number":
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            _fail("expected number")
        for check in schema.get("checks", ()):
            kind = check["kind"]
            if kind == "int":
                if not float(value).is_integer():
                    _fail("expected integer")
            elif kind == "positive":
                if not value > 0:
                    _fail("expected positive number")
            elif kind == "gt":
                if not value > check["value"]:
                    _fail("too small")
            elif kind == "min":
                if value < check["value"]:
                    _fail("below minimum")
            elif kind == "max":
                if value > check["value"]:
                    _fail("above maximum")
        return value

    if stype == "boolean":
        if not isinstance(value, bool):
            _fail("expected boolean")
        return value

    if stype == "enum":
        if value not in schema["values"]:
            _fail("invalid enum value")
        return value

    if stype == "array":
        if not isinstance(value, list):
            _fail("expected array")
        items = schema["items"]
        return [zod_parse(items, item) for item in value]

    if stype == "object":
        if not isinstance(value, dict):
            _fail("expected object")
        result = {}
        for key, prop in schema["properties"].items():
            present = key in value
            item = value[key] if present else UNDEFINED
            parsed = zod_parse(prop, item)
            # zod keeps `key: undefined` entries; observably (JSON/toEqual)
            # that is the same as omission, so we omit.
            if parsed is not UNDEFINED:
                result[key] = parsed
        return result

    if stype == "record":
        if not isinstance(value, dict) or any(
            not isinstance(k, str) for k in value
        ):
            _fail("expected record")
        return dict(value)

    _fail(f"unsupported schema type {stype!r}")
