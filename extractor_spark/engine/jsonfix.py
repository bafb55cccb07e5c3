"""Tolerant JSON repair — stand-in for the ``jsonrepair`` dependency the
reference uses on Gemini-style string outputs
(reference src/extractors.ts:216-222).

Handles the malformed-JSON patterns LLMs actually emit: markdown code fences,
single/smart-quoted strings, unquoted object keys, trailing commas, missing
commas between siblings, JS/Python literals (NaN/undefined/None), string
concatenation ("a" + "b"), ellipsis placeholders in arrays/objects, invalid
escape sequences, special number forms (.5 / 5. / 2.3e+), non-ASCII
whitespace, and truncated documents (brackets balanced at EOF) — the
jsonrepair 3.13.3 repertoire minus NDJSON/JSONP/MongoDB wrappers (not
LLM-output shapes).  Pure function; used inside the extract stage's fallback
path only.
"""

from __future__ import annotations

import json
import re

_FENCE_RE = re.compile(r"^\s*```(?:json)?\s*|\s*```\s*$", re.S)

# quote characters accepted as string delimiters (jsonrepair's special-quote
# normalization); each maps to the set of characters that may close it
_QUOTE_PAIRS = {
    '"': {'"'},
    "'": {"'"},
    "“": {"”", "“"},  # “ ”
    "‘": {"’", "‘"},  # ‘ ’
    "´": {"´", "`"},  # ´
    "`": {"`", "´"},
}

_VALID_ESCAPES = set('"\\/bfnrtu')

# JS-flavored number (possibly malformed: leading/trailing dot, empty or
# signed-empty exponent)
_NUMBER_RE = re.compile(r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d*)?")


def _normalize_number(tok: str) -> str:
    """Make a JS-ish numeric token strict-JSON: 0-pad bare dots, complete
    empty exponents, drop a leading '+'."""
    if tok.startswith("+"):
        tok = tok[1:]
    sign = ""
    if tok.startswith("-"):
        sign, tok = "-", tok[1:]
    mantissa, e, exponent = tok.partition("e") if "e" in tok else tok.partition("E")
    if mantissa.startswith("."):
        mantissa = "0" + mantissa
    if mantissa.endswith("."):
        mantissa += "0"
    if e:
        if exponent in ("", "+", "-"):
            exponent += "0"
        if exponent.startswith("+"):
            exponent = exponent[1:]
        return sign + mantissa + "e" + exponent
    return sign + mantissa


def json_repair(text: str) -> str:
    """Return a best-effort valid-JSON string for ``text``.

    Raises ValueError when no JSON-looking payload can be recovered.
    """
    s = text.strip()
    s = _FENCE_RE.sub("", s).strip()

    # Fast path — already valid.
    try:
        json.loads(s)
        return s
    except Exception:
        pass

    # Cut to the first {/[ so prose prefixes don't break parsing.
    start = min(
        (i for i in (s.find("{"), s.find("[")) if i != -1),
        default=-1,
    )
    if start == -1:
        if s and s[0] in _QUOTE_PAIRS:
            start = 0  # top-level string (e.g. '"a" + "b"')
        else:
            raise ValueError("no JSON payload found")
    s = s[start:]

    out: list[str] = []
    stack: list[str] = []
    i = 0
    n = len(s)
    in_string = False
    quote_char = ""

    def _last_significant() -> str:
        for ch in reversed(out):
            if not ch.isspace():
                return ch
        return ""

    while i < n:
        c = s[i]
        if in_string:
            if c == "\\" and i + 1 < n:
                nxt = s[i + 1]
                if nxt in _VALID_ESCAPES:
                    out.append(c)
                    out.append(nxt)
                else:
                    # stray escape — drop the backslash, keep the character
                    # ('"' is a valid escape, so it never reaches here)
                    out.append(nxt)
                i += 2
                continue
            if c in _QUOTE_PAIRS.get(quote_char, ()):
                # string concatenation: '"a" + "b"' merges into one string
                j = i + 1
                while j < n and s[j].isspace():
                    j += 1
                if j < n and s[j] == "+":
                    j += 1
                    while j < n and s[j].isspace():
                        j += 1
                    if j < n and s[j] in _QUOTE_PAIRS:
                        quote_char = s[j]
                        i = j + 1
                        continue
                in_string = False
                out.append('"')
            elif c == '"':
                out.append('\\"')  # double quote inside single-quoted string
            elif c == "\n":
                out.append("\\n")  # unescaped newline in string
            else:
                out.append(c)
            i += 1
            continue

        if c in _QUOTE_PAIRS:
            prev = _last_significant()
            if prev not in ("", "{", "[", ",", ":"):
                # string starting where a comma was forgotten
                out.append(",")
            in_string = True
            quote_char = c
            out.append('"')
            i += 1
            continue
        if s.startswith("...", i):
            # ellipsis placeholder — in VALUE position ('"a": ...') it
            # becomes null; in element position it is dropped (plus a
            # following comma when nothing precedes it in the container)
            i += 3
            prev = _last_significant()
            if prev == ":":
                out.append("null")
            elif prev in ("[", "{"):
                while i < n and s[i].isspace():
                    i += 1
                if i < n and s[i] == ",":
                    i += 1
            continue
        if c.isdigit() or (c in "+-." and i + 1 < n and s[i + 1].isdigit()):
            m = _NUMBER_RE.match(s, i)
            if m:
                prev = _last_significant()
                # numeric tokens are appended whole ('1.5', '-3e2') — test
                # the LAST char so floats/exponents count as numbers too
                if prev in ('"', "}", "]") or (prev and prev[-1].isdigit()):
                    out.append(",")  # missing comma before a number
                out.append(_normalize_number(m.group(0)))
                i = m.end()
                continue
        if c.isspace() and not c.isascii():
            out.append(" ")  # non-breaking/unicode whitespace between tokens
            i += 1
            continue
        if c in "{[":
            prev = _last_significant()
            if prev in ('"', "}", "]") or (prev and prev[-1].isdigit()):
                out.append(",")
            stack.append("}" if c == "{" else "]")
            out.append(c)
            i += 1
            continue
        if c in "}]":
            prev = _last_significant()
            if prev == ",":
                # trailing comma — drop it
                for j in range(len(out) - 1, -1, -1):
                    if out[j] == ",":
                        out.pop(j)
                        break
                    if not out[j].isspace():
                        break
            if stack and stack[-1] == c:
                stack.pop()
            out.append(c)
            i += 1
            continue
        if c == "/" and i + 1 < n and s[i + 1] in "/*":
            # comments — skip to end of line / end of block
            if s[i + 1] == "/":
                nl = s.find("\n", i)
                i = n if nl == -1 else nl
            else:
                end = s.find("*/", i)
                i = n if end == -1 else end + 2
            continue
        if c.isalpha():
            m = re.match(r"[^\W\d][\w$]*", s[i:], re.UNICODE)
            if m is None:  # lone combining char etc. — drop it
                i += 1
                continue
            word = m.group(0)
            rest = s[i + len(word):]
            if word in ("true", "false", "null"):
                out.append(word)
            elif word in ("True", "False"):
                out.append(word.lower())
            elif word in ("None", "undefined"):
                out.append("null")
            elif word == "NaN":
                out.append("null")
            elif re.match(r"\s*:", rest):
                out.append(f'"{word}"')  # unquoted key
            else:
                out.append(f'"{word}"')  # bare-word value
            i += len(word)
            continue
        out.append(c)
        i += 1

    if in_string:
        out.append('"')
    while stack:
        # drop a dangling trailing comma before closing
        for j in range(len(out) - 1, -1, -1):
            if out[j] == ",":
                out.pop(j)
                break
            if not out[j].isspace():
                break
        out.append(stack.pop())

    repaired = "".join(out)
    json.loads(repaired)  # raises if still broken
    return repaired
