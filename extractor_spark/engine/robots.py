"""Robots Exclusion Protocol (RFC 9309) parser + matcher, stdlib-only.

Why here: every production crawl pipeline filters its frontier (and often
re-filters archived captures) against per-host robots.txt before fetch /
reprocessing — the reference's acquisition layer delegates this to the
browser context (reference src/dev/testBrowserExtraction.ts runs a
live browser which honors robots), so a batch reimplementation needs the
rule engine itself.  This module is the per-host unit; the Spark stage
that applies it across a crawl lives in extractor_spark/spark/robots.py.

Semantics implemented (RFC 9309, June 2022 — public spec):

- Groups: one or more consecutive ``User-agent:`` lines start a group;
  ``Allow:`` / ``Disallow:`` lines attach to the current group.  Rules
  appearing before any User-agent line belong to no group and are
  ignored.  Unknown directives (Sitemap, Crawl-delay, ...) are ignored
  and do NOT break a group (§2.2.4).
- Group selection (§2.2.1): groups whose product token equals the
  crawler's product token (ASCII case-insensitive) are combined; if none
  match, the ``*`` groups are combined; if neither exists, everything is
  allowed.
- Path matching (§2.2.2-2.2.3): ``*`` matches any sequence of octets,
  a trailing ``$`` anchors the match at the end of the path; matching
  starts at the beginning of the path (path includes the query string,
  per the common Googlebot interpretation).  Empty rule values are
  ignored.
- Precedence (§2.2.2): the most specific match wins — most OCTETS in the
  pattern (UTF-8 byte count, not code points), with a trailing ``$``
  anchor not counted toward specificity; on a specificity tie between
  allow and disallow, allow wins; on a specificity tie between rules with
  the same verdict, the FIRST-declared rule is reported as the winner
  (deterministic attribution, mirrored by the test twin).  No match at
  all ⇒ allowed.

Deliberate simplifications (documented, shared with the test twin):
percent-encoding is compared literally (no decode/re-encode
normalization), and UA product-token matching is exact rather than
"longest prefix of the full UA string" — both choices are the RFC's
MUST-level core; the softer SHOULD-level normalizations don't change any
well-formed rule.
"""

from __future__ import annotations

import re
from typing import NamedTuple


class Rule(NamedTuple):
    allow: bool
    pattern: str


_DIRECTIVE_RE = re.compile(r"^\s*([A-Za-z-]+)\s*:\s*(.*?)\s*$")


def parse_robots(body: str) -> list[tuple[list[str], list[Rule]]]:
    """Parse robots.txt into groups of (user-agent tokens, rules)."""
    groups: list[tuple[list[str], list[Rule]]] = []
    current: tuple[list[str], list[Rule]] | None = None
    in_ua_run = False  # consecutive UA lines stack into one group
    for raw in body.splitlines():
        line = raw.split("#", 1)[0]
        m = _DIRECTIVE_RE.match(line)
        if not m:
            continue
        directive = m.group(1).lower()
        value = m.group(2)
        if directive == "user-agent":
            token = value.lower()
            if not token:
                continue
            if in_ua_run and current is not None:
                current[0].append(token)
            else:
                current = ([token], [])
                groups.append(current)
                in_ua_run = True
        elif directive in ("allow", "disallow"):
            in_ua_run = False
            if current is None or not value:
                continue  # rule outside any group / empty value: ignored
            current[1].append(Rule(directive == "allow", value))
        # unknown directives: ignored, group survives (RFC §2.2.4)
    return groups


def _compile_pattern(pattern: str) -> re.Pattern:
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = "".join(".*" if ch == "*" else re.escape(ch) for ch in body)
    return re.compile(rx + (r"\Z" if anchored else ""))


def _specificity(pattern: str) -> int:
    """RFC 9309 §2.2.2 ranks by most octets: UTF-8 byte length of the
    pattern, excluding the trailing ``$`` anchor (which matches zero
    octets and would otherwise inflate an anchored rule over an equal
    unanchored one)."""
    body = pattern[:-1] if pattern.endswith("$") else pattern
    return len(body.encode("utf-8"))


class RobotsMatcher:
    """Rules for one (robots.txt body, crawler product token) pair,
    compiled once and reused across every URL of the host."""

    __slots__ = ("rules",)

    def __init__(self, body: str, agent: str):
        agent = agent.lower()
        groups = parse_robots(body)
        exact = [g for g in groups if agent in g[0]]
        chosen = exact if exact else [g for g in groups if "*" in g[0]]
        indexed: list[tuple[int, bool, int, str, re.Pattern]] = []
        for _uas, rs in chosen:
            for idx, r in enumerate(rs, start=len(indexed)):
                indexed.append(
                    (_specificity(r.pattern), r.allow, idx, r.pattern, _compile_pattern(r.pattern))
                )
        # ascending precedence: later entries override earlier ones when
        # both match — most octets wins, allow breaks verdict ties, and
        # -idx puts the FIRST-declared rule last among full ties so the
        # overwrite scan reports it (deterministic attribution; the twin's
        # strict-> first-match scan agrees)
        indexed.sort(key=lambda t: (t[0], t[1], -t[2]))
        self.rules = [(spec, allow, pattern, rx) for spec, allow, _idx, pattern, rx in indexed]

    def decide(self, path: str) -> tuple[bool, str]:
        """(allowed, winning pattern) for a path (+query); '' = default."""
        allowed, winner = True, ""
        for _ln, allow, pattern, rx in self.rules:
            if rx.match(path):
                allowed, winner = allow, pattern
        return allowed, winner
