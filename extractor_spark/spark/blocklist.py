"""UT1-style URL blocklist filtering (domain + path-prefix rules).

The operator every public web-corpus pipeline runs right after fetch:
CCNet, RefinedWeb, FineWeb and Dolma all drop pages whose host or URL
matches a category blocklist (the canonical one is the Université
Toulouse 1 "Blacklists UT-Capitole" distribution: per-category files of
`domains` — which block the domain AND every subdomain — and `urls` —
which block by URL prefix).  No analog in the reference (the reference
extracts single pages); semantics follow the public UT1 README and the
FineWeb/Dolma usage of it.

Matching semantics (pinned by tests/test_blocklist.py against an
independent urllib-based twin):

- A domain rule ``d`` matches host ``h`` iff ``h == d`` or
  ``h.endswith("." + d)`` — label-boundary suffix, so rule
  ``ads.example.org`` matches ``x.ads.example.org`` but NOT
  ``bads.example.org`` (the classic string-endswith bug).
- A URL-prefix rule ``(host, path_prefix)`` matches iff the page host
  equals the rule host exactly AND the URL path starts with the prefix.
- A page can match several rules/categories; the verdict table carries
  one row per (url, rule) match — downstream consumers either anti-join
  the distinct urls (drop everything matched) or filter by category.

Scale shape (the point at 100 TB):

- Domain rules: the page host is exploded into its label-boundary
  suffixes (bounded: a host has ≤ ~10 labels, and 1-label suffixes —
  bare TLDs — are dropped since real blocklists never contain them),
  then equi-joined against the rule table.  That keeps matching LINEAR
  in pages — never host × rules.  The UT1 distribution is ~4.6M domain
  rows ≈ 150 MB, comfortably broadcast; the code broadcasts the rule
  side, and because it is an equi-join, removing the hint degrades
  gracefully to a shuffle join if a bigger blocklist ever exceeds the
  broadcast threshold.
- Prefix rules: equi-join on the exact host (rule side broadcast), then
  a JVM ``startswith`` filter — per-host rule fan-out is tiny in
  practice (UT1 `urls` files are ~1% the size of `domains`).
- Everything is built-in expressions (parse_url / split / transform /
  slice) — zero Python in the hot path; the two rule kinds are two
  independent linear passes over a persisted (url, host, path)
  projection so the upstream page generator/scan runs once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import caches

# Suffixes of the host on label boundaries, most-specific first, dropping
# bare-TLD (1-label) suffixes: "a.b.example.org" ->
# ["a.b.example.org", "b.example.org", "example.org"].
_HOST_SUFFIXES = (
    "transform(sequence(0, size(_labels) - 2), "
    "i -> array_join(slice(_labels, i + 1, size(_labels) - i), '.'))"
)


def domain_rules_df(spark: SparkSession, rules: list[tuple[str, str]]) -> DataFrame:
    """(domain, category) rows — the UT1 `domains` file shape."""
    return spark.createDataFrame(rules, "domain string, category string")


def prefix_rules_df(
    spark: SparkSession, rules: list[tuple[str, str, str]]
) -> DataFrame:
    """(host, path_prefix, category) rows — the UT1 `urls` file shape."""
    return spark.createDataFrame(
        rules, "rule_host string, path_prefix string, category string"
    )


def load_ut1_domains(
    spark: SparkSession, path: str, category: str = "blocklist"
) -> DataFrame:
    """Read a UT1-format ``domains`` file: one domain per line, ``#``
    comments and blank lines ignored.  Distributed read — the full UT1
    distribution is ~4.6M lines."""
    return (
        spark.read.text(path)
        .select(F.trim(F.lower("value")).alias("domain"))
        .where((F.length("domain") > 0) & ~F.col("domain").startswith("#"))
        .withColumn("category", F.lit(category))
    )


def load_ut1_urls(
    spark: SparkSession, path: str, category: str = "blocklist"
) -> DataFrame:
    """Read a UT1-format ``urls`` file: one scheme-less ``host/path``
    prefix per line (a bare ``host`` line means prefix ``/``)."""
    lines = (
        spark.read.text(path)
        .select(F.trim(F.lower("value")).alias("v"))
        .where((F.length("v") > 0) & ~F.col("v").startswith("#"))
    )
    has_path = F.instr("v", "/") > 0
    return lines.select(
        F.substring_index("v", "/", 1).alias("rule_host"),
        F.when(has_path, F.expr("substring(v, instr(v, '/'))"))
        .otherwise(F.lit("/"))
        .alias("path_prefix"),
        F.lit(category).alias("category"),
    )


def blocklist_matches(
    pages: DataFrame,
    domain_rules: DataFrame,
    prefix_rules: DataFrame,
) -> DataFrame:
    """One row per (url, rule) blocklist match.

    Output columns: url, host, category, rule_kind ('domain'|'prefix'),
    matched_rule (the domain, or host + path_prefix for prefix rules).
    ``pages`` needs a ``url`` column; everything else is derived.
    """
    proj = (
        pages.select("url")
        .distinct()
        .withColumn("host", F.lower(F.parse_url("url", F.lit("HOST"))))
        .withColumn("path", F.parse_url("url", F.lit("PATH")))
        .persist()
    )
    caches.register(proj)

    suffixes = proj.withColumn(
        "_labels", F.split("host", r"\.")
    ).withColumn("suffix", F.explode(F.expr(_HOST_SUFFIXES)))
    domain_hits = (
        suffixes.join(
            F.broadcast(domain_rules), suffixes["suffix"] == domain_rules["domain"]
        )
        .select(
            "url",
            "host",
            "category",
            F.lit("domain").alias("rule_kind"),
            F.col("domain").alias("matched_rule"),
        )
    )

    prefix_hits = (
        proj.join(F.broadcast(prefix_rules), proj["host"] == prefix_rules["rule_host"])
        .where(F.col("path").startswith(F.col("path_prefix")))
        .select(
            "url",
            "host",
            "category",
            F.lit("prefix").alias("rule_kind"),
            F.concat_ws("", "rule_host", "path_prefix").alias("matched_rule"),
        )
    )

    return domain_hits.unionByName(prefix_hits)


def apply_blocklist(
    pages: DataFrame,
    domain_rules: DataFrame,
    prefix_rules: DataFrame,
) -> DataFrame:
    """The filtering form: pages with NO blocklist match (left-anti on the
    distinct matched url set) — what the corpus pipeline actually keeps."""
    matched = blocklist_matches(pages, domain_rules, prefix_rules).select("url")
    return pages.join(matched, "url", "left_anti")
