"""Crawl-frontier construction: sitemap or feed discovery →
already-crawled anti-join → robots exclusion, Spark-first.

The standing shape of every recrawl planner: per host, the sitemap says
what exists, the crawl archive says what we have, robots.txt says what
we may fetch.  At 10^12 documents each piece keeps its scale shape:

- ``parse_sitemaps`` is one Arrow ``mapInPandas`` pass over the
  (host, xml) sitemap table (engine/sitemap.py per payload — tolerant,
  per-entry degradation, a non-XML payload yields zero rows).
- The "already crawled" check is a LEFT ANTI equi-join on url against
  the pages table — Catalyst's standard shuffle/broadcast decision; in
  the host-partitioned pipeline both sides are co-partitioned on host so
  the anti-join is local.
- Robots exclusion reuses spark/robots.py (host join + per-body-compiled
  Arrow decision pass).

Sitemaps (what exists) and RSS/Atom feeds (what is NEW, engine/feeds.py)
run through one discovery body, ``_discover``, one keep-best-per-url
merge, ``_merge``, and one streaming body, ``_stream``, parametrized by a
``_Source`` record.  The streaming body drains its stream through
``sources.drain_files`` and replaces its store through the crash-safe
``sources.swap_store``.

Gates (tests/test_sitemap_frontier.py, tests/test_feed_frontier.py):
engine parsers vs independent xml.etree twins on well-formed docs;
frontier composition vs a pure-Python set-algebra twin over the same
synth inputs; count sanity (frontier ⊆ entry locs, no crawled url
survives, every surviving url robots-allowed); streaming store ≡ batch.
"""

from __future__ import annotations

from typing import Callable, Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_ENTRY_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("loc", T.StringType()),
        T.StructField("lastmod", T.StringType()),
        T.StructField("priority_milli", T.LongType()),
    ]
)


def parse_sitemaps(sitemaps: DataFrame) -> DataFrame:
    """(host, xml) → exploded (host, kind, loc, lastmod, priority_milli)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..engine.sitemap import parse_sitemap

        for pdf in batches:
            rows = []
            for host, xml in zip(pdf["host"], pdf["xml"]):
                for e in parse_sitemap(xml or ""):
                    rows.append((host, e.kind, e.loc, e.lastmod, e.priority_milli))
            yield pd.DataFrame(
                rows, columns=["host", "kind", "loc", "lastmod", "priority_milli"]
            )

    return sitemaps.select("host", "xml").mapInPandas(run, schema=_ENTRY_SCHEMA)


_FEED_ENTRY_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("loc", T.StringType()),
        T.StructField("published_s", T.LongType()),
        T.StructField("title", T.StringType()),
    ]
)


def parse_feeds(feeds: DataFrame) -> DataFrame:
    """(host, xml) → exploded (host, kind, loc, published_s, title) via one
    Arrow ``mapInPandas`` pass (engine/feeds.py per payload — tolerant,
    per-entry degradation, a non-feed payload yields zero rows)."""

    def run(batches):
        from ..engine.feeds import parse_feed

        for pdf in batches:
            rows = []
            for host, xml in zip(pdf["host"], pdf["xml"]):
                for e in parse_feed(xml or ""):
                    rows.append((host, e.kind, e.loc, e.published_s, e.title))
            yield pd.DataFrame(
                rows, columns=["host", "kind", "loc", "published_s", "title"]
            )

    return feeds.select("host", "xml").mapInPandas(run, schema=_FEED_ENTRY_SCHEMA)


# ---------------------------------------------------------------------------
# One discovery body for both sources.  A source is data: how its (host,
# xml) bodies become entry rows with a ``loc``, the freshness order that
# keeps one row per url (the loc dedupe and the store merge alike), the
# entry columns kept in the output, and the work_dir name of its streaming
# store.  The order reads only output columns: the output's host and rule
# are url-derived (robots verdicts), so rows tying on the full order are
# output-identical, and the store merge reproduces the batch dedupe's
# choice from output rows alone.
# ---------------------------------------------------------------------------


class _Source(NamedTuple):
    entries: Callable[[DataFrame], DataFrame]
    order: tuple  # ((column, ascending), ...), nulls last
    cols: tuple
    name: str


def _order(source: _Source) -> list:
    return [
        F.col(c).asc_nulls_last() if asc else F.col(c).desc_nulls_last()
        for c, asc in source.order
    ]


def _best_per(df: DataFrame, key: str, source: _Source) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(*_order(source))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _discover(
    source: _Source,
    bodies: DataFrame,
    crawled_pages: DataFrame,
    robots: DataFrame,
    agent: str,
) -> DataFrame:
    """dedupe per loc → anti-join against the crawl → persist and register
    → robots verdicts → attribute join, sorted freshest-first then url."""
    from . import caches
    from .robots import robots_filter

    # A loc may legally appear many times — repeated entries in one body,
    # or the same URL cross-submitted by several hosts (ADVICE r4, medium).
    # Without the dedupe the verdicts join below fans out n×n (duplicate
    # frontier rows → duplicate fetches).  One shuffle on loc — the same
    # key the anti-join and verdict join use.
    entries = _best_per(source.entries(bodies), "loc", source)
    # fresh feeds BOTH the robots verdicts and the final attribute join —
    # persist it (entry-sized, not the crawl) or the Arrow parse pass and
    # the anti-join run once per consumer (plan-audited: 2x "MapInPandas
    # run" without the persist).  Registered for release_query_caches like
    # every other cache-producing lazy result.
    fresh = entries.join(
        crawled_pages.select(F.col("url").alias("loc")).distinct(),
        ["loc"],
        "left_anti",
    ).persist()
    caches.register(fresh)
    verdicts = robots_filter(fresh.select(F.col("loc").alias("url")), robots, agent)
    return (
        fresh.join(verdicts.filter("allowed"), fresh["loc"] == verdicts["url"])
        .select(verdicts["url"], verdicts["host"], *source.cols, "rule")
        .orderBy(_order(source)[0], "url")
    )


def _merge(source: _Source, store: DataFrame | None, increment: DataFrame) -> DataFrame:
    """Upsert an increment into the accumulated store: one row per url,
    the best under the source's freshness order.  The reduction is an
    associative lexicographic argmax, so incremental merging converges to
    exactly the batch result regardless of how entries are split across
    microbatches.  At production scale this is a Delta/Iceberg MERGE INTO
    keyed on url; here it is union + window-dedupe."""
    return _best_per(
        increment if store is None else store.unionByName(increment), "url", source
    )


def _stream(
    source: _Source,
    spark,
    stream_dir: str,
    crawled_pages: DataFrame,
    robots: DataFrame,
    work_dir: str,
    agent: str,
) -> DataFrame:
    """Each microbatch of (host, xml) files (``sources.drain_files``) runs
    ``_discover`` and is merged into ``work_dir/<name>_store`` through the
    crash-safe ``sources.swap_store``.  Returns the final store, sorted as
    the batch result."""
    import os

    from . import caches
    from .sources import drain_files, swap_store

    store_dir = os.path.join(work_dir, f"{source.name}_store")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        with caches.scope():
            inc = _discover(source, batch_df, crawled_pages, robots, agent)

            def write_next(old: DataFrame | None, nxt: str) -> None:
                _merge(source, old, inc).write.mode("overwrite").parquet(nxt)

            swap_store(spark, store_dir, write_next, batch_id)

    drain_files(
        spark,
        stream_dir,
        "host string, xml string",
        os.path.join(work_dir, f"{source.name}_ckpt"),
        handle,
    )
    return spark.read.parquet(store_dir).orderBy(_order(source)[0], "url")


# Sitemap freshness: priority, then lastmod (ISO strings sort lexically).
_SITEMAP = _Source(
    lambda bodies: parse_sitemaps(bodies).filter(F.col("kind") == "url"),
    (("priority_milli", False), ("lastmod", False)),
    ("lastmod", "priority_milli"),
    "frontier",
)
# Feed freshness: the numeric published_s (engine/feeds.py normalizes RFC
# 822 and RFC 3339 dates to epoch seconds — unlike sitemap lastmod strings,
# feed dates do not sort lexically), then title.
_FEED = _Source(
    parse_feeds,
    (("published_s", False), ("title", True)),
    ("published_s", "title"),
    "feed",
)


def build_frontier(
    sitemaps: DataFrame,
    crawled_pages: DataFrame,
    robots: DataFrame,
    agent: str = "extractor-spark",
) -> DataFrame:
    """URLs to fetch next: in a sitemap, not yet crawled, robots-allowed.

    Returns (url, host, lastmod, priority_milli, rule) sorted by
    (priority desc, url) — the classic fetch-order key."""
    return _discover(_SITEMAP, sitemaps, crawled_pages, robots, agent)


def merge_frontier_store(store: DataFrame | None, increment: DataFrame) -> DataFrame:
    """Upsert a frontier increment: one row per url, keeping the
    best-attributed entry (priority desc nulls last, lastmod desc nulls
    last) — converges to the batch ``build_frontier`` result."""
    return _merge(_SITEMAP, store, increment)


def streaming_frontier(
    spark,
    sitemaps_stream_dir: str,
    crawled_pages: DataFrame,
    robots: DataFrame,
    work_dir: str,
    agent: str = "extractor-spark",
) -> DataFrame:
    """Incremental frontier over a STREAM of sitemap bodies (VERDICT r4
    #8): new (host, xml) files land in ``sitemaps_stream_dir``; each
    microbatch runs ``build_frontier``'s composition and is upserted into
    ``work_dir/frontier_store`` via ``merge_frontier_store``.  Returns the
    final store, in fetch order."""
    return _stream(
        _SITEMAP, spark, sitemaps_stream_dir, crawled_pages, robots, work_dir, agent
    )


def build_feed_frontier(
    feeds: DataFrame,
    crawled_pages: DataFrame,
    robots: DataFrame,
    agent: str = "extractor-spark",
) -> DataFrame:
    """URLs announced by a feed, not yet crawled, robots-allowed — the
    incremental-discovery sibling of ``build_frontier`` (cross-posted and
    repeated entries are legal and common in feeds — syndication mirrors).
    Returns (url, host, published_s, title, rule) sorted freshest-first."""
    return _discover(_FEED, feeds, crawled_pages, robots, agent)


def merge_feed_store(store: DataFrame | None, increment: DataFrame) -> DataFrame:
    """Upsert a feed-frontier increment: one row per url, keeping the
    freshest-attributed entry (published_s desc nulls last, title asc
    nulls last) — converges to the batch ``build_feed_frontier`` result."""
    return _merge(_FEED, store, increment)


def streaming_feed_frontier(
    spark,
    feeds_stream_dir: str,
    crawled_pages: DataFrame,
    robots: DataFrame,
    work_dir: str,
    agent: str = "extractor-spark",
) -> DataFrame:
    """Incremental feed-driven discovery over a STREAM of feed bodies —
    the natural deployment shape (feeds announce what is NEW, so they
    arrive continuously): each microbatch runs ``build_feed_frontier``'s
    composition and is upserted into ``work_dir/feed_store`` via
    ``merge_feed_store``.  Returns the final store, freshest-first."""
    return _stream(
        _FEED, spark, feeds_stream_dir, crawled_pages, robots, work_dir, agent
    )


def allocate_crawl_budget(
    frontier: DataFrame, budget: int, per_host_cap: int | None = None
) -> DataFrame:
    """Politeness-aware fetch scheduling over a frontier (the
    Mercator/Heritrix budget shape): split a global fetch ``budget``
    across hosts proportionally to their frontier share — every
    represented host gets at least 1 slot, an optional ``per_host_cap``
    bounds hot hosts — then pick each host's top-priority URLs within its
    quota.

    Determinism: quotas are (budget × n_urls) DIV total (BIGINT integer
    division — no float anywhere), slot ordering inside a host is
    (priority desc nulls last, url).  Scale shape: the frontier is
    shuffled ONCE on host (the same partitioning a politeness queue needs
    anyway); n_urls, slot, and the quota are all computed in that single
    window pass, and the only other traffic is the 1-row total broadcast.
    No host-sized table is ever built or broadcast (10^8 hosts at web
    scale).

    Returns (url, host, priority_milli, host_quota, slot) with slot ≤
    host_quota — ``slot`` is the per-host fetch order."""
    from pyspark.sql import Window

    total = frontier.select(F.count("*").cast("bigint").alias("t"))
    w_host = Window.partitionBy("host")
    w_slot = Window.partitionBy("host").orderBy(
        F.col("priority_milli").desc_nulls_last(), "url"
    )
    cap_terms = (
        [F.lit(int(per_host_cap)).cast("bigint")] if per_host_cap else []
    )
    n_urls = F.count("*").over(w_host).cast("bigint")
    quota = F.least(
        n_urls,
        F.greatest(
            F.expr(f"CAST({int(budget)} AS BIGINT) * _n_urls DIV _t"),
            F.lit(1).cast("bigint"),
        ),
        *cap_terms,
    )
    return (
        frontier.crossJoin(F.broadcast(total).withColumnRenamed("t", "_t"))
        .withColumn("_n_urls", n_urls)
        .withColumn("slot", F.row_number().over(w_slot))
        .withColumn("host_quota", quota)
        .filter(F.col("slot") <= F.col("host_quota"))
        .select("url", "host", "priority_milli", "host_quota", "slot")
        .orderBy("host", "slot")
    )


def synth_sitemaps_df(
    spark,
    hosts: list[str],
    n_per_host: int = 40,
    known: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Deterministic sitemap bodies per host: clean urlset entries (new
    ids beyond the crawled range plus, when ``known`` is given, real
    already-crawled urls so the anti-join has guaranteed work), plus
    namespace prefixes, CDATA, entities, junk blocks, one sitemap-index,
    REPEATED locs within a sitemap, and locs cross-submitted by the
    previous host's sitemap (both legal; the frontier must emit each loc
    once — the twin gate asserts url uniqueness)."""
    known = known or {}
    rows = []
    sorted_hosts = sorted(hosts)
    for i, host in enumerate(sorted_hosts):
        parts = ['<?xml version="1.0" encoding="UTF-8"?>']
        if i % 7 == 3:
            parts.append(
                "<sitemapindex><sitemap><loc>https://%s/sitemap-2.xml</loc>"
                "<lastmod>2026-01-0%d</lastmod></sitemap></sitemapindex>" % (host, i % 9 + 1)
            )
            rows.append((host, "".join(parts)))
            continue
        parts.append(
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
            ' xmlns:sm="http://www.sitemaps.org/schemas/sitemap/0.9">'
        )
        for u in known.get(host, []):
            parts.append(f"<url><loc>{u}</loc></url>")
        for k in range(n_per_host):
            page_id = 100000 + i * 1000 + k
            loc = f"https://{host}/article/{page_id}"
            if k % 11 == 5:
                loc_xml = f"<![CDATA[{loc}]]>"
            elif k % 11 == 7:
                loc_xml = loc.replace("&", "&amp;") + "?a=1&amp;b=2"
            else:
                loc_xml = loc
            tag = "sm:url" if k % 13 == 4 else "url"
            ltag = "sm:loc" if k % 13 == 4 else "loc"
            entry = f"<{tag}><{ltag}>{loc_xml}</{ltag}>"
            if k % 3 == 0:
                entry += f"<lastmod>2026-0{k % 9 + 1}-15</lastmod>"
            if k % 4 == 0:
                entry += f"<priority>0.{k % 10}</priority>"
            if k % 17 == 9:
                entry += "<junk>ignored</junk>"
            entry += f"</{tag}>"
            parts.append(entry)
        if i % 5 == 2:
            parts.append("<url><lastmod>2026-01-01</lastmod></url>")  # no loc
            parts.append("<url><loc>   </loc></url>")  # blank loc
        # repeated loc within the same sitemap, different priority
        dup_loc = f"https://{host}/article/{100000 + i * 1000}"
        parts.append(f"<url><loc>{dup_loc}</loc><priority>0.9</priority></url>")
        # cross-submission: this host's sitemap also lists the previous
        # host's first article (the same URL in two hosts' sitemaps)
        if i > 0:
            prev = sorted_hosts[i - 1]
            parts.append(
                f"<url><loc>https://{prev}/article/{100000 + (i - 1) * 1000}</loc></url>"
            )
        parts.append("</urlset>")
        rows.append((host, "".join(parts)))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["host", "xml"]))


def synth_feeds_df(
    spark,
    hosts: list[str],
    n_per_host: int = 24,
    known: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Deterministic feed bodies per host: RSS 2.0 for even hosts, Atom
    for odd (both with namespace/CDATA/entity/junk noise), embedding
    already-crawled urls when ``known`` is given so the anti-join has
    guaranteed work, repeated locs within one feed and cross-posted locs
    across hosts (syndication), items with no link, permalink and
    non-permalink guids, rel=self link noise, unparseable dates, and one
    non-feed payload."""
    known = known or {}
    rows = []
    sorted_hosts = sorted(hosts)
    for i, host in enumerate(sorted_hosts):
        if i % 11 == 6:
            rows.append((host, "this is not a feed at all {}"))
            continue
        items = []
        locs = [f"https://{host}/post/{200000 + i * 1000 + k}" for k in range(n_per_host)]
        for u in known.get(host, []):
            locs.append(u)
        if i > 0:
            # syndication: re-announce the previous host's first post
            locs.append(f"https://{sorted_hosts[i - 1]}/post/{200000 + (i - 1) * 1000}")
        locs.append(locs[0])  # repeated entry in the same feed
        if i % 2 == 0:
            for k, loc in enumerate(locs):
                title = f"<![CDATA[Post <{k}> & more]]>" if k % 5 == 2 else f"Post {k}"
                link = loc.replace("&", "&amp;") + ("?a=1&amp;b=2" if k % 9 == 4 else "")
                item = "<item>"
                if k % 7 == 3:
                    item += '<atom:link href="https://feedproxy.invalid/self" rel="self"/>'
                if k % 13 == 8:
                    item += f'<guid isPermaLink="true">{link}</guid>'
                else:
                    item += f"<link>{link}</link>"
                if k % 3 != 2:
                    item += f"<pubDate>Mon, {k % 28 + 1:02d} Jul 2025 0{k % 10}:30:00 GMT</pubDate>"
                elif k % 6 == 5:
                    item += "<pubDate>not a date</pubDate>"
                item += f"<title>{title}</title><junk>x</junk></item>"
                items.append(item)
            items.append("<item><title>linkless</title></item>")
            items.append('<item><guid isPermaLink="false">tag:not-a-url</guid></item>')
            body = (
                '<?xml version="1.0"?><rss version="2.0" '
                'xmlns:atom="http://www.w3.org/2005/Atom"><channel>'
                f"<title>{host}</title><link>https://{host}/</link>"
                + "".join(items)
                + "</channel></rss>"
            )
        else:
            for k, loc in enumerate(locs):
                tag = "atom:entry" if k % 13 == 4 else "entry"
                entry = f"<{tag}>"
                if k % 7 == 3:
                    entry += f'<link rel="enclosure" href="https://{host}/audio/{k}.mp3"/>'
                entry += f'<link rel="alternate" href="{loc.replace("&", "&amp;")}"/>'
                if k % 3 != 2:
                    entry += f"<updated>2025-07-{k % 28 + 1:02d}T0{k % 10}:30:00Z</updated>"
                elif k % 6 == 5:
                    entry += f"<published>2025-06-{k % 28 + 1:02d}T00:00:00+02:00</published>"
                entry += f"<title>Entry {k}</title></{tag}>"
                items.append(entry)
            items.append("<entry><title>linkless</title></entry>")
            # xmlns:atom DECLARED: the etree twin parses these bodies and an
            # undeclared prefix is fine for the tolerant engine but kills
            # etree (same lesson as the sitemap synth's xmlns:sm).
            body = (
                '<feed xmlns="http://www.w3.org/2005/Atom"'
                ' xmlns:atom="http://www.w3.org/2005/Atom">'
                f"<title>{host}</title>" + "".join(items) + "</feed>"
            )
        rows.append((host, body))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["host", "xml"]))
