"""Deterministic synthetic ``pages`` table (FIXTURES.md §1).

The authoritative input shape (BASELINE.json input_hint):
    pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)

Rows come from three sources, all seeded (no wall-clock, no global RNG):
  1. the reference's HTML fixtures verbatim (byte-identity anchors) — only
     when ``FIXTURE_DIR`` exists; this module is the one reader of it,
  2. unit-literal micro-pages from converters.test.ts,
  3. templated boilerplate-heavy pages at arbitrary scale, generated
     *distributed* (spark.range → mapInPandas) so the same generator scales
     from the 60-row smoke table to bench corpora; host distribution is
     zipf-skewed over ~50 hosts (hot hosts for the bucket-spread path), and
     every 20th page appears twice with differing warc_ts to exercise
     latest-crawl-per-url dedup.
"""

from __future__ import annotations

import datetime
import hashlib
import warnings
from pathlib import Path
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# The reference's HTML fixtures.  Absent outside the reference checkout:
# every reader goes through fixture_html(), which then returns nothing.
FIXTURE_DIR = Path("/root/reference/tests/fixtures")

FIXTURE_URLS = {
    "blog-post": "https://example.com/blog/async-await",
    "product-list": "https://example.com/products",
    "article-with-images": "https://example.com/blog/async-await-images",
}

# Inline micro-pages from converters.test.ts literals (FIXTURES.md §1.2).
UNIT_PAGES = {
    "https://fixtures.test/unit/simple-h1-p": "<h1>Hello World</h1><p>This is a test</p>",
    "https://fixtures.test/unit/escape": '<a href="https://example.com/meeting-(11-12-24)">Meeting [11-12-24]</a>',
    "https://fixtures.test/unit/link": '<a href="https://example.com">Example</a>',
    "https://fixtures.test/unit/image": '<img src="image.jpg" alt="An image">',
    "https://fixtures.test/unit/attrs": '<div class="content"><h2 id="title">Title</h2><p>Paragraph</p></div>',
}

_BASE_TS = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)

_LOREM_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam "
    "quis nostrud exercitation ullamco laboris nisi aliquip ex ea commodo "
    "consequat duis aute irure in reprehenderit voluptate velit esse cillum "
    "eu fugiat nulla pariatur excepteur sint occaecat cupidatat non proident "
    "sunt culpa qui officia deserunt mollit anim id est laborum"
).split()

N_HOSTS = 50
# zipf-ish weights: host k gets weight 1/(k+1); cumulative table for sampling.
_HOST_CUM: list[float] = []
_total = 0.0
for _k in range(N_HOSTS):
    _total += 1.0 / (_k + 1)
    _HOST_CUM.append(_total)
_HOST_CUM = [c / _total for c in _HOST_CUM]


def _hash01(page_id: int, salt: str) -> float:
    """Deterministic uniform [0,1) from (page_id, salt)."""
    digest = hashlib.sha256(f"{salt}:{page_id}".encode()).digest()
    return int.from_bytes(digest[:8], "big") / 2**64


def _host_of(page_id: int) -> str:
    u = _hash01(page_id, "host")
    for k, cum in enumerate(_HOST_CUM):
        if u < cum:
            return f"site-{k:02d}.example.org"
    return f"site-{N_HOSTS - 1:02d}.example.org"


def _words(page_id: int, salt: str, count: int) -> str:
    base = int(_hash01(page_id, salt) * 1_000_003)
    picked = [
        _LOREM_WORDS[(base + i * 7) % len(_LOREM_WORDS)] for i in range(count)
    ]
    return " ".join(picked)


def synth_page_html(page_id: int, variant: int = 0) -> str:
    """Boilerplate-heavy deterministic page (regenerateGroundTruth.ts style:
    nav/cookie/share/related wrappers around lorem body content)."""
    host = _host_of(page_id)
    n_paras = 3 + int(_hash01(page_id, "paras") * 6)
    paras = "\n".join(
        f"    <p>{_words(page_id, f'para{i}v{variant}', 40 + (page_id + i) % 30)}"
        f' <a href="/page-{(page_id + i) % 997}">related link {i}</a>.</p>'
        for i in range(n_paras)
    )
    items = "\n".join(
        f"      <li>{_words(page_id, f'item{i}', 6)}</li>" for i in range(4)
    )
    title = _words(page_id, "title", 6).title()
    return f"""<!DOCTYPE html>
<html lang="en">
<head>
  <meta charset="UTF-8">
  <title>{title}</title>
  <style>body {{ margin: 0 }}</style>
  <script>console.log("tracking");</script>
</head>
<body>
  <header>
    <nav class="main-nav"><ul><li><a href="/">Home</a></li><li><a href="/about">About</a></li></ul></nav>
    <h1>{title}</h1>
  </header>
  <div id="cookie-banner">We use cookies. <a href="/cookies">Learn more</a></div>
  <div class="share-buttons"><a href="https://share.example.com/x">Share</a></div>
  <article>
{paras}
    <h2>Details</h2>
    <ul>
{items}
    </ul>
    <img src="https://picsum.photos/400/300" alt="placeholder {page_id}">
  </article>
  <aside class="sidebar">{_words(page_id, "aside", 20)}</aside>
  <div class="related-stories"><a href="/story-{page_id % 101}">More stories</a></div>
  <footer>
    <p>© 2024 {host}</p>
  </footer>
</body>
</html>"""


def adversarial_page_html(page_id: int) -> str:
    """Well-formed but converter-hostile page (regenerateGroundTruth.ts-style
    sanitized shape, plus the constructs that historically break markdown
    converters): markdown-significant literals needing escapes, nested
    lists/blockquotes, body-level <title>, aria-hidden nodes, svg, broken
    quotes in attributes, uppercase/backslash/Amazon-/ref= link targets,
    data: images, entities, pre/code blocks.  Deterministic per page_id;
    used for byte-identity goldens (every page must convert with no error,
    to identical bytes in the pipeline and in its window-dedup oracle)."""
    w = _words(page_id, "adv", 12)
    k = page_id % 7
    return f"""<!DOCTYPE html>
<html><head><title>Head Title {page_id}</title><style>.x{{}}</style></head>
<body>
  <title>Body * Title _{page_id}_</title>
  <h1>Escape 1. Test [{page_id}] + - = # &gt; `tick`</h1>
  <p aria-hidden="true">invisible {w}</p>
  <svg><circle r="1"/></svg>
  <p>Literal *stars* and _unders_ and 1986. A year. {w}</p>
  <blockquote><p>Outer quote</p><blockquote><p>Inner &amp; &lt;quote&gt;</p></blockquote></blockquote>
  <ul><li>one<ul><li>nested {k}</li><li>deeper <strong>bold *{k}*</strong></li></ul></li><li>two</li></ul>
  <ol><li>first</li><li>second with <em>em_phasis</em></li></ol>
  <pre><code>code_block(x) = *raw* {k}</code></pre>
  <p><a href="img\\{k}.png">backslash</a>
     <a href="//CDN.Example.net/p/{k}">proto-relative UPPER</a>
     <a href="https://www.amazon.com/dp/B{page_id:07d}/ref=sr_1_{k}">amazon ref</a>
     <a href="docs/file ({k}).pdf">parens name</a>
     <a href="MAILTO:a@b.c">mail</a></p>
  <p><img src="data:image/gif;base64,R0lGOD{k}" alt="inline [img]">
     <img src="../up/{k}.jpg" alt='dotted "path"' title="t{k}"></p>
  <p broken="un"closed>broken attr paragraph {w}</p>
  <hr>
  <p>“smart quotes” and ‘singles’ — em–dash &copy; {page_id}</p>
</body></html>"""


ADVERSARIAL_EVERY = 16  # every Nth synthetic page uses the hostile template


def _synth_row(page_id: int, variant: int = 0) -> dict:
    host = _host_of(page_id)
    if page_id % ADVERSARIAL_EVERY == 7 and variant == 0:
        html = adversarial_page_html(page_id)
    else:
        html = synth_page_html(page_id, variant)
    ts = _BASE_TS + datetime.timedelta(
        seconds=page_id * 17 % 31_536_000, days=variant
    )
    lang = "en" if _hash01(page_id, "lang") < 0.9 else ("de", "fr", "es", "ja")[
        int(_hash01(page_id, "lang2") * 4)
    ]
    return {
        "url": f"https://{host}/article/{page_id}",
        "warc_ts": ts.replace(tzinfo=None),
        "html": html.encode("utf-8"),
        "text": None,
        "lang": lang,
    }


def fixture_html() -> dict[str, str]:
    """The reference HTML fixtures that exist under ``FIXTURE_DIR``, by
    name (a subset of ``FIXTURE_URLS``; empty when the directory is absent)."""
    paths = {name: FIXTURE_DIR / f"{name}.html" for name in sorted(FIXTURE_URLS)}
    return {name: p.read_text() for name, p in paths.items() if p.is_file()}


def fixture_rows() -> list[dict]:
    """The five ``UNIT_PAGES`` literals, plus the reference fixture pages
    that exist (timestamps are fixed per name, present or not)."""
    present = fixture_html()
    pages = [
        (url, present[name], hour)
        for hour, (name, url) in enumerate(sorted(FIXTURE_URLS.items()))
        if name in present
    ]
    pages += [(url, html, 24 + i) for i, (url, html) in enumerate(sorted(UNIT_PAGES.items()))]
    return [
        {
            "url": url,
            "warc_ts": (_BASE_TS + datetime.timedelta(hours=hour)).replace(tzinfo=None),
            "html": html.encode("utf-8"),
            "text": None,
            "lang": "en",
        }
        for url, html, hour in pages
    ]


def pdf_rows(n: int = 8) -> list[dict]:
    """Deterministic PDF pages (engine/pdfwrite.py): exercises the convert
    stage's payload-magic routing (north_rule "PDF/layout parse") inside
    the same synthetic corpus.  Opt-in via include_pdfs — corpora whose
    tests pin exact failure sets keep the default."""
    from extractor_spark.engine.pdfwrite import text_to_pdf

    rows = []
    for i in range(n):
        text = (
            f"Synthetic report {i}\n\n"
            f"First paragraph line of document {i}.\n"
            f"Second line with shared vocabulary token{i % 3}.\n\n"
            f"Closing remark {i}."
        )
        rows.append(
            {
                "url": f"https://synth.test/pdf/{i}.pdf",
                "warc_ts": (_BASE_TS + datetime.timedelta(hours=48 + i)).replace(tzinfo=None),
                "html": text_to_pdf(text),
                "text": None,
                "lang": "en",
            }
        )
    return rows


def build_pages_df(
    spark: SparkSession,
    n_pages: int,
    include_fixtures: bool = True,
    dup_every: int = 20,
    partitions: int | None = None,
    include_pdfs: bool = False,
) -> DataFrame:
    """Distributed deterministic generation: one task per id-range, no
    driver-side loop — the same code path scales to bench corpora."""

    def generate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for page_id in pdf["id"]:
                page_id = int(page_id)
                rows.append(_synth_row(page_id))
                if dup_every and page_id % dup_every == 0:
                    # same url recrawled a day later with changed body
                    rows.append(_synth_row(page_id, variant=1))
            yield pd.DataFrame(rows)

    base = spark.range(0, n_pages, numPartitions=partitions or max(8, n_pages // 2000))
    df = base.mapInPandas(generate, schema=PAGES_SCHEMA)
    if include_fixtures:
        if not FIXTURE_DIR.is_dir():
            warnings.warn(
                f"reference fixtures absent ({FIXTURE_DIR}): pages carry the "
                "unit-literal pages only",
                stacklevel=2,
            )
        fixtures = spark.createDataFrame(pd.DataFrame(fixture_rows()), schema=PAGES_SCHEMA)
        df = df.unionByName(fixtures)
    if include_pdfs:
        pdfs = spark.createDataFrame(pd.DataFrame(pdf_rows()), schema=PAGES_SCHEMA)
        df = df.unionByName(pdfs)
    return df


def write_pages(
    spark: SparkSession,
    path: str,
    n_pages: int,
    include_fixtures: bool = True,
    include_pdfs: bool = False,
) -> None:
    build_pages_df(
        spark, n_pages, include_fixtures, include_pdfs=include_pdfs
    ).write.mode("overwrite").parquet(path)
