"""Fast-path equivalence: converting the tidied DOM directly must produce
byte-identical markdown to the serialize→reparse pipeline, across the
reference fixtures, the unit literals, a synthetic corpus, and torture
cases designed to stress text-node merging / escaping / entities."""

import pytest

from extractor_spark.engine.convert import HtmlExtractionOptions as Opts, html_to_markdown
from extractor_spark.spark.synth import FIXTURE_URLS, UNIT_PAGES, fixture_html, synth_page_html

from .conftest import needs_fixture_files

TORTURE = [
    # removal of script leaves adjacent text nodes: merged "-bar" must not
    # be escaped as a list marker
    "foo <script>x</script>-bar",
    "foo <style>y</style>* item",
    "1<noscript>n</noscript>. ordered?",
    "<p>a<textarea>t</textarea>&gt; quote?</p>",
    # entities round-trip
    "<p>&amp;amp; &lt;div&gt; &quot;q&quot; &#169; café</p>",
    "<pre><code>&lt;h1&gt;code&lt;/h1&gt;\nline2</code></pre>",
    # comments dropped either way
    "a<!-- comment -->b",
    # nbsp handling
    "<p>a&nbsp;b</p>",
    "<p>&nbsp;</p>",
    # nested emphasis + whitespace flanking
    "<p>x <em> spaced </em> y <strong>z </strong>w</p>",
    # lists and blockquotes
    "<ul><li>one</li><li>two<ul><li>nested</li></ul></li></ul>",
    "<ol start='5'><li>five</li><li>six</li></ol>",
    "<blockquote><p>q1</p><p>q2</p></blockquote>",
    # links/images with odd urls
    '<a href=" spaced url ">pad</a>',
    '<a href="/rel (x)">rel</a><img src="i (1).png" alt="a(b)">',
    # empty-ish / blank elements
    "<div>   </div><span></span><td></td>",
    "<a href=''>empty href</a>",
    # title in body
    "<title>T</title><p>body</p>",
    # headings with markdown chars
    "<h1>Head*er_1</h1><h2>=eq</h2><h3>### deep</h3>",
    # malformed nesting
    "<p>para<p>second<div>div inside</div>",
    "<b>bold<i>both</b>italic?</i>",
    # br handling
    "line1<br>line2<br/>line3",
]


def both(html, opts=None, url=None):
    slow = html_to_markdown(html, opts, url, fast_path=False)
    fast = html_to_markdown(html, opts, url, fast_path=True)
    return slow, fast


@pytest.mark.parametrize("case_id", range(len(TORTURE)))
def test_torture_cases(case_id):
    html = TORTURE[case_id]
    slow, fast = both(html, None, "https://example.com/base/")
    assert fast == slow, f"case {case_id}: {html!r}"


@needs_fixture_files
@pytest.mark.parametrize("name", sorted(FIXTURE_URLS))
@pytest.mark.parametrize("include_images", [False, True])
def test_fixtures(name, include_images):
    slow, fast = both(
        fixture_html()[name], Opts(include_images=include_images), "https://example.com/x"
    )
    assert fast == slow


@pytest.mark.parametrize("unit_url", sorted(UNIT_PAGES))
def test_unit_pages(unit_url):
    slow, fast = both(UNIT_PAGES[unit_url], None, unit_url)
    assert fast == slow


def test_synth_corpus():
    for i in range(300):
        html = synth_page_html(i)
        slow, fast = both(html, None, f"https://host.test/{i}")
        assert fast == slow, f"synth page {i}"


def test_main_extract_uses_slow_path():
    html = "<header>H</header><article><h1>M</h1><p>content</p></article>"
    a = html_to_markdown(html, Opts(extract_main_html=True), None, fast_path=True)
    b = html_to_markdown(html, Opts(extract_main_html=True), None, fast_path=False)
    assert a == b
