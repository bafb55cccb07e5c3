"""Equivalence of the one-shot tokenizer with stdlib HTMLParser: identical
DOM serialization on every input where HTMLParser does not raise, across
fixtures, synth corpus, torture cases, and hypothesis-generated tag soup."""

import string

import pytest
from hypothesis import given, settings, strategies as st

from extractor_spark.engine.dom import parse_document, serialize_inner
from extractor_spark.spark.synth import FIXTURE_URLS, UNIT_PAGES, fixture_html, synth_page_html

from .conftest import needs_fixture_files


def both_serializations(html):
    fast = serialize_inner(parse_document(html, fast=True).html)
    try:
        slow = serialize_inner(parse_document(html, fast=False).html)
    except Exception:
        return fast, None  # stdlib raised — fast path must still have worked
    return fast, slow


def assert_equiv(html):
    fast, slow = both_serializations(html)
    if slow is not None:
        assert fast == slow, f"divergence on {html!r}"


@needs_fixture_files
@pytest.mark.parametrize("name", sorted(FIXTURE_URLS))
def test_fixture_equiv(name):
    assert_equiv(fixture_html()[name])


def test_unit_pages_equiv():
    for html in UNIT_PAGES.values():
        assert_equiv(html)


def test_synth_corpus_equiv():
    for i in range(200):
        assert_equiv(synth_page_html(i))


TORTURE = [
    "<script>if (a<b && c>d) { x('</scr'+'ipt>'); }</script>after",
    "<script>unterminated",
    "<style>a { content: '<p>' }</style>t",
    "<ScRiPt>X</sCrIpT>y",
    "</ SCRIPT>",
    "<p a='1' b=2 c=\"3\" d>txt</p>",
    "<p a = = '1'>q</p>",
    '<div foo"bar="x">y</div>',
    "<p/>self",
    "<br/><hr />",
    "<a href='x'>1</a",
    "<a href='x",
    "<p attr",
    "<p =bogus>z</p>",
    "<",
    "a<",
    "a<b",
    "< p>not a tag</p>",
    "</>empty close",
    "</ >space close",
    "</3digit>",
    "</p extra cruft>after",
    "<!-- unterminated",
    "<!--no space-->x",
    "<!-- nested <p> -->y",
    "<!---->",
    "<?php echo '>'; ?>t",
    "<?unterminated",
    "<!DOCTYPE html>x",
    "<!doctype junk >y",
    "<!unterminated",
    "<!bogus>x",
    "<![CDATA[a<b]]>c",
    "<![cdata[x]]>",
    "<![foo[x]]>recovered",
    "<![if ie]>cond<![endif]>",
    "<![unterminated",
    "&amp; &lt; &bogus; &#65; &#x41; &#xZZ; &",
    "&amp",
    "tail&am",
    "<p>&notanentity x</p>",
    "text &#; more",
    "<p title='a&amp;b'>v</p>",
    "<p title='a&b'>v</p>",
    "<p\x00weird>nul</p>",
    "<p\tclass\n=\r'x'>ws</p>",
    "<svg><circle r='1'/></svg>",
    "<table><tr><td>c</table>",
    "<ul><li>a<li>b</ul>",
    "<em>x<em>y</em></em>",
    "<h1>7 > 5 < 9</h1>",
    "alpha > beta",
]


@pytest.mark.parametrize("idx", range(len(TORTURE)))
def test_torture_equiv(idx):
    assert_equiv(TORTURE[idx])


def test_bad_marked_section_recovers():
    # stdlib raises here; the fast tokenizer must parse via bogus-comment
    doc = parse_document("<p>A<![foo[x]]>B</p>", fast=True)
    text = doc.body.text_content()
    assert "A" in text and "B" in text


_alphabet = string.ascii_letters + string.digits + " \t\n<>/!?&;#='\"-[]()l\x00中á"


@settings(max_examples=400, deadline=None)
@given(st.text(alphabet=_alphabet, max_size=80))
def test_fuzz_equiv(html):
    assert_equiv(html)
