"""Adversarial sanitized-page goldens (VERDICT r1 item 10).

synth.adversarial_page_html generates well-formed but converter-hostile
pages (markdown-literal escapes, nested lists/blockquotes, body-level
<title>, aria-hidden, svg, broken attrs, backslash/UPPER/amazon hrefs,
data: images, smart quotes).  Digests are frozen from this engine after
manual verification against converters.ts semantics; the same pages flow
through build_pages_df (every 16th page), so the pipeline-vs-window-dedup
equivalence test cross-checks that the pipeline produces these bytes.

Documented precedence nuance (matches turndown's addRule unshift order,
converters.ts:88-216): <p aria-hidden="true"> is KEPT — improved-paragraph
was added later than remove-aria-hidden so it wins for <p>; spans/divs with
aria-hidden are dropped.
"""

import hashlib

import pytest

from extractor_spark.engine.convert import HtmlExtractionOptions as Opts, html_to_markdown
from extractor_spark.spark.synth import adversarial_page_html

VARIANTS = {
    "basic": None,
    "main": Opts(extract_main_html=True),
    "images": Opts(include_images=True),
}

DIGESTS = {
    (7, "basic"): "dd3b85208aa8c6d6e2f7a4c158cd49c31d2c375fdab47be00022b9f5b36ef158",
    (7, "main"): "4534849b0261d4e9fad837b4863ce0fb0c7bf59a7526201b667560de3ff7c3bf",
    (7, "images"): "41911eadb2750fde96e3320c23ba18bd765ffbde5ad255fda5d3fd8ab8f56ab0",
    (23, "basic"): "d8dfb67f3c652a851d169ccbf3b967b19b1f1e6de9ad851a72ba7c616b9cac1c",
    (23, "main"): "c41460721123fc42bf22958d4bff65946f30f7c924f64fc0defd5fedd9f67ce9",
    (23, "images"): "93cc84e3cdbe7f5cc1487aa44cdc3f40f7e77900e40fdb69eb1aa2af7991fac4",
    (39, "basic"): "0feab5278c2df4e559d648d9c907edfde5deaa542c10440feb44192f8da38afd",
    (39, "main"): "a56627e9b9459caf85dbf8c597c6c334ad85b53249d947d28c62862ee85cc4f6",
    (39, "images"): "5055b3ca8277b70e088e3200336b0ca9f819a6301b37eaa4933d7517eeee5ccc",
}


def _md(pid, variant):
    return html_to_markdown(
        adversarial_page_html(pid), VARIANTS[variant],
        f"https://site-01.example.org/article/{pid}",
    )


@pytest.mark.parametrize("pid,variant", sorted(DIGESTS))
def test_adversarial_digest(pid, variant):
    assert hashlib.sha256(_md(pid, variant).encode()).hexdigest() == DIGESTS[(pid, variant)]


def test_adversarial_semantics():
    md = _md(7, "basic")
    # escapes around markdown-literal text
    assert "Literal \\*stars\\* and \\_unders\\_" in md
    # Node-parity URL resolution inside the converter
    assert "(https://site-01.example.org/article/img/0.png)" in md
    assert "(https://cdn.example.net/p/0)" in md
    # amazon tracking kept without clean_urls...
    assert "/ref=sr_1_0" in md
    # ...and stripped with it
    md_clean = html_to_markdown(
        adversarial_page_html(7), Opts(clean_urls=True),
        "https://site-01.example.org/article/7",
    )
    assert "/ref=" not in md_clean
    assert "https://www.amazon.com/dp/B0000007" in md_clean
    # svg dropped, nested blockquote preserved
    assert "circle" not in md
    assert "> > Inner & <quote>" in md
    # aria-hidden <p> kept (turndown precedence), see module docstring
    assert "invisible" in md
    # images only in the images variant; alt text is raw (the reference's
    # images rule interpolates getAttribute('alt') without markdown escaping)
    assert "![inline" not in md
    imaged = _md(7, "images")
    assert "![inline [img]](data:image/gif;base64,R0lGOD0)" in imaged
    assert '![dotted "path"](https://site-01.example.org/up/0.jpg "t0")' in imaged


def test_aria_hidden_non_paragraph_dropped():
    assert html_to_markdown(
        '<p>a <span aria-hidden="true">gone</span> b</p>', None, "https://x.y/"
    ) == "a  b"
