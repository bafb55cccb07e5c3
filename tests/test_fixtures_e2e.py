"""Fixture-corpus conversion goldens.

The reference's golden-corpus harness
(reference tests/integration/html-to-markdown.test.ts) compares three
conversion variants (basic / extractMainHtml / includeImages) byte-exactly
against checked-in ground truth; its corpus submodule is empty in this
sandbox, so the digests below are frozen from this engine's output over the
reference's own HTML fixtures (tests/fixtures/*.html) after manual
verification against the semantics of converters.ts.  They are the per-url
byte-identity anchors for the Spark pipeline tests (BASELINE.md).

Semantic assertions mirror the ground truth embedded in
reference tests/integration/extract.test.ts (absolute URLs, product
fields, image URLs)."""

import hashlib

import pytest

from extractor_spark.engine.convert import HtmlExtractionOptions as Opts, html_to_markdown
from extractor_spark.spark.synth import FIXTURE_URLS, fixture_html

from .conftest import needs_fixture_files

pytestmark = needs_fixture_files

VARIANTS = {
    "basic": None,
    "main": Opts(extract_main_html=True),
    "images": Opts(include_images=True),
}

DIGESTS = {
    ("blog-post", "basic"): "5c368010b9e952c70fa672c57c3dbcfe4b70f352f0c34f1d61a7f888f93c4c05",
    ("blog-post", "main"): "38ea332ce83e5d221bca56dba86a431f00a3dc06c190c5f12678c80b45d2492c",
    ("blog-post", "images"): "5c368010b9e952c70fa672c57c3dbcfe4b70f352f0c34f1d61a7f888f93c4c05",
    ("product-list", "basic"): "5af0c76c33eca9bd563f3e43743f45c3d0eba51e839306da70e934c44c75d628",
    ("product-list", "main"): "9e27d5dff398218cd75b649443a8bd598140b9aae817f6375c86d7ae2e97dea1",
    ("product-list", "images"): "292e00ae60a18fdf6c2c1c99302671ef50cabd79a904406e9cf5d5e583ee28ab",
    ("article-with-images", "basic"): "a3345eca347006e70dcabef04a1dd6690852e865e1438e9c6a339e7b5d8e6185",
    ("article-with-images", "main"): "307f78b5a7bb58087baf71653a19e2cbaf43ecd5aace82e365adf052c3a60816",
    ("article-with-images", "images"): "4bec7d5b84dcbc6b9e4353bc6fa70b48b94123a4ed9759fe44b8db52ca45c0fe",
}


def convert(name: str, variant: str) -> str:
    return html_to_markdown(fixture_html()[name], VARIANTS[variant], FIXTURE_URLS[name])


@pytest.mark.parametrize("name,variant", sorted(DIGESTS))
def test_fixture_digest(name, variant):
    md = convert(name, variant)
    assert hashlib.sha256(md.encode()).hexdigest() == DIGESTS[(name, variant)]


def test_blog_post_ground_truth_urls():
    # extract.test.ts:63-87 — links must be absolute, resolved vs sourceUrl
    md = convert("blog-post", "basic")
    assert "[JavaScript Tutorials](https://example.com/blog/javascript-tutorials)" in md
    assert (
        "https://developer.mozilla.org/en-US/docs/Web/JavaScript/Reference/"
        "Statements/async_function" in md
    )
    assert "Understanding Async/Await in JavaScript" in md
    assert "John Doe" in md
    assert "January 15, 2023" in md
    assert "#JavaScript" in md and "#Programming" in md


def test_product_list_ground_truth():
    # extract.test.ts:150-196 — three products with prices/ratings/links
    md = convert("product-list", "basic")
    for text in (
        "Smart Speaker Pro",
        "$129.99",
        "(4.2/5)",
        "Smart Thermostat",
        "$89.95",
        "(4.8/5)",
        "Smart Security Camera",
        "$74.50",
        "(4.0/5)",
        "[View Details](https://example.com/products/smart-speaker-pro)",
        "[View Details](https://example.com/products/smart-thermostat)",
        "[View Details](https://example.com/products/smart-security-camera)",
        "360° sound with deep bass",
        "Energy usage reports",
        "Real-time alerts",
    ):
        assert text in md


def test_product_list_images_variant():
    md = convert("product-list", "images")
    assert "![Smart Speaker Pro](https://example.com/images/products/speaker.jpg)" in md
    assert "![Smart Thermostat](https://example.com/images/products/thermostat.jpg)" in md
    assert "![Smart Security Camera](https://example.com/images/products/camera.jpg)" in md


def test_article_images_ground_truth():
    # extract.test.ts:529-572 — image URLs with alts survive conversion
    md = convert("article-with-images", "images")
    assert "![React and Node.js Architecture](https://example.com/images/react-node-architecture.png)" in md
    assert "![Node.js Event Loop](https://example.com/images/nodejs-event-loop.jpg)" in md
    assert "![Webpack Logo](https://example.com/images/webpack-logo.png)" in md
    assert "Webpack for module bundling" in md


def test_main_variant_removes_header_footer():
    md = convert("blog-post", "main")
    # header (author/date/tags) and footer are boilerplate-discarded
    assert "John Doe" not in md
    assert "© 2023 JavaScript Blog" not in md
    # article body retained
    assert "Async/await is a modern way" in md
