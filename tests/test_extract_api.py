"""Port of the reference's extract() integration behaviors that are
deterministic offline: processedContent semantics
(tests/integration/processedContent.test.ts), the N/A-price sanitizer
recovery and escaped-URL round-trip of extract.test.ts, and extraction-
context enrichment plumbing — all via ReplayClient / MarkdownRuleExtractor
instead of a live LLM."""

import pytest

from extractor_spark.engine.api import extract
from extractor_spark.engine.extract_llm import (
    LLMResponse,
    MarkdownRuleExtractor,
    ReplayClient,
)
from extractor_spark.spark.synth import fixture_html

from .conftest import needs_fixture_files

SIMPLE_SCHEMA = {
    "type": "object",
    "properties": {
        "title": {"type": "string"},
        "content": {"type": "string", "nullable": True},
    },
}


def replay(data):
    return ReplayClient([LLMResponse(parsed=data)])


class TestProcessedContent:  # processedContent.test.ts:27-91
    def test_txt_passthrough(self):
        content = "Title: Simple Test\n\nThis is a test of plain text extraction."
        result = extract(
            content,
            "txt",
            SIMPLE_SCHEMA,
            replay({"title": "Simple Test", "content": "x"}),
        )
        assert result["processed_content"] == content

    def test_markdown_passthrough(self):
        content = "# Simple Test\n\nThis is a test of markdown extraction."
        result = extract(
            content,
            "markdown",
            SIMPLE_SCHEMA,
            replay({"title": "Simple Test", "content": "x"}),
        )
        assert result["processed_content"] == content

    def test_html_converted(self):
        html = "<h1>Simple Test</h1><p>This is a test of HTML extraction.</p>"
        result = extract(
            html,
            "html",
            SIMPLE_SCHEMA,
            replay({"title": "Simple Test", "content": "x"}),
            source_url="https://example.com",
        )
        pc = result["processed_content"]
        assert "Simple Test" in pc
        assert "This is a test of HTML extraction." in pc
        assert "<h1>" not in pc
        assert "</p>" not in pc

    def test_html_requires_source_url(self):  # index.ts:31-35
        with pytest.raises(ValueError):
            extract("<h1>x</h1>", "html", SIMPLE_SCHEMA, replay({}))


def test_na_price_recovered_as_null():  # extract.test.ts:266-288
    schema = {
        "type": "object",
        "properties": {
            "product": {"type": "string"},
            "price": {"type": "number", "nullable": True},
        },
    }
    # LLM returns a non-numeric price; sanitizer nulls it
    result = extract(
        "Product: Apple, Price: N/A",
        "txt",
        schema,
        replay({"product": "Apple", "price": "N/A"}),
    )
    assert result["data"] == {"product": "Apple", "price": None}


def test_escaped_url_roundtrip():  # extract.test.ts:317-372
    schema = {
        "type": "object",
        "properties": {
            "title": {"type": "string"},
            "link": {"type": "string", "format": "uri"},
        },
    }
    html = '<a href="https://example.com/meeting-(11-12-24)">Meeting [11-12-24]</a>'
    # markdown escapes the parens; the LLM echoes the escaped URL; the
    # pipeline unescapes + revalidates
    result = extract(
        html,
        "html",
        schema,
        replay(
            {
                "title": "Meeting [11-12-24]",
                "link": "https://example.com/meeting-\\(11-12-24\\)",
            }
        ),
        source_url="https://example.com",
    )
    assert result["data"]["link"] == "https://example.com/meeting-(11-12-24)"
    assert (
        result["processed_content"]
        == "[Meeting \\[11-12-24\\]](https://example.com/meeting-\\(11-12-24\\))"
    )


@needs_fixture_files
def test_rule_extractor_blog_fixture_end_to_end():
    """Deterministic offline extraction over the real blog fixture: the
    rule-based client recovers title/tags/links from the converted
    markdown (the live-LLM ground truth fields that are structurally
    derivable, extract.test.ts:63-87)."""
    schema = {
        "type": "object",
        "required": ["title"],
        "properties": {
            "title": {"type": "string"},
            "tags": {"type": "array", "items": {"type": "string"}, "optional": True},
            "links": {
                "type": "array",
                "items": {"type": "string", "format": "uri"},
                "optional": True,
            },
        },
    }
    result = extract(
        fixture_html()["blog-post"],
        "html",
        schema,
        MarkdownRuleExtractor(),
        source_url="https://example.com/blog/async-await",
    )
    data = result["data"]
    assert data["title"] == "Understanding Async/Await in JavaScript"
    assert "JavaScript" in data["tags"] and "Programming" in data["tags"]
    assert "https://example.com/blog/javascript-tutorials" in data["links"]
    assert any("developer.mozilla.org" in u for u in data["links"])
    assert result["usage"]["input_tokens"] > 0


def test_extraction_context_flows_into_prompt():
    """Context join plumbing: the context JSON appears in the prompt
    (extractors.ts:76-94)."""
    captured = {}

    class CapturingClient(ReplayClient):
        def invoke(self, prompt, llm_schema):
            captured["prompt"] = prompt
            return super().invoke(prompt, llm_schema)

    client = CapturingClient([LLMResponse(parsed={"title": "T"})])
    extract(
        "Body",
        "txt",
        {"type": "object", "properties": {"title": {"type": "string"}}},
        client,
        extraction_context={"title": "Existing Title"},
    )
    assert "Extraction context" in captured["prompt"]
    assert '"title": "Existing Title"' in captured["prompt"]
    assert "enrich and update them" in captured["prompt"]
