"""Port of reference tests/unit/extractors.test.ts — prompt template,
truncation arithmetic, usage mapping, extract_with_llm happy paths and
fallbacks (the reference mocks withStructuredOutput; we use ReplayClient)."""

import json

import pytest

from extractor_spark.engine.extract_llm import (
    FORMAT_HTML,
    FORMAT_MARKDOWN,
    FORMAT_TXT,
    ExtractionError,
    LLMResponse,
    ReplayClient,
    extract_with_llm,
    generate_extraction_prompt,
    get_usage,
    truncate_content,
)

MOCK_SCHEMA = {
    "type": "object",
    "properties": {"title": {"type": "string"}, "content": {"type": "string"}},
}
MOCK_CONTENT = "Test content"
MOCK_DATA = {"title": "Test Title", "content": "Test Content"}


def mock_llm():
    return ReplayClient(
        [LLMResponse(parsed=dict(MOCK_DATA), tool_call_args=dict(MOCK_DATA))]
    )


class TestGetUsage:  # extractors.test.ts:37-74
    def test_extract_usage(self):
        usage = get_usage(
            {
                "llmOutput": {
                    "tokenUsage": {
                        "promptTokens": 100,
                        "completionTokens": 50,
                        "totalTokens": 150,
                    }
                }
            }
        )
        assert usage["input_tokens"] == 100
        assert usage["output_tokens"] == 50

    def test_missing_token_usage(self):
        assert get_usage({"llmOutput": {}}) == {}

    def test_missing_llm_output(self):
        assert get_usage({}) == {}


class TestExtractWithLLM:  # :76-141
    def test_extract_with_llm(self):
        result = extract_with_llm(MOCK_CONTENT, MOCK_SCHEMA, mock_llm())
        assert result["data"] == MOCK_DATA

    def test_custom_prompt(self):
        result = extract_with_llm(
            MOCK_CONTENT, MOCK_SCHEMA, mock_llm(), "Extract the main topic and summary"
        )
        assert result["data"] == MOCK_DATA

    def test_content_formats(self):
        result = extract_with_llm(
            MOCK_CONTENT, MOCK_SCHEMA, mock_llm(), None, FORMAT_TXT
        )
        assert result["data"] == MOCK_DATA

    def test_extraction_context(self):
        result = extract_with_llm(
            MOCK_CONTENT,
            MOCK_SCHEMA,
            mock_llm(),
            None,
            FORMAT_TXT,
            None,
            {"title": "Existing Title", "content": ""},
        )
        assert result["data"] == MOCK_DATA


class TestFallbacks:  # extractors.ts:206-226 fallback paths
    def test_tool_call_args_fallback(self):
        llm = ReplayClient(
            [LLMResponse(parsed=None, tool_call_args={"title": "T", "content": "C", "junk": 1})]
        )
        result = extract_with_llm(MOCK_CONTENT, MOCK_SCHEMA, llm)
        assert result["data"] == {"title": "T", "content": "C"}

    def test_raw_content_json_repair_fallback(self):
        broken = "```json\n{title: 'T', content: 'C',}\n```"
        llm = ReplayClient([LLMResponse(parsed=None, raw_content=broken)])
        result = extract_with_llm(MOCK_CONTENT, MOCK_SCHEMA, llm)
        assert result["data"] == {"title": "T", "content": "C"}

    def test_no_valid_data_raises(self):
        llm = ReplayClient([LLMResponse(parsed=None)])
        with pytest.raises(ExtractionError):
            extract_with_llm(MOCK_CONTENT, MOCK_SCHEMA, llm)

    def test_url_escape_fix_and_revalidation(self):
        # extract.test.ts:317-372 — escaped parens in URL round-trip
        schema = {
            "type": "object",
            "properties": {
                "link": {"type": "string", "checks": [{"kind": "url"}]}
            },
        }
        llm = ReplayClient(
            [LLMResponse(parsed={"link": "https://example.com/meeting-\\(11-12-24\\)"})]
        )
        result = extract_with_llm("content", schema, llm)
        assert result["data"] == {"link": "https://example.com/meeting-(11-12-24)"}


class TestTruncateContent:  # :143-189
    def test_no_truncation_within_limit(self):
        prompt = generate_extraction_prompt(FORMAT_TXT, "")
        content = "This is a short test content."
        result = truncate_content(
            FORMAT_TXT, content, (len(prompt) + len(content)) / 4
        )
        assert result == content

    def test_truncate_by_excess(self):
        prompt = generate_extraction_prompt(FORMAT_TXT, "")
        content = "This is a longer test content that should be truncated."
        result = truncate_content(
            FORMAT_TXT, content, (len(prompt) + len(content)) / 4 - 1
        )
        assert len(result) == len(content) - 4

    def test_extraction_context_in_budget(self):
        ctx = {"a": 1, "b": 2}
        prompt = generate_extraction_prompt(FORMAT_TXT, "", extraction_context=ctx)
        content = "This is a test content for enrichment."
        result = truncate_content(
            FORMAT_TXT,
            content,
            (len(prompt) + len(content)) / 4 - 1,
            extraction_context=ctx,
        )
        assert len(result) == len(content) - 4


class TestGenerateExtractionPrompt:  # :192-256
    def test_basic_prompt(self):
        prompt = generate_extraction_prompt(FORMAT_TXT, "Some test content")
        assert "Content information is below:" in prompt
        assert "Format: txt" in prompt
        assert "Some test content" in prompt
        assert "You are a data extraction assistant" in prompt
        assert "Extract ONLY information explicitly stated in the content" in prompt
        assert "Extraction context" not in prompt
        assert "Return only the structured data in valid JSON format" in prompt

    def test_context_aware_prompt(self):
        ctx = {"title": "Existing Title", "author": "", "tags": ["existing"]}
        prompt = generate_extraction_prompt(
            FORMAT_MARKDOWN, "Some markdown content", extraction_context=ctx
        )
        assert "Content information is below:" in prompt
        assert "Format: markdown" in prompt
        assert "Some markdown content" in prompt
        assert "Extraction context" in prompt
        assert json.dumps(ctx, indent=2, ensure_ascii=False) in prompt
        assert (
            "You are a data extraction assistant that extracts structured "
            "information from the above content and context" in prompt
        )
        assert (
            "If the extraction context contains partial data objects, enrich and "
            "update them with information from the content" in prompt
        )
        assert "Return only the structured data in valid JSON format" in prompt

    def test_custom_prompt_included(self):
        custom = "Extract only product information and prices"
        ctx = {"products": []}
        prompt = generate_extraction_prompt(
            FORMAT_HTML, "<div>Product content</div>", custom, ctx
        )
        assert custom in prompt
        assert "Extraction context" in prompt
        assert json.dumps(ctx, indent=2, ensure_ascii=False) in prompt


def test_schema_memo_keyed_on_content():
    """The schema-forms memo is keyed on the schema's content: a dict
    mutated in place after first use yields the mutated forms (an
    identity-keyed memo served the stale ones), and unmutated re-use
    returns the memoized objects."""
    from extractor_spark.engine import extract_llm as mod
    from extractor_spark.engine.sanitize import transform_schema_for_llm
    from extractor_spark.engine.schema import normalize_schema

    mod._SCHEMA_FORMS_CACHE.clear()
    try:
        schema = {"type": "object", "properties": {"a": {"type": "string"}}}
        n1, l1 = mod._schema_forms(schema)
        n2, l2 = mod._schema_forms(schema)  # clean hit
        assert n1 is n2 and l1 is l2
        schema["properties"]["b"] = {"type": "number"}  # in-place mutation
        n3, l3 = mod._schema_forms(schema)
        assert n3 == normalize_schema(schema) and n3 != n1
        assert l3 == transform_schema_for_llm(normalize_schema(schema))
        n4, l4 = mod._schema_forms(schema)
        assert n4 is n3 and l4 is l3
    finally:
        mod._SCHEMA_FORMS_CACHE.clear()
