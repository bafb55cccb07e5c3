"""Structured-extraction stage (reference operators E1–E4,
reference src/extractors.ts).

The LLM client is pluggable: the sandbox (and CI) uses the deterministic
offline ``MarkdownRuleExtractor``; a real endpoint plugs in behind the same
``LLMClient`` protocol with micro-batched calls inside the Spark stage.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from extractor_spark.engine.jsonfix import json_repair
from extractor_spark.engine.sanitize import (
    fix_url_escape_sequences,
    safe_sanitized_parser,
    transform_schema_for_llm,
)
from extractor_spark.engine.schema import normalize_schema, unwrap

FORMAT_HTML = "html"
FORMAT_MARKDOWN = "markdown"
FORMAT_TXT = "txt"


def get_usage(output: dict) -> dict:
    """extractors.ts:30-39 — map raw token usage to {input,output}Tokens."""
    usage: dict = {}
    token_usage = (output.get("llmOutput") or {}).get("tokenUsage")
    if token_usage:
        usage["input_tokens"] = token_usage.get("promptTokens")
        usage["output_tokens"] = token_usage.get("completionTokens")
    return usage


def _json_stringify(value, indent: int = 2) -> str:
    """JSON.stringify(value, null, 2) equivalent."""
    return json.dumps(value, indent=indent, ensure_ascii=False)


def generate_extraction_prompt(
    format: str,
    content: str,
    custom_prompt: str | None = None,
    extraction_context: dict | None = None,
) -> str:
    """extractors.ts:55-113 — byte-exact prompt template."""
    extraction_task = (
        custom_prompt
        if custom_prompt
        else "Please extract structured information from the provided content."
    )

    prompt = f"""Content information is below:
------
Format: {format}
---
{content}
------

"""

    if extraction_context is not None:
        prompt += f"""Extraction context:
---
{_json_stringify(extraction_context)}
------

You are a data extraction assistant that extracts structured information from the above content and context.

Your task is: {extraction_task}

## Guidelines:
1. Extract ONLY information explicitly stated in the content or provided in the extraction context
2. If the extraction context contains partial data objects, enrich and update them with information from the content, overriding existing values when better information is available
3. If the extraction context contains metadata (URLs, locations, etc.), use it to enhance your understanding and extraction
4. Do not make assumptions or infer missing data beyond what's provided
5. Leave fields empty when information is not present or you are uncertain
6. Follow the required schema exactly

"""
    else:
        prompt += f"""You are a data extraction assistant that extracts structured information from the above content.

Your task is: {extraction_task}

## Guidelines:
1. Extract ONLY information explicitly stated in the content
2. Do not make assumptions or infer missing data
3. Leave fields empty when information is not present or you are uncertain
4. Do not include information that appears incomplete or truncated
5. Follow the required schema exactly

"""

    prompt += "Return only the structured data in valid JSON format and nothing else."
    return prompt


def truncate_content(
    format: str,
    content: str,
    max_tokens: float,
    custom_prompt: str | None = None,
    extraction_context: dict | None = None,
) -> str:
    """extractors.ts:119-146 — 4 chars/token budget, cut off the tail."""
    max_chars = max_tokens * 4
    full_prompt = generate_extraction_prompt(
        format, content, custom_prompt, extraction_context
    )
    if len(full_prompt) <= max_chars:
        return content
    excess_chars = len(full_prompt) - max_chars
    end = int(len(content) - excess_chars)  # JS slice truncates toward zero
    return content[:end]


# ---------------------------------------------------------------------------
# Pluggable LLM clients
# ---------------------------------------------------------------------------

@dataclass
class LLMResponse:
    """Equivalent of langchain's includeRaw structured-output envelope."""

    parsed: object = None  # already-validated object, or None
    tool_call_args: object = None  # OpenAI-style raw tool_calls[0].args
    raw_content: str | None = None  # Gemini-style JSON string
    usage: dict = field(default_factory=dict)


class LLMClient:
    """Protocol: produce structured output for (prompt, llm_schema)."""

    def invoke(self, prompt: str, llm_schema: dict) -> LLMResponse:  # pragma: no cover
        raise NotImplementedError


class ReplayClient(LLMClient):
    """Deterministic canned-response client (unit tests, fallback paths)."""

    def __init__(self, responses: list[LLMResponse]) -> None:
        self._responses = list(responses)
        self._i = 0

    def invoke(self, prompt: str, llm_schema: dict) -> LLMResponse:
        response = self._responses[min(self._i, len(self._responses) - 1)]
        self._i += 1
        return response


class MarkdownRuleExtractor(LLMClient):
    """Offline-deterministic extractor: fills the schema from markdown
    structure (headings, links, images, labeled values) with fixed rules.

    This replaces the network LLM in the sandbox so the full pipeline runs
    end-to-end reproducibly; a real chat-model client implements the same
    protocol (SURVEY.md §2 op E3).
    """

    _H1_RE = re.compile(r"^(.+)\n=+\n", re.M)
    _LINK_RE = re.compile(r"(?<!!)\[[^\]]*\]\(([^)\s]+(?:\\\)|[^)\s])*)\)")
    _IMAGE_RE = re.compile(r"!\[([^\]]*)\]\(([^)\s]+)\)")

    def invoke(self, prompt: str, llm_schema: dict) -> LLMResponse:
        content = self._content_of(prompt)
        data = self._extract_object(llm_schema, content)
        usage = {
            "input_tokens": (len(prompt) + 3) // 4,
            "output_tokens": (len(_json_stringify(data)) + 3) // 4,
        }
        return LLMResponse(parsed=data, usage=usage)

    @staticmethod
    def _content_of(prompt: str) -> str:
        m = re.search(r"^---\n(.*?)\n------\n", prompt[prompt.find("Format:"):], re.S)
        if m:
            return m.group(1)
        return prompt

    # -- heuristics -------------------------------------------------------
    def _extract_object(self, schema: dict, content: str):
        schema = unwrap(schema)
        if schema["type"] != "object":
            return None
        out = {}
        for key, prop in schema["properties"].items():
            value = self._extract_field(key, prop, content)
            if value is not None:
                out[key] = value
        return out

    def _extract_field(self, key: str, prop: dict, content: str):
        inner = unwrap(prop)
        ptype = inner["type"]
        lkey = key.lower()
        if ptype == "string":
            return self._extract_string(lkey, content)
        if ptype == "number":
            m = re.search(rf"{re.escape(key)}\s*[:=]\s*(-?\d+(?:\.\d+)?)", content, re.I)
            return float(m.group(1)) if m else None
        if ptype == "array":
            return self._extract_array(lkey, inner["items"], content)
        if ptype == "boolean":
            return None
        return None

    def _extract_string(self, lkey: str, content: str):
        if lkey == "title":
            m = self._H1_RE.search(content)
            return m.group(1).strip() if m else None
        m = re.search(rf"{lkey}\s*[:=]\s*(.+)", content, re.I)
        if m:
            return m.group(1).strip()
        if lkey in ("summary", "description", "content"):
            for para in content.split("\n\n"):
                p = para.strip()
                if p and not p.startswith(("#", "![", "[", "*", "=", "-")):
                    return p
        return None

    def _extract_array(self, lkey: str, items_schema: dict, content: str):
        items = unwrap(items_schema)
        if items["type"] == "string":
            if "url" in (c.get("kind") for c in items.get("checks", ())) or (
                "link" in lkey or "url" in lkey
            ):
                urls = self._LINK_RE.findall(content)
                return list(dict.fromkeys(urls)) or None
            if lkey == "tags":
                tags = re.findall(r"#([A-Za-z0-9.][\w.]*)", content)
                return list(dict.fromkeys(tags)) or None
            return None
        if items["type"] == "object":
            props = items["properties"]
            if set(props) & {"url", "src"} and any(
                k in props for k in ("alt", "caption")
            ):
                results = []
                for alt, src in self._IMAGE_RE.findall(content):
                    item = {}
                    if "url" in props:
                        item["url"] = src
                    if "alt" in props and alt:
                        item["alt"] = alt
                    results.append(item)
                return results or None
            return None
        return None


# ---------------------------------------------------------------------------
# E3 — the orchestrating operator
# ---------------------------------------------------------------------------

class ExtractionError(RuntimeError):
    pass


# repr(schema) -> (normalized form, LLM-facing form).  Keyed on the
# schema's content, so a dict mutated in place gets fresh forms and an
# unmutated re-use (a pipeline task passes the same config dict for every
# row) returns the memoized objects; repr of the normalized blog schema is
# a few µs.  Bounded: extraction jobs use a handful of schemas per process.
_SCHEMA_FORMS_CACHE: dict[str, tuple] = {}


def _schema_forms(schema: dict) -> tuple:
    key = repr(schema)
    hit = _SCHEMA_FORMS_CACHE.get(key)
    if hit is not None:
        return hit
    normalized = normalize_schema(schema)  # idempotent on the internal form
    llm_schema = transform_schema_for_llm(normalized)
    if len(_SCHEMA_FORMS_CACHE) >= 16:
        _SCHEMA_FORMS_CACHE.clear()
    _SCHEMA_FORMS_CACHE[key] = (normalized, llm_schema)
    return normalized, llm_schema


def extract_with_llm(
    content: str,
    schema: dict,
    llm: LLMClient,
    custom_prompt: str | None = None,
    format: str = FORMAT_MARKDOWN,
    max_input_tokens: float | None = None,
    extraction_context: dict | None = None,
) -> dict:
    """extractors.ts:151-250 — truncate → prompt → structured call →
    fallbacks (tool-call args, repaired JSON string) → URL unescape →
    sanitize against the original schema.

    The normalized/LLM-facing schema forms are memoized per schema content
    (a pipeline task passes the same config dict for every row, so the
    pure-schema recursions run once per task instead of once per row)."""
    schema, llm_schema = _schema_forms(schema)
    truncated = (
        truncate_content(
            format,
            content,
            max_input_tokens,
            custom_prompt,
            extraction_context,
        )
        if max_input_tokens
        else content
    )
    prompt = generate_extraction_prompt(
        format, truncated, custom_prompt, extraction_context
    )

    response = llm.invoke(prompt, llm_schema)
    usage = response.usage or {}

    data = response.parsed
    if data is None:
        if response.tool_call_args is not None:
            data = safe_sanitized_parser(llm_schema, response.tool_call_args)
        if response.raw_content:
            raw_object = json.loads(json_repair(response.raw_content))
            data = safe_sanitized_parser(llm_schema, raw_object)
        if data is None:
            raise ExtractionError("No valid data was extracted")

    fixed = fix_url_escape_sequences(data, schema)
    validated = safe_sanitized_parser(schema, fixed)
    if validated is None:
        raise ExtractionError("Extracted data failed validation against original schema")

    return {"data": validated, "usage": usage}
