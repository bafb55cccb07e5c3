"""Schema-guided recovery of LLM output (reference operators S1–S3,
reference src/utils/schemaUtils.ts:36-365).

``safe_sanitized_parser`` recovers the maximal valid subset of a raw object:
primitives parse-or-None, objects drop invalid optional properties and null
invalid nullable ones (inserting null for *missing* nullable properties),
arrays skip invalid items, and the final re-parse guard rejects anything
still out of shape.  ``transform_schema_for_llm`` strips URL checks before
prompting; ``fix_url_escape_sequences`` undoes markdown paren-escaping on
URL-typed strings afterwards.
"""

from __future__ import annotations

from extractor_spark.engine.schema import UNDEFINED, is_url_schema
from extractor_spark.engine.validate import zod_parse


def safe_sanitized_parser(schema: dict, raw_object):
    """schemaUtils.ts:189-216 — returns the sanitized value, UNDEFINED (for
    top-level optional misses), or None when unrecoverable."""
    try:
        if raw_object is None or raw_object is UNDEFINED:
            return zod_parse(schema, raw_object)
        stype = schema["type"]
        if stype == "object":
            return _sanitize_object(schema, raw_object)
        if stype == "array":
            return _sanitize_array(schema, raw_object)
        if stype == "optional":
            return _sanitize_optional(schema, raw_object)
        if stype == "nullable":
            return _sanitize_nullable(schema, raw_object)
        return zod_parse(schema, raw_object)
    except Exception:
        return None


def _sanitize_object(schema: dict, raw_object) -> dict:
    """schemaUtils.ts:221-292."""
    if not isinstance(raw_object, dict):
        raise TypeError("Expected an object")

    result: dict = {}
    for key, prop in schema["properties"].items():
        ptype = prop["type"]
        if key not in raw_object:
            # Missing nullable properties are inserted as null
            # (schemaUtils.ts:237-249); everything else is skipped.
            if ptype == "nullable":
                result[key] = None
            continue

        if ptype == "optional":
            sanitized = safe_sanitized_parser(prop, raw_object[key])
            # JS keeps non-null results; `undefined` set on an object key is
            # observably an omission, so both None and UNDEFINED skip here.
            if sanitized is not None and sanitized is not UNDEFINED:
                result[key] = sanitized
        elif ptype == "nullable":
            result[key] = safe_sanitized_parser(prop, raw_object[key])
        else:
            sanitized = safe_sanitized_parser(prop, raw_object[key])
            if sanitized is None:
                raise ValueError(f"Required property {key} could not be sanitized")
            result[key] = sanitized

    return zod_parse(schema, result)


def _sanitize_array(schema: dict, raw_value) -> list:
    """schemaUtils.ts:297-320."""
    if not isinstance(raw_value, list):
        raise TypeError("Expected an array")
    element_schema = schema["items"]
    sanitized_array = []
    for item in raw_value:
        sanitized = safe_sanitized_parser(element_schema, item)
        if sanitized is not None and sanitized is not UNDEFINED:
            sanitized_array.append(sanitized)
    return zod_parse(schema, sanitized_array)


def _sanitize_optional(schema: dict, raw_value):
    """schemaUtils.ts:325-339 — invalid optionals become UNDEFINED."""
    parsed = safe_sanitized_parser(schema["inner"], raw_value)
    if parsed is None:
        return UNDEFINED
    return parsed


def _sanitize_nullable(schema: dict, raw_value):
    """schemaUtils.ts:344-365 — invalid nullables become None."""
    if raw_value is None:
        return None
    return safe_sanitized_parser(schema["inner"], raw_value)


# ---------------------------------------------------------------------------
# S1: strip URL checks before handing the schema to the LLM
# ---------------------------------------------------------------------------

def transform_schema_for_llm(schema: dict) -> dict:
    """schemaUtils.ts:36-122 — remove url checks from string schemas at every
    nesting level, preserving descriptions and all other checks."""
    stype = schema["type"]
    if is_url_schema(schema):
        out = dict(schema)
        checks = [c for c in schema.get("checks", ()) if c.get("kind") != "url"]
        if checks:
            out["checks"] = checks
        else:
            out.pop("checks", None)
        return out
    if stype == "object":
        out = dict(schema)
        out["properties"] = {
            key: transform_schema_for_llm(prop)
            for key, prop in schema["properties"].items()
        }
        return out
    if stype == "array":
        out = dict(schema)
        out["items"] = transform_schema_for_llm(schema["items"])
        return out
    if stype in ("optional", "nullable"):
        out = dict(schema)
        out["inner"] = transform_schema_for_llm(schema["inner"])
        return out
    return schema


# ---------------------------------------------------------------------------
# S2: unescape markdown parens in URL-typed strings
# ---------------------------------------------------------------------------

def fix_url_escape_sequences(data, schema: dict):
    """schemaUtils.ts:127-179."""
    if data is None or data is UNDEFINED:
        return data
    stype = schema["type"]
    if is_url_schema(schema):
        if isinstance(data, str):
            return data.replace("\\(", "(").replace("\\)", ")")
        return data
    if stype == "object" and isinstance(data, dict):
        result = {}
        for key, prop in schema["properties"].items():
            if key in data:
                result[key] = fix_url_escape_sequences(data[key], prop)
            # JS assigns `undefined` for keys absent from data — observably
            # an omission.
        return result
    if stype == "array" and isinstance(data, list):
        element_schema = schema["items"]
        return [fix_url_escape_sequences(item, element_schema) for item in data]
    if stype in ("optional", "nullable"):
        return fix_url_escape_sequences(data, schema["inner"])
    return data
