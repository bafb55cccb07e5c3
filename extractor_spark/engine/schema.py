"""Extraction-schema dialect.

The reference takes arbitrary per-call Zod schemas
(reference src/types.ts:57).  The Spark engine's equivalent is a
job-level JSON-Schema-style dict, normalized here into a canonical internal
form that mirrors Zod's wrapper structure (optional/nullable are wrappers, not
flags) because the sanitizer's recovery semantics
(reference src/utils/schemaUtils.ts:189-365) are wrapper-driven.

Internal form (plain dicts):
    {"type": "string",  "checks": [{"kind": "url"|"email"|"datetime"|"min"|"max", ...}]}
    {"type": "number",  "checks": [{"kind": "int"|"positive"|"min"|"max", ...}]}
    {"type": "boolean"} | {"type": "enum", "values": [...]} | {"type": "any"}
    {"type": "object",  "properties": {name: schema}}
    {"type": "array",   "items": schema}
    {"type": "optional" | "nullable", "inner": schema}
    {"type": "record"}          # z.record(z.string(), z.any())
All nodes may carry "description".
"""

from __future__ import annotations


class _Undefined:
    """JS ``undefined`` sentinel — distinct from None (JS ``null``)."""

    _instance = None

    def __new__(cls):
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __repr__(self) -> str:
        return "UNDEFINED"

    def __bool__(self) -> bool:
        return False


UNDEFINED = _Undefined()

_INTERNAL_TYPES = {
    "string",
    "number",
    "boolean",
    "enum",
    "any",
    "object",
    "array",
    "optional",
    "nullable",
    "record",
}


def is_url_schema(schema: dict) -> bool:
    """schemaUtils.ts:14-23 — string schema carrying a url check."""
    return schema.get("type") == "string" and any(
        c.get("kind") == "url" for c in schema.get("checks", ())
    )


def unwrap(schema: dict) -> dict:
    """Strip optional/nullable wrappers."""
    while schema.get("type") in ("optional", "nullable"):
        schema = schema["inner"]
    return schema


# ---------------------------------------------------------------------------
# JSON-Schema-style → internal normalization
# ---------------------------------------------------------------------------

def normalize_schema(schema: dict) -> dict:
    """Accept the public JSON-Schema-ish dialect (``format``/``optional``/
    ``nullable``/``required`` markers, FIXTURES.md §2) or an
    already-internal dict, and return the canonical internal form."""
    return _normalize(schema, wrap=True)


def _normalize(schema: dict, wrap: bool) -> dict:
    if not isinstance(schema, dict):
        raise TypeError(f"schema node must be a dict, got {type(schema)!r}")

    # Wrapping markers first (they may appear on either dialect).
    if wrap and (schema.get("optional") or schema.get("nullable")):
        stripped = {k: v for k, v in schema.items() if k not in ("optional", "nullable")}
        inner = _normalize(stripped, wrap=False)
        if schema.get("nullable"):
            inner = {"type": "nullable", "inner": inner}
        if schema.get("optional"):
            inner = {"type": "optional", "inner": inner}
        if "description" in schema:
            inner["description"] = schema["description"]
        return inner

    stype = schema.get("type")
    if stype in ("optional", "nullable") and "inner" in schema:
        out = {"type": stype, "inner": _normalize(schema["inner"], wrap=True)}
        if "description" in schema:
            out["description"] = schema["description"]
        return out

    if "enum" in schema and stype in (None, "string", "enum"):
        out = {"type": "enum", "values": list(schema.get("values") or schema["enum"])}
    elif stype == "enum":
        out = {"type": "enum", "values": list(schema["values"])}
    elif stype == "string":
        checks = list(schema.get("checks", ()))
        fmt = schema.get("format")
        if fmt == "uri" or fmt == "url":
            checks.append({"kind": "url"})
        elif fmt == "email":
            checks.append({"kind": "email"})
        elif fmt == "date-time":
            checks.append({"kind": "datetime"})
        if "minLength" in schema:
            checks.append({"kind": "min", "value": schema["minLength"]})
        if "maxLength" in schema:
            checks.append({"kind": "max", "value": schema["maxLength"]})
        out = {"type": "string"}
        if checks:
            out["checks"] = checks
    elif stype in ("number", "integer"):
        checks = list(schema.get("checks", ()))
        if stype == "integer":
            checks.append({"kind": "int"})
        if schema.get("exclusiveMinimum") == 0:
            checks.append({"kind": "positive"})
        elif "exclusiveMinimum" in schema:
            checks.append({"kind": "gt", "value": schema["exclusiveMinimum"]})
        if "minimum" in schema:
            checks.append({"kind": "min", "value": schema["minimum"]})
        if "maximum" in schema:
            checks.append({"kind": "max", "value": schema["maximum"]})
        out = {"type": "number"}
        if checks:
            out["checks"] = checks
    elif stype == "boolean":
        out = {"type": "boolean"}
    elif stype == "array":
        out = {"type": "array", "items": _normalize(schema["items"], wrap=True)}
    elif stype == "object":
        props = schema.get("properties")
        if props is None:
            # additionalProperties-only object == z.record(...)
            out = {"type": "record"}
        else:
            required = schema.get("required")
            new_props = {}
            for key, prop in props.items():
                child = _normalize(prop, wrap=True)
                # A `required` list marks everything absent from it optional
                # (unless already wrapped by its own optional/nullable marker).
                if (
                    required is not None
                    and key not in required
                    and child.get("type") not in ("optional", "nullable")
                ):
                    child = {"type": "optional", "inner": child}
                new_props[key] = child
            out = {"type": "object", "properties": new_props}
    elif stype == "record":
        out = {"type": "record"}
    elif stype == "any" or stype is None:
        out = {"type": "any"}
    else:
        raise ValueError(f"unsupported schema type: {stype!r}")

    if "description" in schema:
        out["description"] = schema["description"]
    return out


# ---------------------------------------------------------------------------
# Internal form → Spark StructType (output-table typing)
# ---------------------------------------------------------------------------

def to_spark_type(schema: dict):
    """Compile an internal schema to a Spark DataType for the output table
    (SURVEY.md §1.3 mapping).  Imported lazily so the engine package stays
    usable without a Spark installation."""
    from pyspark.sql import types as T

    stype = schema["type"]
    if stype in ("optional", "nullable"):
        return to_spark_type(schema["inner"])
    if stype == "string" or stype == "enum":
        return T.StringType()
    if stype == "number":
        if any(c.get("kind") == "int" for c in schema.get("checks", ())):
            return T.LongType()
        return T.DoubleType()
    if stype == "boolean":
        return T.BooleanType()
    if stype == "array":
        return T.ArrayType(to_spark_type(schema["items"]), containsNull=True)
    if stype == "object":
        fields = [
            T.StructField(name, to_spark_type(prop), nullable=True)
            for name, prop in schema["properties"].items()
        ]
        return T.StructType(fields)
    if stype == "record":
        return T.MapType(T.StringType(), T.StringType(), valueContainsNull=True)
    if stype == "any":
        return T.StringType()  # JSON-encoded passthrough
    raise ValueError(f"unsupported schema type: {stype!r}")
