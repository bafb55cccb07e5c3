"""Port of reference tests/unit/schemaUtils.test.ts (1,238 lines) —
the behavior contract for safe_sanitized_parser / transform_schema_for_llm /
fix_url_escape_sequences over the internal schema dialect."""

from extractor_spark.engine.sanitize import (
    fix_url_escape_sequences,
    safe_sanitized_parser,
    transform_schema_for_llm,
)
from extractor_spark.engine.schema import UNDEFINED, is_url_schema
from extractor_spark.engine.validate import SchemaValidationError, zod_parse

import pytest


# -- succinct schema constructors (mirroring the zod builders in the corpus) --
def s(*checks, desc=None):
    out = {"type": "string"}
    if checks:
        out["checks"] = list(checks)
    if desc:
        out["description"] = desc
    return out


def n(*checks):
    out = {"type": "number"}
    if checks:
        out["checks"] = list(checks)
    return out


def url(desc=None):
    return s({"kind": "url"}, desc=desc)


def b():
    return {"type": "boolean"}


def enum(*values):
    return {"type": "enum", "values": list(values)}


def obj(props, desc=None):
    out = {"type": "object", "properties": props}
    if desc:
        out["description"] = desc
    return out


def arr(items, desc=None):
    out = {"type": "array", "items": items}
    if desc:
        out["description"] = desc
    return out


def opt(inner, desc=None):
    out = {"type": "optional", "inner": inner}
    if desc:
        out["description"] = desc
    return out


def nul(inner, desc=None):
    out = {"type": "nullable", "inner": inner}
    if desc:
        out["description"] = desc
    return out


INT = {"kind": "int"}
POS = {"kind": "positive"}
EMAIL = {"kind": "email"}
DATETIME = {"kind": "datetime"}


def mn(v):
    return {"kind": "min", "value": v}


def mx(v):
    return {"kind": "max", "value": v}


# ---------------------------------------------------------------------------
# safeSanitizedParser — Basic Functionality (:9-55)
# ---------------------------------------------------------------------------

def test_valid_data_as_is():
    assert safe_sanitized_parser(s(), "test") == "test"


def test_null_for_invalid_data():
    assert safe_sanitized_parser(n(), "not a number") is None


def test_optional_url_schema():
    schema = opt(url(), desc="Optional resource URL")
    assert safe_sanitized_parser(schema, "https://example.com") == "https://example.com"
    assert safe_sanitized_parser(schema, UNDEFINED) is UNDEFINED
    assert safe_sanitized_parser(schema, "not-a-url") is UNDEFINED


def test_nullable_url_schema():
    schema = nul(url(), desc="Nullable resource URL")
    assert safe_sanitized_parser(schema, "https://example.com") == "https://example.com"
    assert safe_sanitized_parser(schema, None) is None
    assert safe_sanitized_parser(schema, "not-a-url") is None


# ---------------------------------------------------------------------------
# Object Schemas (:57-221)
# ---------------------------------------------------------------------------

def test_keep_valid_required_properties():
    schema = obj({"required": s(), "optional": opt(n())})
    data = {"required": "value", "optional": 123}
    assert safe_sanitized_parser(schema, data) == data


def test_remove_invalid_optional_properties():
    schema = obj({"required": s(), "optional": opt(n())})
    data = {"required": "value", "optional": "not a number"}
    assert safe_sanitized_parser(schema, data) == {"required": "value"}


def test_null_if_required_invalid():
    schema = obj({"required": s(), "optional": opt(n())})
    assert safe_sanitized_parser(schema, {"required": 123, "optional": 456}) is None


def test_nested_objects():
    schema = obj({"nested": obj({"required": s(), "optional": opt(n())})})
    data = {"nested": {"required": "value", "optional": "not a number"}}
    assert safe_sanitized_parser(schema, data) == {"nested": {"required": "value"}}


def test_null_if_nested_required_invalid():
    schema = obj({"nested": obj({"required": s()})})
    assert safe_sanitized_parser(schema, {"nested": {"required": 123}}) is None


def test_keep_valid_with_nullable_fields():
    schema = obj({"required": s(), "nullable": nul(n())})
    data = {"required": "value", "nullable": 123}
    assert safe_sanitized_parser(schema, data) == data


def test_null_values_in_nullable():
    schema = obj({"required": s(), "nullable": nul(n())})
    data = {"required": "value", "nullable": None}
    assert safe_sanitized_parser(schema, data) == data


def test_invalid_nullable_set_to_null():
    schema = obj({"required": s(), "nullable": nul(n())})
    data = {"required": "value", "nullable": "not a number"}
    assert safe_sanitized_parser(schema, data) == {"required": "value", "nullable": None}


def test_missing_nullable_added_as_null():
    schema = obj({"product": s(), "price": nul(n())})
    raw = {"product": "Apple, Price: N/A"}
    assert safe_sanitized_parser(schema, raw) == {
        "product": "Apple, Price: N/A",
        "price": None,
    }


def test_null_if_required_invalid_with_nullable():
    schema = obj({"required": s(), "nullable": nul(n())})
    assert safe_sanitized_parser(schema, {"required": 123, "nullable": 456}) is None


def test_nested_objects_with_nullable():
    schema = obj({"nested": obj({"required": s(), "nullable": nul(n())})})
    data = {"nested": {"required": "value", "nullable": "not a number"}}
    assert safe_sanitized_parser(schema, data) == {
        "nested": {"required": "value", "nullable": None}
    }


# ---------------------------------------------------------------------------
# Array Schemas (:223-280)
# ---------------------------------------------------------------------------

def test_keep_valid_array_items():
    assert safe_sanitized_parser(arr(n()), [1, 2, 3]) == [1, 2, 3]


def test_filter_invalid_array_items():
    assert safe_sanitized_parser(arr(n()), [1, "two", 3, "four", 5]) == [1, 3, 5]


def test_arrays_of_objects():
    schema = arr(obj({"id": n(), "name": s()}))
    data = [
        {"id": 1, "name": "Valid"},
        {"id": "2", "name": "Invalid ID"},
        {"id": 3, "name": 123},
        {"id": 4, "name": "Valid Again"},
    ]
    assert safe_sanitized_parser(schema, data) == [
        {"id": 1, "name": "Valid"},
        {"id": 4, "name": "Valid Again"},
    ]


def test_nested_arrays():
    schema = arr(arr(n()))
    data = [[1, 2, 3], [4, "five", 6], ["seven", "eight", "nine"], [10, 11, 12]]
    assert safe_sanitized_parser(schema, data) == [[1, 2, 3], [4, 6], [], [10, 11, 12]]


# ---------------------------------------------------------------------------
# Handling Unsafe Data (:282-492)
# ---------------------------------------------------------------------------

def test_remove_unsafe_optional_fields_with_constraints():
    schema = obj(
        {
            "id": n(),
            "name": s(),
            "email": opt(s(EMAIL)),
            "age": opt(n(mn(0), mx(120))),
            "tags": opt(arr(s())),
        }
    )
    data = {
        "id": 1,
        "name": "Test User",
        "email": "not-an-email",
        "age": 200,
        "tags": ["tag1", "tag2"],
    }
    assert safe_sanitized_parser(schema, data) == {
        "id": 1,
        "name": "Test User",
        "tags": ["tag1", "tag2"],
    }


def test_remove_invalid_optional_nested_objects():
    schema = obj(
        {
            "user": obj({"id": n(), "name": s()}),
            "metadata": opt(obj({"created": s(DATETIME), "lastUpdated": opt(s(DATETIME))})),
            "settings": opt(obj({"theme": enum("light", "dark"), "notifications": b()})),
        }
    )
    data = {
        "user": {"id": 1, "name": "Test User"},
        "metadata": {"created": "2023-01-01T10:00:00Z", "lastUpdated": "not-a-date"},
        "settings": {"theme": "blue", "notifications": True},
    }
    assert safe_sanitized_parser(schema, data) == {
        "user": {"id": 1, "name": "Test User"},
        "metadata": {"created": "2023-01-01T10:00:00Z"},
    }


def test_unsafe_nullable_fields_to_null():
    schema = obj(
        {
            "id": n(),
            "name": s(),
            "email": nul(s(EMAIL)),
            "age": nul(n(mn(0), mx(120))),
            "tags": nul(arr(s())),
        }
    )
    data = {
        "id": 1,
        "name": "Test User",
        "email": "not-an-email",
        "age": 200,
        "tags": ["tag1", "tag2"],
    }
    assert safe_sanitized_parser(schema, data) == {
        "id": 1,
        "name": "Test User",
        "email": None,
        "age": None,
        "tags": ["tag1", "tag2"],
    }


def test_invalid_nullable_nested_objects_to_null():
    schema = obj(
        {
            "user": obj({"id": n(), "name": s()}),
            "metadata": nul(obj({"created": s(DATETIME), "lastUpdated": nul(s(DATETIME))})),
            "settings": nul(obj({"theme": enum("light", "dark"), "notifications": b()})),
        }
    )
    data = {
        "user": {"id": 1, "name": "Test User"},
        "metadata": {"created": "2023-01-01T10:00:00Z", "lastUpdated": "not-a-date"},
        "settings": {"theme": "blue", "notifications": True},
    }
    assert safe_sanitized_parser(schema, data) == {
        "user": {"id": 1, "name": "Test User"},
        "metadata": {"created": "2023-01-01T10:00:00Z", "lastUpdated": None},
        "settings": None,
    }


def test_filter_unsafe_items_with_constraints():
    schema = obj({"numbers": arr(n(INT, POS))})
    data = {"numbers": [1, 2, -3, 4.5, "6", 7, 0, None, 8]}
    assert safe_sanitized_parser(schema, data) == {"numbers": [1, 2, 7, 8]}


def test_filter_unsafe_object_items_with_enums():
    schema = obj(
        {"users": arr(obj({"id": n(), "name": s(), "role": enum("admin", "user", "guest")}))}
    )
    data = {
        "users": [
            {"id": 1, "name": "Alice", "role": "admin"},
            {"id": "2", "name": "Bob", "role": "user"},
            {"id": 3, "name": 123, "role": "guest"},
            {"id": 4, "name": "Dave", "role": "moderator"},
            {"id": 5, "name": "Eve", "role": "admin"},
        ]
    }
    assert safe_sanitized_parser(schema, data) == {
        "users": [
            {"id": 1, "name": "Alice", "role": "admin"},
            {"id": 5, "name": "Eve", "role": "admin"},
        ]
    }


# ---------------------------------------------------------------------------
# Complex Nested Structures (:495-797)
# ---------------------------------------------------------------------------

def test_nested_arrays_of_arrays():
    schema = obj({"groups": arr(arr(obj({"id": n(), "value": s()})))})
    data = {
        "groups": [
            [{"id": 1, "value": "a"}, {"id": "2", "value": "b"}, {"id": 3, "value": "c"}],
            [{"id": 4, "value": 5}, {"id": 6, "value": "f"}],
            [{"name": "wrong key"}, {"id": 7, "value": "g"}],
        ]
    }
    assert safe_sanitized_parser(schema, data) == {
        "groups": [
            [{"id": 1, "value": "a"}, {"id": 3, "value": "c"}],
            [{"id": 6, "value": "f"}],
            [{"id": 7, "value": "g"}],
        ]
    }


def test_deeply_nested_blog_structure():
    tag_schema = obj({"id": n(), "name": s()})
    comment_schema = obj(
        {
            "id": n(),
            "text": s(),
            "author": s(),
            "replies": opt(arr(obj({"id": n(), "text": s()}))),
        }
    )
    post_schema = obj(
        {
            "id": n(),
            "title": s(),
            "content": s(),
            "published": b(),
            "tags": opt(arr(tag_schema)),
            "comments": opt(arr(comment_schema)),
            "metadata": opt(obj({"views": n(), "likes": n(), "featured": opt(b())})),
        }
    )
    blog_schema = obj({"posts": arr(post_schema)})

    data = {
        "posts": [
            {
                "id": 1,
                "title": "First Post",
                "content": "Content here",
                "published": True,
                "tags": [
                    {"id": 1, "name": "tag1"},
                    {"id": "2", "name": "tag2"},
                    {"id": 3, "name": 5},
                ],
                "comments": [
                    {
                        "id": 1,
                        "text": "Great post!",
                        "author": "User1",
                        "replies": [
                            {"id": 1, "text": "Thanks!"},
                            {"id": "2", "text": "Welcome!"},
                        ],
                    },
                    {"id": "2", "text": "Nice work", "author": "User2", "replies": []},
                ],
                "metadata": {"views": "100", "likes": 42, "featured": "yes"},
            },
            {
                "id": 2,
                "title": "Second Post",
                "content": 12345,
                "published": "false",
                "tags": "not-an-array",
                "metadata": {"views": 200, "likes": 78},
            },
        ]
    }

    assert safe_sanitized_parser(blog_schema, data) == {
        "posts": [
            {
                "id": 1,
                "title": "First Post",
                "content": "Content here",
                "published": True,
                "tags": [{"id": 1, "name": "tag1"}],
                "comments": [
                    {
                        "id": 1,
                        "text": "Great post!",
                        "author": "User1",
                        "replies": [{"id": 1, "text": "Thanks!"}],
                    }
                ],
            }
        ]
    }


def test_output_format_example_with_record():
    output_format = obj({"preference": s(), "sentence_preference_revealed": s()})
    telegram = obj(
        {
            "preferred_encoding": opt(arr(output_format)),
            "favorite_telegram_operators": opt(arr(output_format)),
        }
    )
    user_prefs = obj({"telegram": telegram, "other_preferences": opt({"type": "record"})})

    data = {
        "telegram": {
            "preferred_encoding": [
                {"preference": "valid", "sentence_preference_revealed": "valid text"},
                {"preference": 123, "sentence_preference_revealed": "invalid pref type"},
                {"preference": "valid2", "sentence_preference_revealed": 456},
            ],
            "favorite_telegram_operators": [
                {"preference": "valid", "sentence_preference_revealed": "valid text"},
                {"some_other_field": "missing required fields"},
            ],
        },
        "other_preferences": {"something": "value"},
    }

    assert safe_sanitized_parser(user_prefs, data) == {
        "telegram": {
            "preferred_encoding": [
                {"preference": "valid", "sentence_preference_revealed": "valid text"}
            ],
            "favorite_telegram_operators": [
                {"preference": "valid", "sentence_preference_revealed": "valid text"}
            ],
        },
        "other_preferences": {"something": "value"},
    }


def test_product_catalog_realistic_issues():
    product_schema = obj(
        {
            "products": arr(
                obj(
                    {
                        "id": n(),
                        "name": s(),
                        "price": opt(n()),
                        "inStock": opt(b()),
                        "category": opt(s()),
                    }
                )
            ),
            "storeInfo": obj(
                {"name": s(), "location": opt(s()), "rating": opt(n(mn(0), mx(5)))}
            ),
        }
    )
    raw_llm_output = {
        "products": [
            {"id": 1, "name": "Laptop", "price": 999, "inStock": True},
            {"id": 2, "name": "Headphones", "price": "N/A", "inStock": True, "category": "Audio"},
            {"id": 3, "price": 45.99, "inStock": False},
            {"id": 4, "name": "Keyboard", "price": 59.99, "inStock": True},
        ],
        "storeInfo": {"name": "TechStore", "location": "123 Main St", "rating": "N/A"},
    }
    assert safe_sanitized_parser(product_schema, raw_llm_output) == {
        "products": [
            {"id": 1, "name": "Laptop", "price": 999, "inStock": True},
            {"id": 2, "name": "Headphones", "inStock": True, "category": "Audio"},
            {"id": 4, "name": "Keyboard", "price": 59.99, "inStock": True},
        ],
        "storeInfo": {"name": "TechStore", "location": "123 Main St"},
    }


# ---------------------------------------------------------------------------
# transformSchemaForLLM (:800-1145)
# ---------------------------------------------------------------------------

def test_transform_url_to_string_preserving_description():
    original = url(desc="Link to product")
    transformed = transform_schema_for_llm(original)
    assert transformed["type"] == "string"
    assert transformed["description"] == "Link to product"
    assert not is_url_schema(transformed)
    assert zod_parse(transformed, "not-a-url") == "not-a-url"
    with pytest.raises(SchemaValidationError):
        zod_parse(original, "not-a-url")


def test_transform_nested_objects_with_url_fields():
    original = obj(
        {
            "user": obj({"profile": url(desc="Profile URL")}),
            "website": opt(s(mn(5), {"kind": "url"})),
        }
    )
    transformed = transform_schema_for_llm(original)
    assert transformed["type"] == "object"
    profile = transformed["properties"]["user"]["properties"]["profile"]
    assert profile["type"] == "string"
    assert profile["description"] == "Profile URL"
    website = transformed["properties"]["website"]
    assert website["type"] == "optional"
    inner = website["inner"]
    assert inner["type"] == "string"
    assert any(c["kind"] == "min" for c in inner["checks"])
    assert not any(c["kind"] == "url" for c in inner.get("checks", ()))


def test_transform_arrays_of_url_fields():
    original = arr(url(desc="Resource URL"))
    transformed = transform_schema_for_llm(original)
    assert transformed["type"] == "array"
    element = transformed["items"]
    assert element["type"] == "string"
    assert element["description"] == "Resource URL"
    assert zod_parse(transformed, ["not-a-url", "also-not-a-url"]) == [
        "not-a-url",
        "also-not-a-url",
    ]
    with pytest.raises(SchemaValidationError):
        zod_parse(original, ["not-a-url", "also-not-a-url"])


def test_transform_preserves_array_description():
    original = arr(url(), desc="Collection of resource URLs")
    transformed = transform_schema_for_llm(original)
    assert transformed["type"] == "array"
    assert transformed["description"] == "Collection of resource URLs"
    assert zod_parse(transformed, ["not-a-url"]) == ["not-a-url"]


def test_transform_preserves_object_description():
    original = obj({"link": url()}, desc="Resource metadata")
    transformed = transform_schema_for_llm(original)
    assert transformed["description"] == "Resource metadata"
    assert zod_parse(transformed, {"link": "not-a-url"}) == {"link": "not-a-url"}
    with pytest.raises(SchemaValidationError):
        zod_parse(original, {"link": "not-a-url"})


def test_transform_preserves_optional_description():
    original = opt(url(), desc="Optional resource URL")
    transformed = transform_schema_for_llm(original)
    assert transformed["type"] == "optional"
    assert transformed["description"] == "Optional resource URL"
    assert transformed["inner"]["type"] == "string"
    assert zod_parse(transformed, "not-a-url") == "not-a-url"
    assert zod_parse(transformed, UNDEFINED) is UNDEFINED
    with pytest.raises(SchemaValidationError):
        zod_parse(original, "not-a-url")
    assert zod_parse(original, UNDEFINED) is UNDEFINED


def test_transform_deeply_nested_descriptions():
    original = obj(
        {
            "user": obj({"profile": url(desc="User profile URL")}, desc="User information"),
            "resources": arr(
                obj(
                    {"type": s(), "link": url(desc="Resource link")},
                    desc="Resource item",
                ),
                desc="Available resources",
            ),
            "metadata": opt(
                obj(
                    {"lastUpdated": s(), "mainLink": url(desc="Main resource")},
                    desc="Metadata information",
                ),
                desc="Optional metadata",
            ),
        },
        desc="Complete resource object",
    )
    t = transform_schema_for_llm(original)
    assert t["description"] == "Complete resource object"
    shape = t["properties"]
    assert shape["user"]["description"] == "User information"
    assert shape["resources"]["description"] == "Available resources"
    assert shape["resources"]["items"]["description"] == "Resource item"
    assert shape["metadata"]["description"] == "Optional metadata"
    assert shape["metadata"]["inner"]["description"] == "Metadata information"
    assert shape["user"]["properties"]["profile"]["description"] == "User profile URL"
    assert shape["resources"]["items"]["properties"]["link"]["description"] == "Resource link"
    assert shape["metadata"]["inner"]["properties"]["mainLink"]["description"] == "Main resource"

    test_obj = {
        "user": {"profile": "not-a-url"},
        "resources": [{"type": "document", "link": "not-a-url"}],
        "metadata": {"lastUpdated": "2023-01-01", "mainLink": "not-a-url"},
    }
    assert zod_parse(t, test_obj) == test_obj
    with pytest.raises(SchemaValidationError):
        zod_parse(original, test_obj)


def test_transform_preserves_nullable_description():
    original = nul(url(), desc="Nullable resource URL")
    transformed = transform_schema_for_llm(original)
    assert transformed["type"] == "nullable"
    assert transformed["description"] == "Nullable resource URL"
    assert transformed["inner"]["type"] == "string"
    assert zod_parse(transformed, "not-a-url") == "not-a-url"
    assert zod_parse(transformed, None) is None
    with pytest.raises(SchemaValidationError):
        zod_parse(original, "not-a-url")
    assert zod_parse(original, None) is None


def test_transform_nested_nullable_fields():
    original = obj(
        {
            "user": obj({"profile": nul(url(), desc="User profile URL")}, desc="User information"),
            "resources": arr(
                obj({"type": s(), "link": nul(url(), desc="Resource link")}, desc="Resource item"),
                desc="Available resources",
            ),
            "metadata": nul(
                obj(
                    {"lastUpdated": s(), "mainLink": url(desc="Main resource")},
                    desc="Metadata information",
                ),
                desc="Optional metadata",
            ),
        },
        desc="Complete resource object",
    )
    t = transform_schema_for_llm(original)
    shape = t["properties"]
    assert shape["user"]["properties"]["profile"]["type"] == "nullable"
    assert shape["user"]["properties"]["profile"]["description"] == "User profile URL"
    link = shape["resources"]["items"]["properties"]["link"]
    assert link["type"] == "nullable"
    assert link["description"] == "Resource link"
    assert shape["metadata"]["inner"]["properties"]["mainLink"]["description"] == "Main resource"

    test_obj = {
        "user": {"profile": "not-a-url"},
        "resources": [{"type": "document", "link": None}],
        "metadata": None,
    }
    assert zod_parse(t, test_obj) == test_obj
    with pytest.raises(SchemaValidationError):
        zod_parse(original, test_obj)


# ---------------------------------------------------------------------------
# fixUrlEscapeSequences (:1148-1238)
# ---------------------------------------------------------------------------

def test_unescape_parens_in_url_strings():
    fixed = fix_url_escape_sequences("https://example.com/meeting-\\(2023\\)", url())
    assert fixed == "https://example.com/meeting-(2023)"


def test_unescape_arrays_of_urls():
    fixed = fix_url_escape_sequences(
        ["https://example.com/path-\\(1\\)", "https://example.com/path-\\(2\\)"],
        arr(url()),
    )
    assert fixed == ["https://example.com/path-(1)", "https://example.com/path-(2)"]


def test_unescape_nested_objects():
    schema = obj({"profile": url(), "links": arr(url())})
    data = {
        "profile": "https://example.com/user-\\(john\\)",
        "links": [
            "https://example.com/article-\\(1\\)",
            "https://example.com/article-\\(2\\)",
        ],
    }
    assert fix_url_escape_sequences(data, schema) == {
        "profile": "https://example.com/user-(john)",
        "links": ["https://example.com/article-(1)", "https://example.com/article-(2)"],
    }


def test_unescape_nullable_url():
    fixed = fix_url_escape_sequences("https://example.com/meeting-\\(2023\\)", nul(url()))
    assert fixed == "https://example.com/meeting-(2023)"


def test_unescape_null_value():
    assert fix_url_escape_sequences(None, nul(url())) is None


def test_unescape_nested_nullable_urls():
    schema = obj({"profile": nul(url()), "links": arr(nul(url()))})
    data = {
        "profile": "https://example.com/user-\\(john\\)",
        "links": [
            "https://example.com/article-\\(1\\)",
            None,
            "https://example.com/article-\\(2\\)",
        ],
    }
    assert fix_url_escape_sequences(data, schema) == {
        "profile": "https://example.com/user-(john)",
        "links": [
            "https://example.com/article-(1)",
            None,
            "https://example.com/article-(2)",
        ],
    }
