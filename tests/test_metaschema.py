"""Metaschema validation: good schemas pass, malformed ones raise,
and the metaschema validates itself (the reference's own smoke test,
/root/reference/jschon/catalog/__init__.py:233-237)."""

from __future__ import annotations

import pytest

from jschon_spark.engine import ConstraintEngine
from jschon_spark.schema.metaschema import (
    METASCHEMA,
    SchemaError,
    validate_schema_document,
)
from tests.keyword_cases import CASES, FORMAT_CASES, LEGACY_2019_CASES


def test_metaschema_validates_itself():
    validate_schema_document(METASCHEMA)


@pytest.mark.parametrize(
    "case", CASES + FORMAT_CASES + LEGACY_2019_CASES,
    ids=lambda c: c["description"],
)
def test_all_fixture_schemas_are_valid(case):
    validate_schema_document(case["schema"])


@pytest.mark.parametrize(
    "bad",
    [
        {"type": 5},
        {"type": "strnig"},
        {"type": ["string", "nope"]},
        {"required": "a"},
        {"required": ["a", "a"]},
        {"multipleOf": 0},
        {"multipleOf": -2},
        {"pattern": "("},
        {"maxLength": -1},
        {"minItems": 1.5},
        {"properties": {"a": 5}},
        {"allOf": []},
        {"allOf": {"type": "string"}},
        {"enum": "not-an-array"},
        {"dependentRequired": {"a": "b"}},
        {"$recursiveRef": "other"},
        {"if": 3},
    ],
    ids=[str(i) for i in range(17)],
)
def test_malformed_schema_rejected(bad):
    with pytest.raises(SchemaError):
        validate_schema_document(bad)


def test_engine_compile_rejects_malformed():
    with pytest.raises(SchemaError):
        ConstraintEngine().compile({"type": "strnig"})
    # opt-out still available
    eng = ConstraintEngine()
    eng.compile({"type": "strnig"}, validate_schema=False)


def test_boolean_schema_is_valid():
    validate_schema_document(True)
    validate_schema_document(False)


def test_vocabulary_enforcement():
    ok = {
        "$vocabulary": {
            "https://json-schema.org/draft/2020-12/vocab/core": True,
            "https://example.org/custom": False,  # optional: allowed
        }
    }
    validate_schema_document(ok)
    bad = {"$vocabulary": {"https://example.org/custom": True}}
    with pytest.raises(SchemaError, match="custom"):
        validate_schema_document(bad)


def test_collect_annotations():
    from jschon_spark.output import collect_annotations

    schema = {
        "title": "Page",
        "properties": {
            "url": {"description": "the url", "format": "uri"},
        },
        "allOf": [{"deprecated": True}],
        "enum": [{"title": "not-an-annotation"}],  # data, not schema
        # member names are escaped as JSON pointer tokens
        "$defs": {"a/b": {"title": "slash"}, "c~d": {"title": "tilde"}},
    }
    rows = collect_annotations(schema)
    got = {(r["keyword_path"], r["keyword"]) for r in rows}
    assert ("/$defs/a~1b/title", "title") in got
    assert ("/$defs/c~0d/title", "title") in got
    assert ("/title", "title") in got
    assert ("/properties/url/description", "description") in got
    assert ("/properties/url/format", "format") in got
    assert ("/allOf/0/deprecated", "deprecated") in got
    assert not any("not-an-annotation" == r["value"] for r in rows)


def test_draft_next_id_forbids_fragments():
    """draft-next $id must not contain any fragment
    (/root/reference/jschon/vocabulary/future.py:11-25); 2020-12 still
    allows an empty one."""
    from jschon_spark.schema.metaschema import SchemaError, validate_schema_document

    next_schema = {
        "$schema": "https://json-schema.org/draft/next/schema",
        "$defs": {"a": {"$id": "https://x.example/s#frag"}},
    }
    with pytest.raises(SchemaError):
        validate_schema_document(next_schema)
    # the error path escapes member names as JSON pointer tokens
    with pytest.raises(SchemaError) as err:
        validate_schema_document({
            "$schema": "https://json-schema.org/draft/next/schema",
            "$defs": {"x/y": {"properties": {"c~d": {"$id": "https://x.example/t#f"}}}},
        })
    assert [v.instance_path for v in err.value.violations] == ["/$defs/x~1y/properties/c~0d"]
    # property NAMES are data: a property named like a data keyword is
    # still a subschema whose $id is checked
    for name in ("default", "enum", "other"):
        with pytest.raises(SchemaError):
            validate_schema_document({
                "$schema": "https://json-schema.org/draft/next/schema",
                "properties": {name: {"$id": "https://example.org/x#frag"}},
            })
    # same document under 2020-12: empty fragment is legal
    ok = {
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "$defs": {"a": {"$id": "https://x.example/s#"}},
    }
    validate_schema_document(ok)
    # draft-next without fragmented $id is fine
    validate_schema_document(
        {"$schema": "https://json-schema.org/draft/next/schema",
         "$id": "https://x.example/root", "type": "object"}
    )


def test_draft_next_vocabulary_recognized():
    """draft-next $vocabulary URIs are a known set (same keyword classes
    as 2020-12 in the reference, catalog/_next.py); unknown required
    vocabularies still raise."""
    validate_schema_document({
        "$schema": "https://json-schema.org/draft/next/schema",
        "$id": "https://e.x/next-vocab",
        "$vocabulary": {
            "https://json-schema.org/draft/next/vocab/core": True,
            "https://json-schema.org/draft/next/vocab/validation": True,
        },
        "type": "object",
    })
    with pytest.raises(SchemaError):
        validate_schema_document({
            "$schema": "https://json-schema.org/draft/next/schema",
            "$vocabulary": {"https://e.x/custom-vocab": True},
        })
