"""Structural metaschema: validates schema *documents* at compile time.

Reference analogue: every JSONSchema is validated against its
metaschema on construction (/root/reference/jschon/jsonschema.py:187-189),
and the metaschema validates itself
(/root/reference/jschon/catalog/__init__.py:233-237).

Ours is a compact structural 2020-12 metaschema written as plain data
and evaluated by our own Evaluator — the engine validating its own
inputs with itself (schema = data, §1.1). It checks keyword value
*shapes* (e.g. ``type`` is a known name or list of them, ``pattern``
compiles, bounds are numbers); it does not enforce vocabulary URIs.
"""

from __future__ import annotations

from typing import Any

from jschon_spark.schema.catalog import subschemas

_TYPE_NAME = {
    "enum": ["null", "boolean", "number", "string", "array", "object", "integer"]
}
_NONNEG = {"type": "integer", "minimum": 0}
_NUM = {"type": "number"}
_STR = {"type": "string"}
_SELF = {"$ref": "#"}
_SCHEMA_ARRAY = {"type": "array", "items": _SELF, "minItems": 1}
_SCHEMA_MAP = {"type": "object", "additionalProperties": _SELF}

METASCHEMA: dict[str, Any] = {
    "$id": "https://jschon-spark.invalid/meta/structural",
    "type": ["object", "boolean"],
    "properties": {
        # core
        "$id": _STR,
        "$schema": _STR,
        "$ref": _STR,
        "$dynamicRef": _STR,
        "$recursiveRef": {"const": "#"},
        "$anchor": {"type": "string", "pattern": "^[A-Za-z_][-A-Za-z0-9._]*$"},
        "$dynamicAnchor": {"type": "string", "pattern": "^[A-Za-z_][-A-Za-z0-9._]*$"},
        "$recursiveAnchor": {"type": "boolean"},
        "$vocabulary": {"type": "object", "additionalProperties": {"type": "boolean"}},
        "$comment": _STR,
        "$defs": _SCHEMA_MAP,
        # validation
        "type": {
            "anyOf": [_TYPE_NAME, {"type": "array", "items": _TYPE_NAME, "minItems": 1}]
        },
        "enum": {"type": "array"},
        "const": True,
        "multipleOf": {"type": "number", "exclusiveMinimum": 0},
        "maximum": _NUM,
        "exclusiveMaximum": _NUM,
        "minimum": _NUM,
        "exclusiveMinimum": _NUM,
        "maxLength": _NONNEG,
        "minLength": _NONNEG,
        "pattern": {"type": "string", "format": "regex"},
        "maxItems": _NONNEG,
        "minItems": _NONNEG,
        "uniqueItems": {"type": "boolean"},
        "maxContains": _NONNEG,
        "minContains": _NONNEG,
        "maxProperties": _NONNEG,
        "minProperties": _NONNEG,
        "required": {"type": "array", "items": _STR, "uniqueItems": True},
        "dependentRequired": {
            "type": "object",
            "additionalProperties": {"type": "array", "items": _STR, "uniqueItems": True},
        },
        # applicators
        "allOf": _SCHEMA_ARRAY,
        "anyOf": _SCHEMA_ARRAY,
        "oneOf": _SCHEMA_ARRAY,
        "not": _SELF,
        "if": _SELF,
        "then": _SELF,
        "else": _SELF,
        "dependentSchemas": _SCHEMA_MAP,
        "prefixItems": _SCHEMA_ARRAY,
        "items": {"anyOf": [_SELF, _SCHEMA_ARRAY]},  # 2020-12 | 2019-09 tuple form
        "additionalItems": _SELF,
        "contains": _SELF,
        "unevaluatedItems": _SELF,
        "properties": _SCHEMA_MAP,
        "patternProperties": {
            "type": "object",
            "additionalProperties": _SELF,
            "propertyNames": {"format": "regex"},
        },
        "additionalProperties": _SELF,
        "propertyNames": _SELF,
        "unevaluatedProperties": _SELF,
        # annotations
        "title": _STR,
        "description": _STR,
        "default": True,
        "deprecated": {"type": "boolean"},
        "readOnly": {"type": "boolean"},
        "writeOnly": {"type": "boolean"},
        "examples": {"type": "array"},
        "format": _STR,
        "contentMediaType": _STR,
        "contentEncoding": _STR,
        "contentSchema": _SELF,
    },
}


# vocabularies this engine understands (≅ the 2020-12 vocabulary set;
# reference: required-but-unknown vocabularies are an error,
# /root/reference/jschon/vocabulary/core.py:37-62)
KNOWN_VOCABULARIES = {
    "https://json-schema.org/draft/2020-12/vocab/core",
    "https://json-schema.org/draft/2020-12/vocab/applicator",
    "https://json-schema.org/draft/2020-12/vocab/unevaluated",
    "https://json-schema.org/draft/2020-12/vocab/validation",
    "https://json-schema.org/draft/2020-12/vocab/meta-data",
    "https://json-schema.org/draft/2020-12/vocab/format-annotation",
    "https://json-schema.org/draft/2020-12/vocab/format-assertion",
    "https://json-schema.org/draft/2020-12/vocab/content",
    "https://json-schema.org/draft/2019-09/vocab/core",
    "https://json-schema.org/draft/2019-09/vocab/applicator",
    "https://json-schema.org/draft/2019-09/vocab/validation",
    "https://json-schema.org/draft/2019-09/vocab/meta-data",
    "https://json-schema.org/draft/2019-09/vocab/format",
    "https://json-schema.org/draft/2019-09/vocab/content",
    # draft-next: same keyword set as 2020-12 (the reference's _next.py
    # wires identical keyword classes except IdKeyword_Next,
    # /root/reference/jschon/catalog/_next.py + vocabulary/future.py)
    "https://json-schema.org/draft/next/vocab/core",
    "https://json-schema.org/draft/next/vocab/applicator",
    "https://json-schema.org/draft/next/vocab/unevaluated",
    "https://json-schema.org/draft/next/vocab/validation",
    "https://json-schema.org/draft/next/vocab/meta-data",
    "https://json-schema.org/draft/next/vocab/format-annotation",
    "https://json-schema.org/draft/next/vocab/format-assertion",
    "https://json-schema.org/draft/next/vocab/content",
}


class SchemaError(ValueError):
    """The schema document itself is malformed."""

    def __init__(self, violations):
        self.violations = violations
        lines = "; ".join(
            f"{v.keyword_path or v.keyword} at {v.instance_path or '<root>'}: {v.error}"
            for v in violations[:5]
        )
        super().__init__(f"invalid schema document: {lines}")


def validate_schema_document(schema: Any) -> None:
    """Raise SchemaError if the schema document is structurally invalid."""
    from jschon_spark.evaluator import Evaluator
    from jschon_spark.schema.catalog import SchemaCatalog

    catalog = SchemaCatalog()
    catalog.register(METASCHEMA)
    ev = Evaluator(catalog, assert_formats=True)
    out = ev.validate(METASCHEMA, schema)
    if not out.valid:
        raise SchemaError(out.errors)
    if isinstance(schema, dict) and isinstance(schema.get("$vocabulary"), dict):
        from jschon_spark.evaluator import Violation

        unknown = [
            uri
            for uri, required in schema["$vocabulary"].items()
            if required is True and uri not in KNOWN_VOCABULARIES
        ]
        if unknown:
            raise SchemaError(
                [
                    Violation(
                        "$vocabulary", "", "/$vocabulary", None,
                        f"required vocabulary not supported: {u}",
                    )
                    for u in unknown
                ]
            )
    # draft-next forbids fragments in $id entirely
    # (/root/reference/jschon/vocabulary/future.py:11-25; 2019-09/2020-12
    # allow an empty fragment, which future.py also rejects)
    if (
        isinstance(schema, dict)
        and "draft/next" in str(schema.get("$schema", ""))
    ):
        from jschon_spark.evaluator import Violation

        bad = _ids_with_fragments(schema)
        if bad:
            raise SchemaError(
                [
                    Violation(
                        "$id", path, f"{path}/$id", None,
                        f"draft-next $id must not contain a fragment: {v!r}",
                    )
                    for path, v in bad
                ]
            )


def _ids_with_fragments(schema: Any, path: str = "") -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    if isinstance(schema, dict):
        v = schema.get("$id")
        if isinstance(v, str) and "#" in v:
            out.append((path, v))
        for suffix, sub in subschemas(schema):
            out.extend(_ids_with_fragments(sub, path + suffix))
    return out
