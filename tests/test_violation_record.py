"""One violation record on every route.

The same documents through ``apply_typed`` (typed Columns),
``apply_json`` (VariantType) and ``apply_json(prefer_variant=False)``
(the Arrow batch evaluator) must give identical ordered
``(keyword, instance_path, keyword_path, value, error)`` lists: one
message table, one value rule and one sort, whichever route a schema
takes.
"""

from __future__ import annotations

import json

import pytest

from jschon_spark.engine import ConstraintEngine

# (schema, typed DDL, rows): each row is one document, its absent
# properties NULL in the typed frame and left out of its JSON
PROBES = {
    "keywords": (
        {
            "required": ["n", "s", "z"],
            "properties": {"n": {"maximum": 5}, "s": {"pattern": "^a", "minLength": 3}},
            "additionalProperties": False,
        },
        "n bigint, s string, extra string",
        [(9, "b", "x"), (4, "abc", None), (None, None, None)],
    ),
    "struct_type": (
        {"properties": {"o": {"type": "string"}, "f": {"type": "integer", "maximum": 1}}},
        "o struct<a:string,b:bigint>, f double",
        [({"a": "z", "b": 1}, 2.5), ({"a": "y", "b": 2}, 3.0), (None, 0.1)],
    ),
    "pattern_properties": (
        {"patternProperties": {"^[ab]$": {"maximum": 0}}, "propertyNames": {"maxLength": 0}},
        "b bigint, a bigint",
        [(1, 2), (None, 3), (0, None)],
    ),
    # unevaluated* covers only what a sibling PASSED on: a failed
    # properties/prefixItems/items application leaves its member
    # unevaluated, and a failed in-place subschema passes no marks up
    "uneval_properties": (
        {"properties": {"a": {"type": "string"}}, "unevaluatedProperties": False},
        "a bigint, b string",
        [(1, "x"), (None, "x"), (2, None), (None, None)],
    ),
    "uneval_all_of": (
        {"allOf": [{"properties": {"a": {"type": "string"}}}], "unevaluatedProperties": False},
        "a bigint, b string",
        [(1, "x"), (None, "x"), (2, None), (None, None)],
    ),
    "uneval_map": (
        {"properties": {"m": {"properties": {"a": {"type": "string"}},
                              "unevaluatedProperties": False}}},
        "m map<string,bigint>",
        [({"a": 1, "b": 2},), ({"a": 1},), ({},), (None,)],
    ),
    "uneval_prefix_items": (
        {"properties": {"nums": {"prefixItems": [{"type": "string"}],
                                 "unevaluatedItems": False}}},
        "nums array<bigint>",
        [([1, 2],), ([1],), ([],), (None,)],
    ),
    "uneval_items": (
        {"properties": {"nums": {"items": {"maximum": 1}, "unevaluatedItems": False}}},
        "nums array<bigint>",
        [([1, 2],), ([0, 1],), ([3],), (None,)],
    ),
    # branch-dependent coverage: lowers on both Column routes
    "uneval_any_of": (
        {"anyOf": [{"properties": {"a": {"minimum": 5}}}, {"properties": {"b": True}}],
         "unevaluatedProperties": False},
        "a bigint, b bigint, c bigint",
        [(1, 2, None), (7, None, 3), (7, 2, None), (1, None, None), (None, None, None)],
    ),
    # a $ref beside unevaluatedProperties resolves against its schema's
    # relative $id once
    "uneval_ref_under_id": (
        {"$id": "http://example.com/root.json",
         "properties": {"o": {"$id": "sub/o.json", "$ref": "t.json",
                              "unevaluatedProperties": False}},
         "$defs": {"t": {"$id": "http://example.com/sub/t.json",
                         "properties": {"a": {"maximum": 1}}}}},
        "o struct<a:bigint,b:bigint>",
        [({"a": 1, "b": 2},), ({"a": 3, "b": 0},), (None,)],
    ),
}


def _records(df) -> list:
    return [
        [(v.keyword, v.instance_path, v.keyword_path, v.value, v.error)
         for v in r.violations]
        for r in df.orderBy("rid").select("violations").collect()
    ]


@pytest.mark.parametrize("probe", list(PROBES))
def test_every_route_gives_one_record(spark, probe):
    schema, ddl, rows = PROBES[probe]
    typed = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], f"rid bigint, {ddl}")
    cols = typed.columns[1:]
    docs = spark.createDataFrame(
        [(i, json.dumps({c: v for c, v in zip(cols, r) if v is not None}))
         for i, r in enumerate(rows)],
        "rid bigint, doc string")
    compiled = ConstraintEngine().compile(schema)

    by_typed = _records(compiled.apply_typed(typed, cols))
    by_variant = _records(compiled.apply_json(docs, "doc"))
    by_batch = _records(compiled.apply_json(docs, "doc", prefer_variant=False))
    routes = {key[0]: v["route"] for key, v in compiled.explain().items()}
    assert routes == {"apply_typed": "typed", "apply_json": "variant"}
    assert by_typed == by_variant == by_batch
    assert any(by_typed)


def test_the_reference_record():
    """The Column routes' text is the reference; the batch evaluator
    now writes it too, with the instance as the value."""
    from jschon_spark.evaluator import Evaluator

    schema = PROBES["keywords"][0]
    got = [(v.keyword, v.instance_path, v.keyword_path, v.value, v.error)
           for v in Evaluator().validate(schema, {"n": 9, "s": "b", "extra": "x"}).errors]
    assert got == [
        ("additionalProperties", "/extra", "/additionalProperties", "x",
         "boolean schema false permits nothing"),
        ("maximum", "/n", "/properties/n/maximum", "9", "violates maximum 5"),
        ("minLength", "/s", "/properties/s/minLength", "b", "shorter than 3"),
        ("pattern", "/s", "/properties/s/pattern", "b", "does not match pattern ^a"),
        ("required", "", "/required", "z", "missing required properties"),
    ]


@pytest.mark.parametrize("x,text", [
    (9, "9"), (9.0, "9"), (-0.0, "0"), (2 ** 63, "9.223372036854776E18"),
    (0.1, "0.1"), (1e-05, "1.0E-5"), (123456789.5, "1.234567895E8"),
    (1e7, "10000000"), (7e26, "7.0E26"), (0.001, "0.001"), (True, "true"),
    ("s", "s"), (None, None), ([1], None), ({"a": 1}, None),
])
def test_value_rule(x, text):
    from jschon_spark.evaluator import shown

    assert shown(x) == text
