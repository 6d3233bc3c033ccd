"""Differential: variant lowering vs the Arrow batch evaluator on the
same JSON documents — verdicts AND (keyword, instance_path) violations
must agree wherever the variant subset applies."""

from __future__ import annotations

import json
import random

import pytest
from pyspark.sql import functions as F

from jschon_spark.engine import ConstraintEngine

DOCS = [
    '{"k": 10}', '{"k": -1}', '{"k": 87}', '{"k": 1.5}', '{"k": 25.0}',
    '{"k": "s"}', '{"k": null}', '{"k": true}', '{"x": 1}',
    '{"k": 10, "extra": 2}', '{"k": 10, "name": "ab"}',
    '{"k": 10, "name": ""}', '{"k": 10, "name": "toolongname"}',
    '[1, 2]', '"plain"', "17", "17.5", "true", "null", "not json{", "NaN",
    '{"a": {"nested": 1}}', "{}", None,
    '{"a": {}}', '{"a": {"nested": -3}}', '{"a": {"nested": 1, "x": 2}}',
    '{"a": {"nested": 1, "other": 2, "third": 3}}', '{"a": {"longkeyname": 1}}',
    '{"a": {"nested": {"deep": "s"}}}', '{"a": {"nested": {"deep": 5}}}',
    '{"a": {"nested": {"notdeep": 1}}}', '{"a": 5}', '{"a": null}',
    # round-3 array coverage
    '[1, "x"]', '[]', '[1, 2, 3, 4]', '["a", "b"]', '[null]', '[0.5, 7]',
    '[[1], [2, 3]]', '[{"k": 1}, {"k": -2}]',
    '{"tags": [1, 2]}', '{"tags": []}', '{"tags": ["a", 2]}',
    '{"tags": [10, 20, 30]}', '{"tags": "not-array"}', '{"tags": [null]}',
    # round-3b numeric exactness: BIGINTs beyond 2^53 and huge doubles
    # (values beyond ~1e36 with multipleOf are documented as
    # double-approximate on the variant path and excluded here)
    '{"k": 999999999999999999}', '{"k": 1000000000000000001}',
    '{"k": 1e30}', '{"k": -1000000000000000001}', '{"k": 19.99}',
    # round-4 ADVICE regression: tiny magnitudes must not collapse to
    # 0E-18 through the decimal(38,18) comparison path
    '{"k": 0}', '{"k": 0.0}', '{"k": 1e-20}', '{"k": 2e-20}',
    '{"k": -1e-20}', '{"k": 1e-15}',
    # round-4: '/' and '~' inside matched property names / patterns
    '{"a/b": 1}', '{"k~": 2}',
]

SCHEMAS = [
    {"type": "object", "required": ["k"],
     "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 50}}},
    {"type": "object", "required": ["k"],
     "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 50},
                    "name": {"type": "string", "minLength": 1, "maxLength": 6}},
     "additionalProperties": False},
    {"properties": {"k": {"multipleOf": 5}}},
    {"properties": {"k": {"enum": [10, "s", None, True]}}},
    {"properties": {"k": {"const": 10}}},
    {"type": ["number", "string"]},
    {"type": "integer"},
    {"minimum": 17, "exclusiveMaximum": 18},
    {"maxProperties": 1, "minProperties": 1},
    {"propertyNames": {"maxLength": 1}},
    {"dependentRequired": {"k": ["name"]}},
    {"anyOf": [{"type": "string"}, {"type": "object", "required": ["k"]}]},
    {"oneOf": [{"type": "integer"}, {"type": "number"}]},
    {"not": {"type": "object"}},
    {"if": {"type": "number"}, "then": {"minimum": 0}, "else": {"type": "object"}},
    {"$ref": "#/$defs/pos", "$defs": {"pos": {"type": "number", "minimum": 0}}},
    True,
    False,
    # nested-object properties (round 2: to_json(variant) key sets)
    {"type": "object", "required": ["a"],
     "properties": {"a": {"type": "object", "required": ["nested"],
                          "properties": {"nested": {"type": "integer", "minimum": 0}},
                          "additionalProperties": False}}},
    {"properties": {"a": {"minProperties": 1, "maxProperties": 2,
                          "propertyNames": {"maxLength": 6}}}},
    {"properties": {"a": {"properties": {"nested": {"properties": {
        "deep": {"type": "string"}}, "required": ["deep"]}}}}},
    {"properties": {"a": {"dependentRequired": {"nested": ["other"]}}}},
    # round-3 dynamic arrays (array<variant> lowering)
    {"type": "array", "items": {"type": "integer"}},
    {"items": {"type": "integer", "minimum": 0}},
    {"maxItems": 3, "minItems": 1},
    {"prefixItems": [{"type": "integer"}, {"type": "string"}]},
    {"prefixItems": [{"type": "number"}], "items": {"type": "string"}},
    {"contains": {"type": "integer", "minimum": 2}},
    {"contains": {"type": "integer"}, "minContains": 2, "maxContains": 3},
    {"contains": {"type": "string"}, "minContains": 0, "maxContains": 1},
    {"properties": {"tags": {"type": "array",
                             "items": {"type": "integer", "minimum": 0},
                             "maxItems": 3, "minItems": 1}},
     "required": ["tags"]},
    {"properties": {"tags": {"contains": {"minimum": 15},
                             "prefixItems": [{"type": "integer"}]}}},
    {"items": {"items": {"type": "integer"}, "minItems": 1}},
    {"items": {"type": "object", "required": ["k"],
               "properties": {"k": {"minimum": 0}}}},
    # round-3b: boolean patternProperties + dependentSchemas
    {"patternProperties": {"^x": False}},
    {"patternProperties": {"^extra$": False, "^nam": True}},
    {"properties": {"k": True}, "patternProperties": {"^nam": True},
     "additionalProperties": False},
    {"patternProperties": {"^(k|name|extra|x|a|tags)": True},
     "additionalProperties": False},
    {"dependentSchemas": {"k": {"required": ["name"]}}},
    {"dependentSchemas": {"extra": {"maxProperties": 1}},
     "properties": {"k": {"type": "integer"}}},
    {"dependentSchemas": {"a": {"properties": {"a": {"type": "object"}}}}},
    # round-3b: exact numerics past 2^53 (decimal-first comparisons)
    {"properties": {"k": {"exclusiveMaximum": 1e18}}},
    {"properties": {"k": {"minimum": 1000000000000000001}}},
    {"properties": {"k": {"multipleOf": 2}}},
    {"properties": {"k": {"multipleOf": 0.01}}},
    {"properties": {"k": {"enum": [1000000000000000001, 19.99]}}},
    {"properties": {"k": {"const": 999999999999999999}}},
    # round-4 ADVICE regression: sub-1e-18 bounds are not representable
    # in decimal(38,18) — the lowering must fall back to the (exact)
    # double compare instead of comparing against 0E-18
    {"properties": {"k": {"minimum": 2e-20}}},
    {"properties": {"k": {"maximum": 0.0}}},
    {"properties": {"k": {"exclusiveMinimum": 0}}},
    {"properties": {"k": {"const": 1e-20}}},
    {"properties": {"k": {"enum": [1e-20, 2e-20]}}},
    {"properties": {"k": {"exclusiveMaximum": 1e-15}}},
    # round-4 ADVICE regression: a '/' in a patternProperties pattern is
    # a pointer token — the attributed keyword must be pointer-escaped
    # identically on both paths
    {"patternProperties": {"a/b": False}},
    {"patternProperties": {"^k~$": False}},
    # round-4: schema-valued patternProperties (map<string,variant> HOF)
    {"patternProperties": {"^k": {"type": "integer"}}},
    {"patternProperties": {"^(k|name)": {"type": ["integer", "string"]},
                           "^a": {"type": "object"}}},
    {"patternProperties": {"^tags$": {"minItems": 1, "items": {"type": "integer"}}}},
    {"patternProperties": {"^a": {"properties": {"nested": {"minimum": 0}}}}},
    {"patternProperties": {"e": {"minimum": 1}}, "additionalProperties": False},
    {"patternProperties": {"^x": {"const": 1}}},
    # round-4: compound enum/const structural equality
    {"properties": {"tags": {"const": [1, 2]}}},
    {"properties": {"a": {"const": {"nested": 1}}}},
    {"const": {"k": 10}},
    {"const": {"a": {"nested": 1}}},
    {"const": [1, 2]},
    {"properties": {"tags": {"enum": [[1, 2], [10, 20, 30], "not-array"]}}},
    {"enum": [{"k": 10}, {"k": -1}, [1, 2], "plain", 17]},
    {"properties": {"k": {"enum": [[1000000000000000001], {"big": 19.99}]}}},
    # round-4b: schema-valued additionalProperties + gated
    # unevaluatedProperties on the variant path
    {"properties": {"a": {"type": "object"}},
     "additionalProperties": {"type": "integer"}},
    {"additionalProperties": {"minimum": 5}},
    {"properties": {"k": True}, "unevaluatedProperties": False},
    {"unevaluatedProperties": {"type": "integer"}},
    # a properties child that FAILS leaves its key unevaluated — the
    # outer unevaluatedProperties must then apply to it too
    {"properties": {"k": {"type": "string"}},
     "unevaluatedProperties": {"type": "integer"}},
    {"patternProperties": {"^(k|name)": {"type": "integer"}},
     "unevaluatedProperties": False},
    {"properties": {"k": {"minimum": 5}}, "additionalProperties": True,
     "unevaluatedProperties": False},
    # round-4: 2019-09 tuple items + additionalItems lower (dialect-gated)
    {"$schema": "https://json-schema.org/draft/2019-09/schema",
     "items": [{"type": "integer"}, {"type": "string"}]},
    {"$schema": "https://json-schema.org/draft/2019-09/schema",
     "items": [{"type": "integer"}], "additionalItems": {"type": "string"}},
    {"$schema": "https://json-schema.org/draft/2019-09/schema",
     "items": [{"minimum": 0}], "additionalItems": False},
    {"$schema": "https://json-schema.org/draft/2019-09/schema",
     "additionalItems": {"type": "boolean"}},
    {"$schema": "https://json-schema.org/draft/2019-09/schema",
     "items": {"type": "integer"}, "additionalItems": {"type": "string"}},
    {"$schema": "https://json-schema.org/draft/2019-09/schema",
     "properties": {"tags": {"items": [{"type": "integer"},
                                       {"type": "integer"}],
                             "additionalItems": {"minimum": 25}}}},
]


def _route(compiled, json_col="doc"):
    """The route ``apply_json`` over ``json_col`` took, and why the
    variant rung refused (None when it lowered)."""
    r = compiled.explain()[("apply_json", json_col)]
    return r["route"], r["refused"].get("variant")


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame([(d,) for d in DOCS], "doc string").cache()


@pytest.mark.parametrize("schema", SCHEMAS, ids=[str(i) for i in range(len(SCHEMAS))])
def test_variant_matches_batch(spark, docs_df, schema):
    eng = ConstraintEngine()
    compiled = eng.compile(schema if isinstance(schema, bool) else dict(schema))
    var = compiled.apply_json(docs_df, "doc")
    if _route(compiled)[0] != "variant":
        pytest.skip("outside variant subset")
    batch = compiled.apply_json(docs_df, "doc", prefer_variant=False)

    vrows = var.select("doc", "passed", "violations").collect()
    brows = batch.select("doc", "passed", "violations").collect()
    vmap = {r.doc: r for r in vrows}
    bmap = {r.doc: r for r in brows}
    for doc in DOCS:
        v, b = vmap[doc], bmap[doc]
        assert v.passed == b.passed, f"doc={doc!r}: variant={v.passed} batch={b.passed}"
        if v.passed is False:
            vk = sorted((x.keyword, x.instance_path) for x in v.violations)
            bk = sorted((x.keyword, x.instance_path) for x in b.violations)
            assert vk == bk, f"doc={doc!r}: {vk} != {bk}"


def test_variant_plan_is_jvm_only(spark, docs_df):
    eng = ConstraintEngine()
    compiled = eng.compile(SCHEMAS[0])
    out = compiled.apply_json(docs_df, "doc")  # default prefers variant
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_nested_schema_and_arrays_stay_variant(spark, docs_df):
    """Nested-object schemas lower onto variant since round 2
    (to_json(variant) key sets); round 3 adds dynamic ARRAYS
    (array<variant> extraction) — only tuple items / unevaluated*
    still fall back."""
    eng = ConstraintEngine()
    nested = {"properties": {"a": {"properties": {"b": {"type": "integer"}}}}}
    compiled = eng.compile(nested)
    out_v = compiled.apply_json(docs_df, "doc")
    assert _route(compiled) == ("variant", None)
    got = {r.doc: r.passed for r in out_v.collect()}
    assert got['{"a": {"nested": 1}}'] is True
    assert got['{"a": 5}'] is True  # properties vacuous on non-object

    arrays = {"items": {"type": "integer"}}
    compiled2 = eng.compile(arrays)
    out_a = compiled2.apply_json(docs_df, "doc")
    assert _route(compiled2) == ("variant", None)
    got2 = {r.doc: r.passed for r in out_a.collect()}
    assert got2["[1, 2]"] is True and got2['"plain"'] is True
    assert got2['[1, "x"]'] is False

    tuple_items = {"items": [{"type": "integer"}]}  # 2019-09 form
    compiled3 = eng.compile(tuple_items, validate_schema=False)
    compiled3.apply_json(docs_df, "doc")
    route, reason = _route(compiled3)
    assert route == "batch" and "tuple items" in reason, reason


def test_variant_random_schema_sweep(spark, docs_df):
    """Seeded random flat schemas: wherever the variant subset lowers,
    its verdicts must match the batch evaluator on every document."""
    rng = random.Random(3)
    leaves = [
        {"type": "integer"}, {"type": "number"}, {"type": "string"},
        {"type": "boolean"}, {"type": "object"}, {"type": ["integer", "string"]},
        {"minimum": 0}, {"maximum": 20}, {"exclusiveMinimum": 1},
        {"minLength": 1}, {"maxLength": 4}, {"pattern": "^[a-z]"},
        {"enum": [10, "s", True, None]}, {"const": 17}, {"multipleOf": 5},
        {"required": ["k"]}, {"minProperties": 1}, {"maxProperties": 2},
        True, False,
    ]

    def rand_schema(depth=0):
        # depth 3 exercises the round-2 NESTED-object lowering
        # (properties under properties stay on the variant path)
        if depth >= 3 or rng.random() < 0.35:
            return rng.choice(leaves)
        kind = rng.choice(["allOf", "anyOf", "oneOf", "not", "props", "ite"])
        if kind == "not":
            return {"not": rand_schema(depth + 1)}
        if kind == "props":
            return {"properties": {
                k: rand_schema(depth + 1)
                for k in rng.sample(["k", "name", "x", "a", "nested"], rng.randint(1, 3))
            }}
        if kind == "ite":
            return {"if": rand_schema(depth + 1), "then": rand_schema(depth + 1),
                    "else": rand_schema(depth + 1)}
        return {kind: [rand_schema(depth + 1) for _ in range(rng.randint(1, 3))]}

    eng = ConstraintEngine()
    lowered = 0
    for _ in range(60):
        schema = rand_schema()
        compiled = eng.compile(schema if isinstance(schema, bool) else dict(schema))
        v_df = compiled.apply_json(docs_df, "doc")
        if _route(compiled)[0] != "variant":
            continue
        lowered += 1
        got = [r.passed for r in v_df.select("passed").collect()]
        want = [
            r.passed
            for r in compiled.apply_json(docs_df, "doc", prefer_variant=False)
            .select("passed").collect()
        ]
        assert got == want, f"schema={schema}"
    assert lowered >= 20, f"only {lowered} schemas lowered — generator too narrow"


def test_big_float_bound_falls_back_to_exact_batch(spark):
    """ADVICE r5: a float bound with |b| >= 1e20 must NOT take the
    double-only variant compare — a doc like 10^20+1 is an exact
    DECIMAL on the variant path (exact int in batch) and the double
    extraction rounds it onto the bound. The lowerer raises
    CannotLower and the engine's batch fallback yields the exact
    verdict."""
    docs = spark.createDataFrame(
        [('{"k": 100000000000000000001}',),
         ('{"k": 100000000000000000000}',),
         ('{"k": 99999999999999999999}',),
         ('{"k": 1e20}',)],
        "doc string",
    )
    schema = {"properties": {"k": {"exclusiveMinimum": 1e20}}}
    eng = ConstraintEngine()
    compiled = eng.compile(schema)
    got = {r.doc: r.passed for r in compiled.apply_json(docs, "doc").collect()}
    route, reason = _route(compiled)
    assert route == "batch" and "beyond decimal(38,18)" in reason, reason
    assert got['{"k": 100000000000000000001}'] is True
    assert got['{"k": 100000000000000000000}'] is False  # equals the bound
    assert got['{"k": 99999999999999999999}'] is False
    assert got['{"k": 1e20}'] is False


def test_non_string_schema_keyword_tolerated(spark, docs_df):
    """ADVICE r5: {"$schema": 5} must not raise TypeError at compile —
    the lowerer now ignores non-string $schema exactly like the
    evaluator's isinstance gate, so verdicts match the batch path."""
    schema = {"$schema": 5, "type": "integer"}
    eng = ConstraintEngine()
    compiled = eng.compile(dict(schema), validate_schema=False)
    var = compiled.apply_json(docs_df, "doc")
    assert _route(compiled) == ("variant", None)
    batch = compiled.apply_json(docs_df, "doc", prefer_variant=False)
    vmap = {r.doc: r.passed for r in var.collect()}
    bmap = {r.doc: r.passed for r in batch.collect()}
    assert vmap == bmap
    assert vmap["17"] is True and vmap['"plain"'] is False

    nested = {"properties": {"k": {"$schema": 7, "type": "integer"}}}
    compiled2 = eng.compile(dict(nested), validate_schema=False)
    var2 = compiled2.apply_json(docs_df, "doc")
    assert _route(compiled2) == ("variant", None)
    batch2 = compiled2.apply_json(docs_df, "doc", prefer_variant=False)
    assert (
        {r.doc: r.passed for r in var2.collect()}
        == {r.doc: r.passed for r in batch2.collect()}
    )


def test_static_dynamic_ref_lowers_on_variant(spark, docs_df):
    """Round 5: a $dynamicRef whose anchor has a single owner resolves
    statically and lowers inline like $ref — JVM-only plan, verdicts
    and violation sites identical to the batch evaluator."""
    schema = {
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "$id": "https://v.example/dyn-static",
        "$defs": {"T": {"$dynamicAnchor": "T",
                        "type": "integer", "minimum": 0}},
        "properties": {"k": {"$dynamicRef": "#T"}},
    }
    eng = ConstraintEngine()
    compiled = eng.compile(schema)
    var = compiled.apply_json(docs_df, "doc")
    assert _route(compiled) == ("variant", None)  # must NOT refuse
    batch = compiled.apply_json(docs_df, "doc", prefer_variant=False)
    vmap = {r.doc: r for r in var.select("doc", "passed", "violations").collect()}
    bmap = {r.doc: r for r in batch.select("doc", "passed", "violations").collect()}
    for doc in DOCS:
        v, b = vmap[doc], bmap[doc]
        assert v.passed == b.passed, f"doc={doc!r}: {v.passed} != {b.passed}"
        if v.passed is False:
            vk = sorted((x.keyword, x.instance_path) for x in v.violations)
            bk = sorted((x.keyword, x.instance_path) for x in b.violations)
            assert vk == bk, f"doc={doc!r}: {vk} != {bk}"


def test_genuine_dynamic_ref_falls_back_on_variant(spark, docs_df):
    """Two resources own the anchor -> runtime rebinding is genuinely
    dynamic; the variant lowerer must refuse (batch handles it)."""
    schema = {
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "$id": "https://v.example/dyn-root",
        "$defs": {
            "strict": {"$dynamicAnchor": "T", "type": "integer"},
            "inner": {
                "$id": "https://v.example/dyn-inner",
                "$defs": {"default": {"$dynamicAnchor": "T"}},
                "properties": {"k": {"$dynamicRef": "#T"}},
            },
        },
        "$ref": "https://v.example/dyn-inner",
    }
    eng = ConstraintEngine()
    compiled = eng.compile(schema)
    # the engine refuses the variant rung and falls back to batch
    out = compiled.apply_json(docs_df, "doc")
    route, reason = _route(compiled)
    assert route == "batch" and "rebinds dynamically" in reason, reason
    assert out.count() == len(DOCS)


def test_cyclic_recursive_ref_falls_back_on_variant(spark, docs_df):
    """$recursiveRef '#' back to a root that re-references itself is a
    true cycle — no finite Column expression exists; must refuse."""
    schema = {
        "$schema": "https://json-schema.org/draft/2019-09/schema",
        "$id": "https://v.example/rec-cycle",
        "type": "object",
        "properties": {"a": {"$recursiveRef": "#"}},
    }
    eng = ConstraintEngine()
    compiled = eng.compile(schema)
    out = compiled.apply_json(docs_df, "doc")
    route, reason = _route(compiled)
    assert route == "batch" and "cyclic $recursiveRef" in reason, reason
    assert out.count() == len(DOCS)


UEI_DOCS = ['[1, 2]', '[1, "x"]', '["a"]', '[]', '[1, 2, 3, 4]', '[null]',
            '[true, 1, "s"]', '"notarray"', '5', 'null', '{}', '[1.5, 2]',
            None]

UEI_CASES = [
    {"unevaluatedItems": False},
    {"unevaluatedItems": {"type": "integer"}},
    {"prefixItems": [{"type": "integer"}], "unevaluatedItems": False},
    {"prefixItems": [{"type": "integer"}, {"type": "string"}],
     "unevaluatedItems": {"type": "boolean"}},
    # a FAILED prefix application leaves the item unevaluated -> uei
    # also applies to it (valid-aware coverage)
    {"prefixItems": [{"type": "integer"}], "unevaluatedItems": {"type": "string"}},
    {"items": {"type": "integer"}, "unevaluatedItems": {"type": "string"}},
    {"items": True, "unevaluatedItems": False},
    {"prefixItems": [{"type": "integer"}], "unevaluatedItems": True},
    # 2020-12: the elements contains matches count as evaluated, per row
    {"contains": {"type": "integer"}, "unevaluatedItems": False},
    # in-place applicators pass up the marks of the children that pass
    {"allOf": [{"minItems": 0}], "unevaluatedItems": False},
    # 2019-09 tuple forms; contains is annotation-inert there
    {"$schema": "https://json-schema.org/draft/2019-09/schema",
     "items": [{"type": "integer"}],
     "unevaluatedItems": {"type": "string"}},
    {"$schema": "https://json-schema.org/draft/2019-09/schema",
     "items": [{"type": "integer"}],
     "additionalItems": {"type": "number"},
     "unevaluatedItems": False},
    {"$schema": "https://json-schema.org/draft/2019-09/schema",
     "contains": {"type": "integer"},
     "unevaluatedItems": {"type": "integer"}},
]


@pytest.mark.parametrize("schema", UEI_CASES, ids=[str(i) for i in range(len(UEI_CASES))])
def test_unevaluated_items_gated_lowering(spark, schema):
    """unevaluatedItems lowers on the variant path beside every sibling
    that marks items (prefixItems, items, contains, in-place
    applicators), with the batch route's verdicts and ordered records."""
    df = spark.createDataFrame([(d,) for d in UEI_DOCS], "doc string")
    eng = ConstraintEngine()
    compiled = eng.compile(dict(schema), validate_schema=False)
    var = compiled.apply_json(df, "doc")
    assert _route(compiled) == ("variant", None), f"expected {schema} to lower"
    batch = compiled.apply_json(df, "doc", prefer_variant=False)
    vmap = {r.doc: r for r in var.select("doc", "passed", "violations").collect()}
    bmap = {r.doc: r for r in batch.select("doc", "passed", "violations").collect()}
    for d in UEI_DOCS:
        v, b = vmap[d], bmap[d]
        assert v.passed == b.passed, f"{schema} doc={d!r}: {v.passed} != {b.passed}"
        vk = [tuple(x) for x in v.violations or []]
        bk = [tuple(x) for x in b.violations or []]
        assert vk == bk, f"{schema} doc={d!r}: {vk} != {bk}"
