"""Predicate differential: ``compile_valid``, the evaluator's
predicate mode, must agree with the fixture verdicts and with the full
walk on every schema, including those reading annotations or the
dynamic scope (unevaluated*, $dynamicRef, $recursiveRef), custom
metaschemas and 2019-09 tuple ``items``."""

from __future__ import annotations

import random

import pytest

from jschon_spark.evaluator import Evaluator
from jschon_spark.fastpath import compile_valid
from jschon_spark.schema.catalog import SchemaCatalog
from tests.keyword_cases import CASES, FORMAT_CASES, LEGACY_2019_CASES


def _compile(schema, assert_formats=False):
    catalog = SchemaCatalog()
    base = catalog.register(schema)
    ev = Evaluator(catalog, assert_formats=assert_formats)
    return compile_valid(schema, catalog, base, assert_formats, ev.formats), ev, base


@pytest.mark.parametrize(
    "case", CASES + LEGACY_2019_CASES, ids=lambda c: c["description"]
)
def test_fastpath_matches_evaluator(case):
    schema = case["schema"]
    fast, ev, base = _compile(schema)
    assert fast is not None
    for data, want in case["tests"]:
        assert fast(data) is want, f"{schema} {data!r}"


@pytest.mark.parametrize("case", FORMAT_CASES, ids=lambda c: c["description"])
def test_fastpath_formats(case):
    fast, ev, base = _compile(case["schema"], assert_formats=True)
    assert fast is not None
    for data, want in case["tests"]:
        assert fast(data) is want


FORMERLY_DECLINED = [
    {"unevaluatedProperties": False},
    {"allOf": [{"properties": {"a": {"unevaluatedItems": False}}}]},
    {"properties": {"k0": True}, "anyOf": [{"required": ["k1"]}, {"properties": {"k2": {"type": "string"}}}],
     "unevaluatedProperties": {"type": "integer"}},
    {"prefixItems": [{"type": "integer"}], "contains": {"type": "string"}, "unevaluatedItems": False},
    {"$id": "https://example.test/tree", "$dynamicAnchor": "node",
     "properties": {"k0": {"$dynamicRef": "#node"}}, "required": ["k0"]},
    {"$schema": "https://json-schema.org/draft/2019-09/schema", "$recursiveAnchor": True,
     "properties": {"k0": {"$recursiveRef": "#"}}, "maxProperties": 2},
    {"$schema": "https://json-schema.org/draft/2019-09/schema",
     "items": [{"type": "integer"}, {"type": "string"}], "additionalItems": False,
     "unevaluatedItems": False},
    {"$schema": "https://example.test/custom-meta", "type": "string", "format": "date"},
    # $ref resolves on first visit: a dangling one in a branch no
    # instance enters fails neither the compile nor the predicate
    {"if": False, "then": {"$ref": "https://nowhere.invalid/x"}},
]


def test_fastpath_compiles_formerly_declined_schemas():
    """Schemas reading annotations or the dynamic scope, custom
    metaschemas and 2019-09 tuple items get a predicate too, and it
    agrees with the full walk on random instances."""
    rng = random.Random(11)
    for schema in FORMERLY_DECLINED:
        fast, ev, base = _compile(schema)
        assert fast is not None
        for _ in range(200):
            v = _rand_val(rng)
            assert fast(v) is ev.validate(schema, v).valid, f"{schema} {v!r}"


def test_batch_route_with_a_dangling_ref_in_an_unentered_branch(spark):
    from jschon_spark.engine import ConstraintEngine

    schema = {"if": False, "then": {"$ref": "https://nowhere.invalid/x"}}
    df = spark.createDataFrame([('{"a": 1}',), ("[]",)], "doc string")
    out = ConstraintEngine().compile(schema).apply_json(df, "doc", prefer_variant=False)
    assert [r.passed for r in out.orderBy("doc").collect()] == [True, True]


def test_fastpath_recursive_ref():
    schema = {
        "$defs": {"node": {
            "type": "object",
            "properties": {"v": {"type": "integer"}, "next": {"$ref": "#/$defs/node"}},
            "required": ["v"],
        }},
        "$ref": "#/$defs/node",
    }
    fast, ev, base = _compile(schema)
    assert fast is not None
    deep_ok = {"v": 1}
    node = deep_ok
    for i in range(50):
        node["next"] = {"v": i}
        node = node["next"]
    assert fast(deep_ok) is True
    bad = {"v": 1, "next": {"v": "x"}}
    assert fast(bad) is False


def _rand_val(rng, depth=0):
    choices = [None, True, False, rng.randint(-5, 5), rng.random() * 10,
               "", "abc", "zz9"]
    if depth < 2:
        choices += [
            [_rand_val(rng, depth + 1) for _ in range(rng.randint(0, 3))],
            {f"k{rng.randint(0,3)}": _rand_val(rng, depth + 1) for _ in range(rng.randint(0, 3))},
        ]
    return rng.choice(choices)


def test_fastpath_fuzz_against_evaluator():
    rng = random.Random(7)
    schemas = [c["schema"] for c in CASES]
    for schema in schemas:
        fast, ev, base = _compile(schema)
        for _ in range(30):
            v = _rand_val(rng)
            want = ev.validate(schema, v).valid
            assert fast(v) is want, f"{schema} {v!r}"


# ---- Hypothesis: random schemas x random instances -------------------------
from hypothesis import given, settings, strategies as st

_leaf_schemas = st.sampled_from([
    {"type": "integer"}, {"type": "string"}, {"type": "number"},
    {"type": "boolean"}, {"type": "array"}, {"type": "object"},
    {"minimum": 0}, {"maximum": 3}, {"exclusiveMinimum": -1},
    {"minLength": 1}, {"maxLength": 2}, {"pattern": "^a"},
    {"enum": [1, "a", True, None]}, {"const": 2}, {"multipleOf": 2},
    {"minItems": 1}, {"maxItems": 2}, {"uniqueItems": True},
    {"required": ["k0"]}, {"minProperties": 1}, {"maxProperties": 2},
    True, False,
])


def _combine(children):
    kind, subs = children
    if kind == "allOf":
        return {"allOf": subs}
    if kind == "anyOf":
        return {"anyOf": subs}
    if kind == "oneOf":
        return {"oneOf": subs}
    if kind == "not":
        return {"not": subs[0]}
    if kind == "props":
        return {"properties": {f"k{i}": s for i, s in enumerate(subs)}}
    if kind == "items":
        return {"items": subs[0]}
    if kind == "ite":
        out = {"if": subs[0]}
        if len(subs) > 1:
            out["then"] = subs[1]
        if len(subs) > 2:
            out["else"] = subs[2]
        return out
    raise AssertionError(kind)


_schemas = st.recursive(
    _leaf_schemas,
    lambda inner: st.tuples(
        st.sampled_from(["allOf", "anyOf", "oneOf", "not", "props", "items", "ite"]),
        st.lists(inner, min_size=1, max_size=3),
    ).map(_combine),
    max_leaves=6,
)

_instances = st.recursive(
    st.none() | st.booleans() | st.integers(-5, 5)
    | st.floats(allow_nan=False, allow_infinity=False, min_value=-9, max_value=9)
    | st.sampled_from(["", "a", "ab", "zz9"]),
    lambda inner: st.lists(inner, max_size=3)
    | st.dictionaries(st.sampled_from(["k0", "k1", "k2"]), inner, max_size=3),
    max_leaves=5,
)


@settings(max_examples=300, deadline=None)
@given(_schemas, _instances)
def test_fastpath_random_schema_differential(schema, instance):
    """Two independent implementations — the closure compiler and the
    interpretive evaluator — must agree on every (schema, instance)."""
    fast, ev, base = _compile(schema if isinstance(schema, dict) else schema)
    assert fast(instance) is ev.validate(schema, instance).valid
