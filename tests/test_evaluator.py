"""Keyword conformance: the pure-Python evaluator vs the fixture corpus,
plus property-based invariants mirroring the reference's test style
(/root/reference/tests/test_validators.py with its isequal oracle)."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st

from jschon_spark.evaluator import Evaluator, json_equal, json_type, matches_type
from jschon_spark.schema.catalog import (
    pointer_escape,
    pointer_evaluate,
    pointer_unescape,
)
from tests.keyword_cases import CASES, FORMAT_CASES, LEGACY_2019_CASES


def _params(cases):
    out = []
    for case in cases:
        for i, (data, valid) in enumerate(case["tests"]):
            out.append(
                pytest.param(
                    case["schema"], data, valid,
                    id=f"{case['description']}#{i}",
                )
            )
    return out


@pytest.mark.parametrize("schema,data,valid", _params(CASES))
def test_keyword_case(schema, data, valid):
    assert Evaluator().validate(schema, data).valid is valid


@pytest.mark.parametrize("schema,data,valid", _params(LEGACY_2019_CASES))
def test_legacy_2019_case(schema, data, valid):
    assert Evaluator().validate(schema, data).valid is valid


@pytest.mark.parametrize("schema,data,valid", _params(FORMAT_CASES))
def test_format_assertion(schema, data, valid):
    assert Evaluator(assert_formats=True).validate(schema, data).valid is valid


def test_repeated_validate_registers_the_schema_once():
    ev = Evaluator()
    schema = {"properties": {"a": {"$ref": "#/$defs/n"}}, "$defs": {"n": {"minimum": 0}}}
    for i in range(1000):
        assert ev.validate(schema, {"a": i - 1}).valid is (i > 0)
    assert len(ev.catalog._resources) == 1


def test_violation_paths():
    out = Evaluator().validate(
        {"properties": {"a": {"items": {"minimum": 3}}}}, {"a": [5, 1]}
    )
    assert not out.valid
    assert [(v.keyword, v.instance_path, v.keyword_path) for v in out.errors] == [
        ("minimum", "/a/1", "/properties/a/items/minimum")
    ]


def test_escaped_property_pointer():
    out = Evaluator().validate(
        {"properties": {"a/b": {"type": "integer"}}}, {"a/b": "x"}
    )
    assert not out.valid
    assert out.errors[0].instance_path == "/a~1b"


# ---- property-based invariants ------------------------------------------

json_leaves = st.one_of(
    st.none(), st.booleans(),
    st.integers(min_value=-(10**9), max_value=10**9),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=20),
)
json_values = st.recursive(
    json_leaves,
    lambda inner: st.one_of(
        st.lists(inner, max_size=4),
        st.dictionaries(st.text(max_size=8), inner, max_size=4),
    ),
    max_leaves=10,
)


@given(json_values)
@settings(max_examples=200, deadline=None)
def test_json_equal_reflexive(v):
    assert json_equal(v, v)


@given(json_values, json_values)
@settings(max_examples=200, deadline=None)
def test_json_equal_symmetric(a, b):
    assert json_equal(a, b) == json_equal(b, a)


@given(json_values)
@settings(max_examples=100, deadline=None)
def test_type_partition(v):
    # every value has exactly one JSON type among the six
    t = json_type(v)
    assert t in ("null", "boolean", "number", "string", "array", "object")
    others = {"null", "boolean", "number", "string", "array", "object"} - {t}
    assert all(not matches_type(v, o) or o == "number" for o in others - {"integer"})


@given(json_values)
@settings(max_examples=100, deadline=None)
def test_enum_membership_matches_evaluator(v):
    ev = Evaluator()
    assert ev.validate({"enum": [v]}, v).valid
    assert ev.validate({"const": v}, v).valid


@given(st.integers(-1000, 1000), st.integers(1, 30))
@settings(max_examples=100, deadline=None)
def test_multiple_of_int_oracle(x, m):
    got = Evaluator().validate({"multipleOf": m}, x).valid
    assert got == (x % m == 0)


@given(st.floats(allow_nan=False, allow_infinity=False, min_value=-1e6, max_value=1e6),
       st.floats(min_value=-1e6, max_value=1e6, allow_nan=False))
@settings(max_examples=100, deadline=None)
def test_bounds_oracle(x, m):
    ev = Evaluator()
    assert ev.validate({"maximum": m}, x).valid == (x <= m)
    assert ev.validate({"exclusiveMinimum": m}, x).valid == (x > m)


@given(st.text(max_size=10))
@settings(max_examples=100, deadline=None)
def test_pointer_escape_roundtrip(s):
    assert pointer_unescape(pointer_escape(s)) == s


def test_pointer_evaluate():
    doc = {"a": [{"b/c": 1}, 2], "": 3, "x~y": 4}
    assert pointer_evaluate(doc, "/a/0/b~1c") == 1
    assert pointer_evaluate(doc, "/a/1") == 2
    assert pointer_evaluate(doc, "/") == 3
    assert pointer_evaluate(doc, "/x~0y") == 4
    assert pointer_evaluate(doc, "") == doc
    with pytest.raises(KeyError):
        pointer_evaluate(doc, "/zz")
