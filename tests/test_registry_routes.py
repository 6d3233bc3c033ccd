"""Registered formats and keywords give the evaluator's verdict on every
route: typed Columns, variant Columns and the Arrow batch evaluator,
whose Python workers read the registry snapshot shipped with the UDF."""

from __future__ import annotations

import json
import sys

import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

from jschon_spark.engine import ConstraintEngine
from jschon_spark.evaluator import Evaluator
from jschon_spark.functions import registry

# the registered functions below run on Python workers, which cannot
# import this module: the UDF closure carries them by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _passed(df):
    return [r.passed for r in df.orderBy("i").select("passed").collect()]


def _routes(spark, subschema, values, ddl="string"):
    """Evaluator verdicts and the typed, variant and batch routes' for
    documents ``{"s": v}`` against ``{"properties": {"s": subschema}}``,
    and the route ``apply_typed`` took."""
    schema = {"properties": {"s": subschema}}
    ev = Evaluator(assert_formats=True)
    want = [ev.validate(schema, {"s": v}).valid for v in values]
    compiled = ConstraintEngine(assert_formats=True).compile(schema, validate_schema=False)
    typed = spark.createDataFrame(list(enumerate(values)), f"i int, s {ddl}")
    docs = spark.createDataFrame(
        [(i, json.dumps({"s": v})) for i, v in enumerate(values)], "i int, doc string")
    got = {
        "typed": _passed(compiled.apply_typed(typed, ["s"])),
        "variant": _passed(compiled.apply_json(docs, "doc")),
        "batch": _passed(compiled.apply_json(docs, "doc", prefer_variant=False)),
    }
    typed_route = compiled.explain()[("apply_typed", f"struct<s:{ddl}>")]["route"]
    return want, got, typed_route


def test_registered_format_reaches_the_batch_workers(spark):
    registry.format_validator("x-even")(lambda v: len(v) % 2 == 0)
    try:
        want, got, _ = _routes(spark, {"format": "x-even"}, ["ab", "abc", "xy"])
    finally:
        registry.unregister_format("x-even")
    assert want == [True, False, True]
    assert got == {route: want for route in got}


def test_custom_keyword_without_column_form_reaches_the_batch_workers(spark):
    registry.custom_keyword("x-notEqual")(lambda x: lambda v: v != x)
    try:
        want, got, _ = _routes(spark, {"x-notEqual": "c"}, ["a", "b", "c"])
    finally:
        registry.unregister_keyword("x-notEqual")
    assert want == [True, True, False]
    assert got == {route: want for route in got}


@pytest.mark.parametrize("with_column", [True, False], ids=["column_fn", "python_only"])
def test_registered_date_overrides_the_builtin_on_every_route(spark, with_column):
    column_fn = (lambda c: c == F.lit("today")) if with_column else None
    registry.format_validator("date", column_fn=column_fn)(lambda v: v == "today")
    try:
        want, got, _ = _routes(spark, {"format": "date"}, ["today", "2024-01-01", "x"])
    finally:
        registry.unregister_format("date")
    assert want == [True, False, False]
    assert got == {route: want for route in got}


def test_number_typed_format_is_never_skipped(spark):
    registry.format_validator(
        "x-nonneg", instance_types=("number",), column_fn=lambda c: c >= 0,
    )(lambda v: v >= 0)
    try:
        want, got, _ = _routes(spark, {"format": "x-nonneg"}, [1, -1, 0], ddl="bigint")
    finally:
        registry.unregister_format("x-nonneg")
    assert want == [True, False, True]
    assert got == {route: want for route in got}


def test_number_keyword_applies_to_integer_columns(spark):
    """A keyword registered for ("number",) runs on a typed bigint
    column, as the evaluator runs it on every JSON number."""
    registry.custom_keyword(
        "x-pos", instance_types=("number",), column_fn=lambda x, c, dtype: c > 0,
    )(lambda x: lambda v: v > 0)
    try:
        want, got, typed_route = _routes(spark, {"x-pos": True}, [1, -1], ddl="bigint")
    finally:
        registry.unregister_keyword("x-pos")
    assert want == [True, False]
    assert got == {route: want for route in got}
    assert typed_route == "typed"


def test_custom_keyword_skips_null_items_on_typed_arrays(spark):
    """A JSON null array item is not a number: the evaluator skips the
    keyword there, and so must the typed route."""
    registry.custom_keyword(
        "x-pos", instance_types=("number",), column_fn=lambda x, c, dtype: c > 0,
    )(lambda x: lambda v: v > 0)
    try:
        want, got, typed_route = _routes(
            spark, {"items": {"x-pos": True}}, [[1.0, None], [-1.0, None]],
            ddl="array<double>")
    finally:
        registry.unregister_keyword("x-pos")
    assert want == [True, False]
    assert got == {route: want for route in got}
    assert typed_route == "typed"


def test_custom_keyword_on_null_runs_on_batch(spark):
    """A keyword that applies to JSON null sees a value no typed or
    variant Column holds apart from an absent one: it runs on batch."""
    registry.custom_keyword(
        "x-nn", instance_types=("null", "number"), column_fn=lambda x, c, dtype: c > 0,
    )(lambda x: lambda v: v is None or v > 0)
    try:
        want, got, typed_route = _routes(spark, {"x-nn": True}, [1, -1, None], ddl="bigint")
    finally:
        registry.unregister_keyword("x-nn")
    assert want == [True, False, True]
    assert got == {route: want for route in got}
    assert typed_route == "batch"


@pytest.mark.parametrize("register", [registry.custom_keyword, registry.format_validator])
def test_instance_types_must_be_json_types(register):
    """The name "integer" is a `type` test, never an instance's JSON
    type: an entry naming it would never apply in the evaluator."""
    with pytest.raises(ValueError, match="integer"):
        register("x-int", instance_types=("integer",))
    assert "x-int" not in registry.KEYWORD_REGISTRY
    assert "x-int" not in registry.FORMAT_REGISTRY
