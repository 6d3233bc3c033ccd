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
    documents ``{"s": v}`` against ``{"properties": {"s": subschema}}``."""
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
    return want, got


def test_registered_format_reaches_the_batch_workers(spark):
    registry.format_validator("x-even")(lambda v: len(v) % 2 == 0)
    try:
        want, got = _routes(spark, {"format": "x-even"}, ["ab", "abc", "xy"])
    finally:
        registry.unregister_format("x-even")
    assert want == [True, False, True]
    assert got == {route: want for route in got}


def test_custom_keyword_without_column_form_reaches_the_batch_workers(spark):
    registry.custom_keyword("x-notEqual")(lambda x: lambda v: v != x)
    try:
        want, got = _routes(spark, {"x-notEqual": "c"}, ["a", "b", "c"])
    finally:
        registry.unregister_keyword("x-notEqual")
    assert want == [True, True, False]
    assert got == {route: want for route in got}


@pytest.mark.parametrize("with_column", [True, False], ids=["column_fn", "python_only"])
def test_registered_date_overrides_the_builtin_on_every_route(spark, with_column):
    column_fn = (lambda c: c == F.lit("today")) if with_column else None
    registry.format_validator("date", column_fn=column_fn)(lambda v: v == "today")
    try:
        want, got = _routes(spark, {"format": "date"}, ["today", "2024-01-01", "x"])
    finally:
        registry.unregister_format("date")
    assert want == [True, False, False]
    assert got == {route: want for route in got}


def test_number_typed_format_is_never_skipped(spark):
    registry.format_validator(
        "x-nonneg", instance_types=("number",), column_fn=lambda c: c >= 0,
    )(lambda v: v >= 0)
    try:
        want, got = _routes(spark, {"format": "x-nonneg"}, [1, -1, 0], ddl="bigint")
    finally:
        registry.unregister_format("x-nonneg")
    assert want == [True, False, True]
    assert got == {route: want for route in got}
