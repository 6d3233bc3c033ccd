"""Vectorized Arrow-batch evaluator for dynamic JSON columns.

The sanctioned slow path (BASELINE.json: "vectorized pandas/Arrow UDF
batch evaluator, never a per-row Python call" — meaning never a
row-at-a-time Spark ``udf()``): one Python invocation per Arrow batch;
inside the batch, the from-scratch evaluator (jschon_spark.evaluator)
runs over a pandas Series. The schema dict is shipped once in the
closure (Spark broadcasts task binaries) and compiled once per Python
worker into the evaluator's Program, whose nodes compile on first
visit, mirroring the reference's compile-once keywords
(jschon's vocabulary/validation.py:136-138).
"""

from __future__ import annotations

import json
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.evaluator import MESSAGES, VALUE_CHARS
from jschon_spark.functions import registry
from jschon_spark.lowering.keywords import VIOLATION_TYPE
from jschon_spark.session import memo

RESULT_TYPE = T.StructType(
    [
        T.StructField("passed", T.BooleanType()),
        T.StructField("violations", T.ArrayType(VIOLATION_TYPE)),
    ]
)


def make_batch_validator(
    schema: Any,
    schema_store: list | None = None,
    assert_formats: bool = False,
) -> Column:
    """Build a pandas UDF Column factory for validating a JSON string column.

    ``schema_store`` is a list of auxiliary schema documents ($ref
    targets) to register alongside the main schema — plain dicts so the
    closure pickles cleanly; the catalog/evaluator are rebuilt once per
    executor, not per row.
    """
    store = schema_store or []
    # the worker's registries are empty: the registered formats and
    # keywords the schema can use travel in the closure
    extensions = registry.snapshot(schema, store)

    @F.pandas_udf(RESULT_TYPE)
    def validate_batch(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        # iterator form: the program is built ONCE per task (and
        # memoized per Python worker via _compiled), not per Arrow batch
        program, parse = _compiled(schema, store, assert_formats, extensions)

        for docs in it:
            passed = []
            violations = []
            for doc in docs:
                if doc is None:
                    passed.append(None)
                    violations.append(None)
                    continue
                try:
                    instance = parse(doc)
                except ValueError:
                    passed.append(False)
                    violations.append(
                        [("", "", "", doc[:VALUE_CHARS], MESSAGES[""])]
                    )
                    continue
                if program.valid(instance):
                    passed.append(True)
                    violations.append([])
                    continue
                # failing doc: full walk for the violation records
                out = program.outcome(instance)
                passed.append(out.valid)
                violations.append(
                    [
                        (v.keyword, v.instance_path, v.keyword_path, v.value, v.error)
                        for v in out.errors
                    ]
                )
            yield pd.DataFrame({"passed": passed, "violations": violations})

    # asNondeterministic (guide §4.4): the UDF IS deterministic, but a
    # downstream filter on its result (e.g. ``~passed``) otherwise gets
    # pushed below a repartition WITH A COPY of the UDF — the whole
    # corpus then pays Python validation twice, once of it in the
    # pre-fan-out single-task scan stage (measured: props_json_
    # violations ran validate_batch over all rows in 1 task before the
    # exchange, then again after). Non-determinism pins a single
    # evaluation above the exchange.
    return validate_batch.asNondeterministic()


def _compiled(schema: Any, store: list, assert_formats: bool,
              extensions: registry.Extensions | None = None) -> tuple:
    """Per-worker memo of (program, strict_parser) keyed by schema
    content and the registry snapshot (shipped, or else taken here) —
    repeated tasks over the same schema reuse the compiled program, and
    a format or keyword registered since compiles anew."""
    if extensions is None:
        extensions = registry.snapshot(schema, store)
    key = json.dumps(
        {"s": schema, "x": store, "f": assert_formats},
        sort_keys=True, default=str,
    )
    return memo(("batch", key, extensions.key),
                lambda: _compile(schema, store, assert_formats, extensions))


def _compile(schema: Any, store: list, assert_formats: bool,
             extensions: registry.Extensions) -> tuple:
    from jschon_spark.evaluator import Evaluator
    from jschon_spark.schema.catalog import SchemaCatalog, parse_json_strict

    catalog = SchemaCatalog()
    for extra in store:
        catalog.register(extra)
    base = catalog.register(schema)
    # program.valid, the predicate, runs on every document; the full
    # walk (violation extraction) only on the ones it rejects
    program = Evaluator(catalog, assert_formats, extensions).compile(schema, base)
    return program, parse_json_strict

