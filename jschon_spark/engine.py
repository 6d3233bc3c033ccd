"""ConstraintEngine — the public compile/apply API.

Reference analogue: ``create_catalog()`` + ``JSONSchema(...)`` +
``schema.evaluate(JSON(instance))``
(/root/reference/jschon/__init__.py:27-53,
/root/reference/jschon/jsonschema.py:27-125,191-220), reshaped for
Spark: compile once on the driver, choose a lowering, evaluate a whole
DataFrame per call.

Lowering choice: one ladder, in one place (``CompiledSchema._route``).
Per apply key the first rung that lowers wins:
  1. typed Columns (``apply_typed`` only): the keyword walker over the
     row's Spark types, in one whole-stage-codegen'd scan;
  2. VariantType: the same walker over the JSON document —
     ``apply_json``'s column, or ``apply_typed``'s row through
     ``columns.to_json`` — still JVM-only;
  3. the Arrow batch UDF over that document (every keyword).
A rung that cannot express a keyword raises ``CannotLower`` and the
next one is tried. The route and each refusal (the exception, with its
reason) are memoized per apply key; ``explain()`` reports them.

Caching: ``compiled(schema, assert_formats)`` memoizes a fresh engine's
compile in the session memo (``session.memo``) under the schema's
content fingerprint, ``assert_formats`` and the registry version. That
memo is dropped when the JVM gateway changes, because the lowered
Columns it reaches die with that JVM. Each ``CompiledSchema`` memoizes
its own routes (a lowering costs hundreds of py4j calls) per apply key.
``release_caches()`` clears neither.
"""

from __future__ import annotations

import copy
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.functions import registry
from jschon_spark.lowering.batch import make_batch_validator
from jschon_spark.lowering.columns import TypedNode, to_json
from jschon_spark.lowering.keywords import VIOLATION_DDL, CannotLower, KeywordWalker
from jschon_spark.lowering.variant import variant_node, with_variant_verdicts
from jschon_spark.plans.manifests import schema_fingerprint
from jschon_spark.schema.catalog import SchemaCatalog
from jschon_spark.session import memo


class CompiledSchema:
    """A schema compiled against the engine's catalog."""

    def __init__(
        self,
        schema: Any,
        catalog: SchemaCatalog,
        base_uri: str,
        assert_formats: bool = False,
    ) -> None:
        self.schema = schema
        self.catalog = catalog
        self.base_uri = base_uri
        self.assert_formats = assert_formats
        # every registered resource ships to batch workers ($ref targets)
        self._store = list({id(s): s for s in catalog._resources.values()}.values())
        # Column trees are immutable expression handles, independent of
        # any DataFrame; with the catalog fixed, lowering is a pure
        # function of the apply key
        self._routes: dict[tuple, tuple] = {}

    def _route(self, key: tuple, rungs: list) -> tuple:
        """``(name, columns, refused)`` of the first of ``rungs``
        (``(name, lower)`` pairs) whose ``lower()`` gives the (valid,
        violations) Columns, else ``("batch", None, refused)``; memoized
        under ``key`` with each refusal's CannotLower in ``refused``."""
        if key not in self._routes:
            refused: dict[str, CannotLower] = {}
            for name, lower in rungs:
                try:
                    self._routes[key] = (name, lower(), refused)
                    break
                except CannotLower as e:
                    refused[name] = e
            else:
                self._routes[key] = ("batch", None, refused)
        return self._routes[key]

    def explain(self) -> dict[tuple, dict]:
        """Per apply key so far — ``("apply_typed", <row struct type>)``
        or ``("apply_json", <column>)`` — the route taken and why each
        rung before it refused, e.g. ``{"route": "batch", "refused":
        {"variant": "cyclic $ref at /properties/a -> batch"}}``.
        ``prefer_variant=False`` calls make no choice and are not listed."""
        return {
            key: {"route": name, "refused": {rung: str(e) for rung, e in refused.items()}}
            for key, (name, _, refused) in self._routes.items()
        }

    def _walk(self, node) -> tuple[Column, Column]:
        valid, viols = KeywordWalker(self.catalog, self.assert_formats).walk(
            self.schema, node, self.base_uri, F.lit(""))
        # one order on every route: a document's records sorted once, here
        return valid, F.sort_array(viols)

    # -- typed path ---------------------------------------------------------
    def lower_columns(
        self, dtype: T.DataType, col: Column
    ) -> tuple[Column, Column]:
        """(valid, violations) Columns for a typed value; raises
        CannotLower if any keyword is outside the expression subset."""
        return self._walk(TypedNode(col, dtype))

    def apply_typed(self, df: DataFrame, doc_cols: list[str] | None = None) -> DataFrame:
        """Validate each row (as a JSON object of ``doc_cols``) and add
        ``passed:boolean`` + ``violations:array<struct>``.

        When the typed lowering refuses, the row is serialized with
        ``columns.to_json`` and takes the variant, else the batch, rung.
        """
        doc_cols = doc_cols or df.columns
        struct_type = T.StructType([df.schema[c] for c in doc_cols])
        row = F.struct(*[F.col(c) for c in doc_cols])
        route, columns, _ = self._route(("apply_typed", struct_type.simpleString()), [
            ("typed", lambda: self.lower_columns(struct_type, row)),
            ("variant", lambda: self._walk(variant_node("__doc"))),
        ])
        if route == "typed":
            valid, viols = columns
            return df.withColumn("passed", valid).withColumn(
                "violations", viols.cast(VIOLATION_DDL)
            )
        with_doc = df.withColumn("__doc", to_json(row))
        return self._apply(with_doc, "__doc", route, columns).drop("__doc")

    # -- dynamic JSON path ----------------------------------------------------
    def apply_json(
        self, df: DataFrame, json_col: str, prefer_variant: bool = True
    ) -> DataFrame:
        """Validate a column of JSON documents.

        Schemas in the variant subset lower onto Spark 4 VariantType —
        the whole validation stays JVM-side even for dynamic JSON.
        Anything else, or every schema when ``prefer_variant`` is
        False, runs on the Arrow batch evaluator (full keyword
        coverage).
        """
        if not prefer_variant:
            return self._apply(df, json_col, "batch", None)
        route, columns, _ = self._route(("apply_json", json_col), [
            ("variant", lambda: self._walk(variant_node(json_col))),
        ])
        return self._apply(df, json_col, route, columns)

    def _apply(self, df: DataFrame, json_col: str, route: str, columns) -> DataFrame:
        """Add ``passed``/``violations`` for the documents in
        ``json_col`` on the variant or batch ``route``."""
        if route == "variant":
            return with_variant_verdicts(df, json_col, columns)
        udf = make_batch_validator(self.schema, self._store, self.assert_formats)
        return (
            df.withColumn("__result", udf(F.col(json_col)))
            .withColumn("passed", F.col("__result.passed"))
            .withColumn("violations", F.col("__result.violations"))
            .drop("__result")
        )

    # -- output shapes (≅ jschon output formats, output.py:39-165) ------------
    @staticmethod
    def violations_table(validated: DataFrame, id_col: str) -> DataFrame:
        """``basic`` format: one row per violation record, ``id_col``
        then ``keyword``, ``instance_path``, ``keyword_path``,
        ``value`` and ``error`` (``evaluator.Violation``), in each
        document's record order. Every route writes the same records:
        the error from one message table, the value by one rule (the
        instance, or a count or a name; COVERAGE.md "Violation
        record")."""
        return (
            validated.filter(~F.col("passed"))
            .select(id_col, F.explode("violations").alias("v"))
            .select(
                id_col,
                F.col("v.keyword").alias("keyword"),
                F.col("v.instance_path").alias("instance_path"),
                F.col("v.keyword_path").alias("keyword_path"),
                F.col("v.value").alias("value"),
                F.col("v.error").alias("error"),
            )
        )

    @staticmethod
    def partition_verdicts(
        validated: DataFrame, partition_col: Column | str
    ) -> DataFrame:
        """Per-partition rollup: n_docs, n_failed, passed (all docs ok).

        jschon analogue: the root Result.valid aggregated
        (/root/reference/jschon/jsonschema.py:486-488) — one groupBy
        with map-side combine; shuffle carries one row per partition.
        """
        pc = F.col(partition_col) if isinstance(partition_col, str) else partition_col
        return (
            validated.groupBy(pc.alias("partition"))
            .agg(*verdict_counts())
            .withColumn("passed", F.col("n_failed") == 0)
        )


def verdict_counts() -> list[Column]:
    """The verdict rollup's aggregates over validated rows: ``n_docs``
    and ``n_failed`` (rows whose ``passed`` is False)."""
    return [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(~F.col("passed"), 1).otherwise(0)).alias("n_failed"),
    ]


class ConstraintEngine:
    """Driver-side compiler: register schemas, compile, evaluate."""

    def __init__(self, assert_formats: bool = False) -> None:
        self.catalog = SchemaCatalog()
        self.assert_formats = assert_formats

    def register(self, schema: Any, uri: str | None = None) -> str:
        return self.catalog.register(schema, uri)

    def compile(
        self, schema: Any, uri: str | None = None, validate_schema: bool = True
    ) -> CompiledSchema:
        if validate_schema:
            # the engine validates its own input with itself, mirroring
            # metaschema validation at JSONSchema construction
            # (/root/reference/jschon/jsonschema.py:187-189)
            from jschon_spark.schema.metaschema import validate_schema_document

            validate_schema_document(schema)
        base = self.catalog.register(schema, uri)
        return CompiledSchema(schema, self.catalog, base, self.assert_formats)


def compiled(schema: Any, assert_formats: bool = False) -> CompiledSchema:
    """``ConstraintEngine(assert_formats).compile(schema)``, memoized by
    content: a fresh engine has no catalog sources, so content and the
    registry version determine the compile. A private copy is compiled,
    so later edits to the caller's dict cannot reach the cached one."""
    return memo(
        ("compile", schema_fingerprint(schema), assert_formats, registry.VERSION),
        lambda: ConstraintEngine(assert_formats).compile(copy.deepcopy(schema)),
    )
