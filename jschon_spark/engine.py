"""ConstraintEngine — the public compile/apply API.

Reference analogue: ``create_catalog()`` + ``JSONSchema(...)`` +
``schema.evaluate(JSON(instance))``
(/root/reference/jschon/__init__.py:27-53,
/root/reference/jschon/jsonschema.py:27-125,191-220), reshaped for
Spark: compile once on the driver, choose a lowering, evaluate a whole
DataFrame per call.

Lowering choice:
  1. typed rows → pure Column expressions (whole-stage codegen) when
     every keyword lowers;
  2. otherwise → vectorized Arrow batch evaluator over the row
     re-serialized as JSON (or a native JSON string column).

Caching: ``compiled(schema, assert_formats)`` memoizes a fresh engine's
compile in the session memo (``session.memo``) under the schema's
content fingerprint, ``assert_formats`` and the registry version. That
memo is dropped when the JVM gateway changes, because the lowered
Columns it reaches die with that JVM. Each ``CompiledSchema`` memoizes
its own lowerings (hundreds of py4j calls each) per input layout.
``release_caches()`` clears neither.
"""

from __future__ import annotations

import copy
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.functions import registry
from jschon_spark.lowering.batch import validate_json_column
from jschon_spark.lowering.columns import CannotLower, ColumnLowerer, VIOLATION_DDL
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
        self._store = [schema]
        # Column trees are immutable expression handles, independent of
        # any DataFrame; with the catalog fixed, lowering is a pure
        # function of the input layout
        self._lowered: dict = {}

    def _lower_once(self, key: tuple, lower) -> Any:
        """``lower()`` memoized under ``key``; a refusal as CannotLower."""
        if key not in self._lowered:
            try:
                self._lowered[key] = lower()
            except CannotLower:
                self._lowered[key] = CannotLower
        return self._lowered[key]

    # -- typed path ---------------------------------------------------------
    def lower_columns(
        self, dtype: T.DataType, col: Column
    ) -> tuple[Column, Column]:
        """(valid, violations) Columns for a typed value; raises
        CannotLower if any keyword is outside the expression subset."""
        lowerer = ColumnLowerer(self.catalog, self.assert_formats)
        return lowerer.lower(self.schema, dtype, col, self.base_uri)

    def apply_typed(
        self,
        df: DataFrame,
        doc_cols: list[str] | None = None,
        keep_cols: list[str] | None = None,
    ) -> DataFrame:
        """Validate each row (as a JSON object of ``doc_cols``) and add
        ``passed:boolean`` + ``violations:array<struct>``.

        Falls back to the batch evaluator (row re-serialized with
        ``to_json``) when column lowering is impossible.
        """
        doc_cols = doc_cols or df.columns
        struct_type = T.StructType(
            [df.schema[c] for c in doc_cols]
        )
        row = F.struct(*[F.col(c) for c in doc_cols])
        hit = self._lower_once(
            ("typed", struct_type.simpleString(), tuple(doc_cols)),
            lambda: self.lower_columns(struct_type, row),
        )
        if hit is not CannotLower:
            valid, viols = hit
            return df.withColumn("passed", valid).withColumn(
                "violations", viols.cast(VIOLATION_DDL)
            )
        with_json = df.withColumn("__doc", F.to_json(row))
        out = validate_json_column(
            with_json, "__doc", self.schema, self._store, self.assert_formats
        )
        return out.drop("__doc")

    # -- dynamic JSON path ----------------------------------------------------
    def apply_json(
        self, df: DataFrame, json_col: str, prefer_variant: bool = True
    ) -> DataFrame:
        """Validate a column of JSON documents.

        Flat schemas lower onto Spark 4 VariantType — the whole
        validation stays JVM-side even for dynamic JSON. Anything the
        variant subset can't express falls back to the Arrow batch
        evaluator (full keyword coverage).
        """
        if prefer_variant:
            from jschon_spark.lowering.variant import (
                VariantLowerer,
                with_variant_verdicts,
            )

            hit = self._lower_once(
                ("json", json_col),
                lambda: VariantLowerer(self.catalog, self.assert_formats).lower(
                    self.schema, F.col(json_col),
                    F.col("__variant_doc"), self.base_uri,
                ),
            )
            if hit is not CannotLower:
                return with_variant_verdicts(df, json_col, hit)
        return validate_json_column(
            df, json_col, self.schema, self._store, self.assert_formats
        )

    # -- output shapes (≅ jschon output formats, output.py:39-165) ------------
    @staticmethod
    def verdicts(validated: DataFrame, id_col: str) -> DataFrame:
        """``flag`` format: one row per document."""
        return validated.select(id_col, "passed")

    @staticmethod
    def violations_table(validated: DataFrame, id_col: str) -> DataFrame:
        """``basic`` format: one row per violation."""
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
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.when(~F.col("passed"), 1).otherwise(0)).alias("n_failed"),
            )
            .withColumn("passed", F.col("n_failed") == 0)
        )


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
        compiled = CompiledSchema(
            schema, self.catalog, base, self.assert_formats
        )
        # ship every registered resource to executors for $ref targets
        compiled._store = list(
            {id(s): s for s in self.catalog._resources.values()}.values()
        )
        return compiled


def compiled(schema: Any, assert_formats: bool = False) -> CompiledSchema:
    """``ConstraintEngine(assert_formats).compile(schema)``, memoized by
    content: a fresh engine has no catalog sources, so content and the
    registry version determine the compile. A private copy is compiled,
    so later edits to the caller's dict cannot reach the cached one."""
    return memo(
        ("compile", schema_fingerprint(schema), assert_formats, registry.VERSION),
        lambda: ConstraintEngine(assert_formats).compile(copy.deepcopy(schema)),
    )
