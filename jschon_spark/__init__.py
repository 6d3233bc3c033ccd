"""jschon_spark — a PySpark-native schema + constraint validation engine.

Reimplements what marksparkza/jschon computes — JSON Schema keyword
semantics (drafts 2020-12), per-document pass/fail verdicts, and
JSON-pointer-addressed violation records — as a compiled constraint DAG
over Spark DataFrames, plus the table-level data-quality operators the
north rule adds (column stats, uniqueness, referential, distribution
drift) and large-scale corpus utilities (dedup, similarity, text QA).

Design (see SURVEY.md):
  * schemas compile ONCE on the driver (``schema.catalog`` /
    ``schema.compile``) — reference analogue: jschon's Catalog +
    JSONSchema construction (/root/reference/jschon/jsonschema.py:27-125)
  * typed rows lower to pure ``pyspark.sql.Column`` expressions
    (``lowering.columns``) so the whole keyword pass fuses into one
    whole-stage-codegen'd scan
  * dynamic JSON lowers onto Spark 4 VariantType (``lowering.variant``);
    what no Column route expresses runs on a vectorized Arrow batch
    evaluator (``lowering.batch`` driving ``evaluator.Evaluator``) —
    never a per-row Python UDF. ``CompiledSchema`` picks the route
    (typed → variant → batch) and ``explain()`` says why
  * results mirror jschon's output model: a verdict column (``flag``
    format) and exploded violation rows (``basic`` format)
    (/root/reference/jschon/output.py:39-70)
"""

from jschon_spark.session import get_spark
from jschon_spark.schema.catalog import CatalogError, SchemaCatalog
from jschon_spark.engine import ConstraintEngine, CompiledSchema

__all__ = [
    "get_spark",
    "CatalogError",
    "SchemaCatalog",
    "ConstraintEngine",
    "CompiledSchema",
]

__version__ = "0.1.0"
