"""The valid-only predicate of the Arrow batch path.

``compile_valid`` is the predicate mode of the evaluator's compiled
keyword table (evaluator.py): the closures the full walk runs, called
so that they short-circuit and build no paths, violations or
annotation sets. The batch path runs it on every document and the full
walk only on the documents it rejects, so violation extraction costs in
proportion to the failure rate, not the corpus size.
"""

from __future__ import annotations

from typing import Any, Callable

from jschon_spark.evaluator import Evaluator
from jschon_spark.schema.catalog import SchemaCatalog


def compile_valid(
    schema: Any,
    catalog: SchemaCatalog,
    base_uri: str,
    assert_formats: bool = False,
) -> Callable[[Any], bool]:
    """``instance -> bool`` for ``schema`` registered in ``catalog`` at
    ``base_uri``."""
    return Evaluator(catalog, assert_formats).compile(schema, base_uri).valid
