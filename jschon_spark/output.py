"""Output formats mirroring the reference's four formatters
(/root/reference/jschon/output.py:39-165) on Spark result DataFrames.

``flag`` and ``basic`` are table-shaped (stay distributed); ``detailed``
and ``hierarchical`` re-nest one document's violations driver-side —
they are per-document inspection views, small by construction, exactly
as the reference builds them from the Result tree.

A formatter registry mirrors ``output_formatter``
(/root/reference/jschon/output.py:22-36): register a callable
``(validated_df, id_col) -> DataFrame | dict``.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jschon_spark.schema.catalog import pointer_escape

_FORMATTERS: dict[str, Callable] = {}


def output_formatter(name: str):
    def deco(fn):
        _FORMATTERS[name] = fn
        return fn
    return deco


def create_output(validated: DataFrame, fmt: str, id_col: str = "url", **kw) -> Any:
    try:
        formatter = _FORMATTERS[fmt]
    except KeyError:
        raise ValueError(f"unknown output format {fmt!r}") from None
    return formatter(validated, id_col, **kw)


@output_formatter("flag")
def flag(validated: DataFrame, id_col: str) -> DataFrame:
    """{valid: bool} per document — one row each."""
    return validated.select(id_col, F.col("passed").alias("valid"))


@output_formatter("basic")
def basic(validated: DataFrame, id_col: str, schema: Any = None) -> DataFrame:
    """Flat violation list: the reference's basic 'errors' array
    (output.py:46-70) exploded to rows.

    With ``schema`` given, VALID documents additionally emit one row
    per schema annotation (keyword='annotation' rows mirror the
    reference's basic 'annotations' array for valid results,
    output.py:46-70 — annotations are compile-time constants in this
    engine, so the per-document list is the schema's annotation
    table)."""
    errors = (
        validated.filter(~F.col("passed"))
        .select(id_col, F.explode("violations").alias("v"))
        .select(
            id_col,
            F.col("v.keyword").alias("keyword"),
            F.col("v.keyword_path").alias("keywordLocation"),
            F.col("v.instance_path").alias("instanceLocation"),
            F.col("v.error").alias("error"),
        )
    )
    if schema is None:
        return errors
    anns = collect_annotations(schema)
    if not anns:
        return errors
    # annotation values are arbitrary JSON (bools, objects, arrays) —
    # serialize with json.dumps so the row carries JSON text ("true",
    # '{"a": 1}'), matching the reference's basic-output annotation
    # payloads, not Python repr ("True", "{'a': 1}")
    import json

    ann_lit = F.array(
        *[
            F.struct(
                F.lit(a["keyword"]).alias("keyword"),
                F.lit(a["keyword_path"]).alias("keywordLocation"),
                F.lit("").alias("instanceLocation"),
                F.lit(json.dumps(a["value"], sort_keys=True)).alias("error"),
            )
            for a in anns
        ]
    )
    ann_rows = (
        validated.filter(F.col("passed"))
        .select(id_col, F.explode(ann_lit).alias("a"))
        .select(
            id_col,
            F.col("a.keyword").alias("keyword"),
            F.col("a.keywordLocation").alias("keywordLocation"),
            F.col("a.instanceLocation").alias("instanceLocation"),
            F.col("a.error").alias("error"),
        )
    )
    return errors.unionByName(ann_rows)


def _doc_violations(validated: DataFrame, id_col: str, doc_id: Any):
    row = (
        validated.filter(F.col(id_col) == doc_id)
        .select("passed", "violations")
        .collect()
    )
    if not row:
        raise KeyError(f"document {doc_id!r} not found")
    return bool(row[0].passed), list(row[0].violations or [])


def _nest_by_path(violations, path_of, node_key: str, leaf) -> dict:
    """Recursive tree over JSON-pointer paths: every violation hangs off
    the trie node of its (instance or keyword) location; interior nodes
    exist for every proper prefix that occurs. Children sorted by path."""
    root: dict = {node_key: "", "errors": [], "children": {}}

    def child_at(path: str) -> dict:
        node = root
        if not path:
            return node
        acc = ""
        for seg in path.split("/")[1:]:
            acc = f"{acc}/{seg}"
            node = node["children"].setdefault(
                acc, {node_key: acc, "errors": [], "children": {}}
            )
        return node

    for v in violations:
        child_at(path_of(v))["errors"].append(leaf(v))

    def finalize(node: dict, is_root: bool = False) -> dict:
        kids = [finalize(node["children"][k]) for k in sorted(node["children"])]
        # collapse error-less single-child interior nodes, like the
        # reference's detailed formatter (output.py:87-89) — a chain
        # /properties/tags/items shows as one node, not three
        if not is_root and not node["errors"] and len(kids) == 1:
            return kids[0]
        out = {"valid": False, node_key: node[node_key]}
        if node["errors"]:
            out["errors"] = node["errors"]
        if kids:
            out["children"] = kids
        return out

    return finalize(root, is_root=True)


@output_formatter("detailed")
def detailed(validated: DataFrame, id_col: str, doc_id: Any = None) -> dict:
    """One document's violations re-nested RECURSIVELY by instance
    location (driver-side; per-document data is small by construction).
    Mirrors the reference's detailed format
    (/root/reference/jschon/output.py:73-103): a tree following the
    instance structure with per-node error arrays; ours keys nodes by
    instance JSON pointer rather than the Result graph."""
    passed, violations = _doc_violations(validated, id_col, doc_id)
    if passed:
        return {"valid": True, "instanceLocation": "", "errors": []}
    tree = _nest_by_path(
        sorted(violations, key=lambda v: (v.instance_path, v.keyword_path)),
        lambda v: v.instance_path,
        "instanceLocation",
        lambda v: {
            "keyword": v.keyword,
            "keywordLocation": v.keyword_path,
            "error": v.error,
            "value": v.value,
        },
    )
    return tree


ANNOTATION_KEYWORDS = (
    # /root/reference/jschon/vocabulary/annotation.py:19-73 — all
    # annotate-only (noassert); compile-time constants in our engine
    "title", "description", "default", "deprecated", "readOnly",
    "writeOnly", "examples", "format", "contentMediaType",
    "contentEncoding",
)

# Every keyword the engine evaluates or resolves — anything else in a
# schema is UNKNOWN and degrades to an annotation, as the reference's
# metaschema keyword lookup does (unknown name -> annotation class,
# SURVEY.md §2.4 "unknown-keyword degradation").
KNOWN_SCHEMA_KEYWORDS = frozenset({
    # core
    "$schema", "$id", "$vocabulary", "$anchor", "$dynamicAnchor", "$ref",
    "$dynamicRef", "$recursiveRef", "$recursiveAnchor", "$defs",
    "definitions", "$comment",
    # applicators
    "allOf", "anyOf", "oneOf", "not", "if", "then", "else",
    "dependentSchemas", "prefixItems", "items", "additionalItems",
    "contains", "properties", "patternProperties", "additionalProperties",
    "propertyNames", "unevaluatedItems", "unevaluatedProperties",
    # validation
    "type", "enum", "const", "multipleOf", "maximum", "exclusiveMaximum",
    "minimum", "exclusiveMinimum", "maxLength", "minLength", "pattern",
    "maxItems", "minItems", "uniqueItems", "maxContains", "minContains",
    "maxProperties", "minProperties", "required", "dependentRequired",
    # content
    "contentSchema",
})


# where subschemas live, by keyword shape — recursion must be
# location-aware so property NAMES are never mistaken for keywords and
# enum/const VALUES are never mistaken for subschemas
_NAME_MAP_KEYWORDS = frozenset({
    "properties", "patternProperties", "dependentSchemas", "$defs",
    "definitions",
})
_SCHEMA_VALUED_KEYWORDS = frozenset({
    "items", "additionalItems", "contains", "not", "if", "then", "else",
    "propertyNames", "additionalProperties", "unevaluatedItems",
    "unevaluatedProperties", "contentSchema",
})
_SCHEMA_LIST_KEYWORDS = frozenset({
    "allOf", "anyOf", "oneOf", "prefixItems",
    "items", "additionalItems",  # 2019-09 tuple form
})


def collect_annotations(schema, kpath: str = "") -> list[dict]:
    """Static annotation table of a schema document: one row per
    (keyword_path, keyword, value). Annotations are schema constants
    (zero runtime cost, SURVEY.md §2.4); this surfaces them the way the
    reference's verbose output does. Keywords the engine doesn't know
    degrade to annotations (reference: metaschema keyword lookup falls
    back to an annotation class), carrying their raw JSON value."""
    out: list[dict] = []
    if not isinstance(schema, dict):
        return out
    for kw, val in schema.items():
        at = f"{kpath}/{pointer_escape(kw)}"
        if kw in ANNOTATION_KEYWORDS:
            out.append({"keyword_path": at, "keyword": kw, "value": val})
        elif kw in _NAME_MAP_KEYWORDS and isinstance(val, dict):
            for name, sub in val.items():
                out.extend(collect_annotations(sub, f"{at}/{pointer_escape(name)}"))
        elif kw in _SCHEMA_VALUED_KEYWORDS and isinstance(val, dict):
            out.extend(collect_annotations(val, at))
        elif kw in _SCHEMA_LIST_KEYWORDS and isinstance(val, list):
            for i, item in enumerate(val):
                out.extend(collect_annotations(item, f"{at}/{i}"))
        elif kw not in KNOWN_SCHEMA_KEYWORDS:
            # unknown keyword: its VALUE is an opaque annotation payload
            out.append({"keyword_path": at, "keyword": kw, "value": val})
    return out


@output_formatter("verbose")
def verbose(
    validated: DataFrame, id_col: str, doc_id: Any = None, schema: Any = None
) -> dict:
    """One document's full evaluation view — valid flag, every violation
    (nested like ``detailed``) PLUS the schema's static annotations
    (title/description/... are compile-time constants in this engine, so
    the reference's per-node annotation output
    (/root/reference/jschon/output.py:107-127) reduces to the schema's
    annotation table attached to the per-document verdict)."""
    tree = detailed(validated, id_col, doc_id=doc_id)
    tree["annotations"] = [
        {
            "keywordLocation": a["keyword_path"],
            "keyword": a["keyword"],
            "annotation": a["value"],
        }
        for a in collect_annotations(schema or {})
    ]
    return tree


@output_formatter("hierarchical")
def hierarchical(validated: DataFrame, id_col: str, doc_id: Any = None) -> dict:
    """One document's violations re-nested RECURSIVELY by the KEYWORD
    evaluation path — the schema-structure view, mirroring the
    reference's hierarchical format
    (/root/reference/jschon/output.py:129-165): each node is an
    evaluation-path step (e.g. /properties/tags/items) with its own
    errors and the deeper keyword applications as children. Each error
    leaf keeps its instanceLocation, as the reference's nodes do."""
    passed, violations = _doc_violations(validated, id_col, doc_id)
    if passed:
        return {"valid": True, "evaluationPath": "", "errors": []}
    tree = _nest_by_path(
        sorted(violations, key=lambda v: (v.keyword_path, v.instance_path)),
        lambda v: v.keyword_path,
        "evaluationPath",
        lambda v: {
            "keyword": v.keyword,
            "instanceLocation": v.instance_path,
            "error": v.error,
            "value": v.value,
        },
    )
    return tree
