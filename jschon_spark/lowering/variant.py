"""Variant lowering: dynamic JSON validated entirely JVM-side.

Spark 4's VariantType lets a *dynamic* JSON column be validated with
pure Column algebra — no Python even for schemaless documents. The
engine runs the shared keyword walker (lowering/keywords.py) over
``variant_node(json_col)``, a :class:`VariantNode`, which reads values
through:

  * ``try_parse_json``          — invalid JSON → NULL (matches the
    reference's parse-time NaN/Infinity rejection, utils.py:66-70)
  * ``schema_of_variant(value)``— per-value runtime type tag, giving
    exactly the 6-type JSON model (§1.1): VOID/BOOLEAN/STRING/
    BIGINT|DECIMAL|DOUBLE|FLOAT/ARRAY/OBJECT
  * ``try_variant_get(v, path, T)`` — typed extraction; presence =
    non-NULL type tag, JSON null = 'VOID' (distinguishable!)
  * ``json_object_keys(doc)``   — the key set (nested levels
    re-serialize their variant with ``to_json``)
  * ``array<variant>`` / ``map<string, variant>`` extraction, so
    element and entry keywords lower onto higher-order functions.

Compound enum/const lower to recursive structural equality.
``unevaluatedProperties``/``unevaluatedItems`` are conservatively
GATED (lowerable when no in-place applicator can merge child
annotations at the same level); genuinely dynamic ``$dynamicRef``/
``$recursiveRef`` and keywords outside the variant vocabulary raise
CannotLower → the engine runs the Arrow batch evaluator. Violations are
the batch evaluator's records: the same message table, value rule and
sort. Numbers follow the one numeric rule of keywords.py; a
variant value always takes its general, runtime-tiered form.
"""

from __future__ import annotations

import operator
import re
from functools import cached_property
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jschon_spark.evaluator import MESSAGES
from jschon_spark.lowering.keywords import (
    DEC18,
    KEYWORDS,
    VIOLATION_DDL,
    CannotLower,
    _EMPTY_ARR,
    _check,
    _violation,
    is_integral,
    number_compare,
    number_equals,
    number_text,
)

_KEY_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _eq_value(v: Column, x: Any) -> Column:
    """Exact JSON equality of a variant value against a Python JSON
    literal — the compound enum/const lowering. Numeric equality is
    cross-type (1 == 1.0) and exact past 2^53; bools never equal
    numbers (type-tag gated, matching the evaluator's _json_equal)."""
    node = VariantNode(v)
    sv = node.tag
    if x is None:
        return sv == "VOID"
    if isinstance(x, bool):
        return (sv == "BOOLEAN") & F.coalesce(
            F.try_variant_get(v, "$", "boolean") == F.lit(x), F.lit(False)
        )
    if isinstance(x, (int, float)):
        return node.is_type("number") & F.coalesce(
            number_compare(node, operator.eq, x), F.lit(False)
        )
    if isinstance(x, str):
        return (sv == "STRING") & F.coalesce(
            F.try_variant_get(v, "$", "string") == F.lit(x), F.lit(False)
        )
    if isinstance(x, list):
        arr = F.try_variant_get(v, "$", "array<variant>")
        pred = sv.startswith("ARRAY") & arr.isNotNull() & (
            F.size(arr) == F.lit(len(x))
        )
        for i, xi in enumerate(x):
            # F.get: 0-based, NULL (not error) when out of bounds
            pred = pred & F.coalesce(_eq_value(F.get(arr, i), xi), F.lit(False))
        return pred
    if isinstance(x, dict):
        # key-count equality via the re-serialized key set (object key
        # order is irrelevant to JSON equality)
        pred = sv.startswith("OBJECT") & F.coalesce(
            F.size(F.json_object_keys(F.to_json(v))) == F.lit(len(x)),
            F.lit(False),
        )
        for k, xv in x.items():
            if not _KEY_RE.match(k):
                raise CannotLower(f"compound const key {k!r} -> batch")
            child = F.try_variant_get(v, f"$.{k}", "variant")
            pred = (
                pred
                & F.schema_of_variant(child).isNotNull()
                & F.coalesce(_eq_value(child, xv), F.lit(False))
            )
        return pred
    raise CannotLower(f"const of type {type(x).__name__} -> batch")


class VariantNode:
    """A VariantType value; ``raw`` is the document's JSON string at the
    root (its key set needs no re-serialization), None below it."""

    dtype = None  # no static Spark type
    fields = None  # the key set is dynamic
    number_kind = "variant"  # typed at run time

    def __init__(self, val: Column, raw: Column | None = None) -> None:
        self.col = val
        self.raw = raw
        self._tags: dict[str, Column] = {}

    def admit(self, schema: dict, dialect: str) -> None:
        allowed = KEYWORDS - {"uniqueItems"}
        if dialect != "2019-09":
            allowed = allowed - {"additionalItems"}
        unsupported = set(schema) - allowed
        if unsupported:
            raise CannotLower(f"variant lowering does not support {sorted(unsupported)}")

    def may_be(self, json_t: str) -> bool:
        return True

    # -- runtime type tags -------------------------------------------------------
    @cached_property
    def tag(self) -> Column:
        return F.schema_of_variant(self.col)

    def is_type(self, json_t: str) -> Column:
        # one Column per tag test and level
        if json_t not in self._tags:
            self._tags[json_t] = self._type_test(json_t)
        return self._tags[json_t]

    def _type_test(self, json_t: str) -> Column:
        sv = self.tag
        if json_t == "number":
            return sv.isin("BIGINT", "DOUBLE", "FLOAT") | sv.startswith("DECIMAL")
        if json_t == "integer":
            return self.is_type("number") & is_integral(self)
        if json_t == "object":
            return sv.startswith("OBJECT") | (sv == "OBJECT<>")
        if json_t == "array":
            return sv.startswith("ARRAY")
        return sv == {"null": "VOID", "boolean": "BOOLEAN", "string": "STRING"}[json_t]

    def guard(self, json_t: str, pred: Column) -> Column:
        # keyword applies only to its instance type; else vacuous
        if json_t in ("string", "number"):
            pred = F.coalesce(pred, F.lit(False))
        return F.when(self.is_type(json_t), pred).otherwise(F.lit(True))

    @cached_property
    def dval(self) -> Column:
        return F.try_variant_get(self.col, "$", "double")

    @cached_property
    def dec18(self) -> Column:
        return F.try_variant_get(self.col, "$", DEC18)

    @cached_property
    def string(self) -> Column:
        return F.try_variant_get(self.col, "$", "string")

    @cached_property
    def value(self) -> Column:
        """The instance as a violation's ``value`` (``evaluator.shown``):
        a BIGINT as its exact digits, any other number by the rule (the
        double read is NULL for null, arrays and objects)."""
        return F.when(self.tag.isin("STRING", "BOOLEAN", "BIGINT"), self.string).otherwise(
            number_text(self))

    # -- type / enum / const --------------------------------------------------
    def type_pred(self, wanted: list) -> Column:
        pred = self.is_type(wanted[0])
        for t in wanted[1:]:
            pred = pred | self.is_type(t)
        return pred

    def const_pred(self, x: Any) -> Column:
        if x is None:
            return self.is_type("null")
        if isinstance(x, bool):
            return self.is_type("boolean") & (
                F.try_variant_get(self.col, "$", "boolean") == x)
        if isinstance(x, (int, float)):
            return number_equals(self, x)
        if isinstance(x, str):
            return self.is_type("string") & (self.string == x)
        # compound member: recursive structural equality
        return F.coalesce(_eq_value(self.col, x), F.lit(False))

    def enum_pred(self, values: list) -> Column:
        pred = F.lit(False)
        for x in values:
            pred = pred | self.const_pred(x)
        return pred

    def check_string(self, pred: Column, keyword: str, ipath: Column, kpath: str,
                     error: str):
        """(valid, violations) of a string assertion; non-strings pass."""
        return _check(self.guard("string", pred), keyword, ipath, kpath, self.string, error)

    # -- arrays: try_variant_get(v, "$", "array<variant>") is a real Spark
    # array of per-element variants (NULL when not an array). JSON-null
    # elements are VOID-tagged variants, NOT SQL NULLs, so F.get()
    # returning NULL means out-of-bounds only.
    @cached_property
    def arr(self) -> Column:
        return F.try_variant_get(self.col, "$", "array<variant>")

    @cached_property
    def size(self) -> Column:
        return F.size(self.arr)

    def item(self, j: int):
        return VariantNode(F.get(self.arr, j)), self.is_type("array") & (self.size > j)

    def each_item(self, start: int, lower):
        def result(e: Column, i: Column) -> Column:
            v, w = lower(VariantNode(e), i + start)
            return F.struct(
                F.coalesce(v, F.lit(False)).alias("v"),
                w.cast(VIOLATION_DDL).alias("w"),
            )

        rest = F.slice(self.arr, start + 1, F.greatest(self.size - start, F.lit(0)))
        per = F.transform(rest, result)
        allok = F.forall(per, lambda s: s["v"])
        pred = self.guard("array", F.coalesce(allok, F.lit(True)))
        wcol = F.when(
            self.is_type("array") & ~F.coalesce(allok, F.lit(True)),
            F.flatten(F.transform(F.filter(per, lambda s: ~s["v"]), lambda s: s["w"])),
        ).otherwise(_EMPTY_ARR()).cast(VIOLATION_DDL)
        return F.coalesce(pred, F.lit(False)), wcol

    def count_matching(self, pred) -> Column:
        return F.size(F.filter(
            self.arr, lambda e: F.coalesce(pred(VariantNode(e)), F.lit(False))
        ))

    def unevaluated_items(self, walker, schema, base_uri, ipath, kpath):
        """Conservative gate (mirroring unevaluatedProperties): no
        in-place applicator may merge child item annotations at this
        level, and (2020-12) no contains sibling — its matches count as
        evaluated there, a per-element dynamic fact; 2019-09 collects
        only items/additionalItems/unevaluatedItems annotations, so
        contains is inert (reference legacy.py:115-147). Coverage is
        valid-aware like the evaluator's: evaluated_items.add(i) happens
        only when the sibling application SUCCEEDED on the element."""
        walker.local_coverage_gate(schema, "unevaluatedItems")
        if walker.dialect != "2019-09" and "contains" in schema:
            raise CannotLower("unevaluatedItems with contains -> batch")
        uei = schema["unevaluatedItems"]
        if uei is True:
            return []
        prefix, _, rest_kw = walker.item_keywords(schema)

        def result(e: Column, i: Column) -> Column:
            node = VariantNode(e)
            covered = F.lit(False)
            for j, psub in enumerate(prefix):
                covered = F.when(i == j, walker.passes(psub, node, base_uri)).otherwise(covered)
            if rest_kw in schema:
                covered = F.when(
                    i >= len(prefix), walker.passes(schema[rest_kw], node, base_uri)
                ).otherwise(covered)
            cv, cw = walker.visit(uei, node, base_uri,
                                  F.concat(ipath, F.lit("/"), i.cast("string")),
                                  f"{kpath}/unevaluatedItems")
            ok = covered | F.coalesce(cv, F.lit(False))
            return F.struct(
                ok.alias("ok"),
                F.when(ok, _EMPTY_ARR()).otherwise(cw).cast(VIOLATION_DDL).alias("w"),
            )

        res = F.transform(self.arr, result)
        pred = self.guard("array", F.coalesce(F.forall(res, lambda r: r["ok"]), F.lit(True)))
        bad = F.flatten(
            F.transform(F.filter(res, lambda r: ~r["ok"]), lambda r: r["w"])
        ).cast(VIOLATION_DDL)
        return [(F.coalesce(pred, F.lit(False)), F.when(pred, _EMPTY_ARR()).otherwise(bad))]

    # -- objects -------------------------------------------------------------------
    @cached_property
    def keys(self) -> Column:
        return F.json_object_keys(self.raw if self.raw is not None else F.to_json(self.col))

    @cached_property
    def prop_count(self) -> Column:
        return F.size(self.keys)

    def _child(self, name: str) -> Column:
        if not _KEY_RE.match(name):
            # checked BEFORE building the column: a None path makes
            # try_variant_get raise PySparkTypeError, which the engine's
            # CannotLower fallback would not catch
            raise CannotLower(f"property name {name!r} needs batch path")
        return F.try_variant_get(self.col, f"$.{name}", "variant")

    def has(self, name: str) -> Column:
        return F.schema_of_variant(self._child(name)).isNotNull()

    def present(self, name: str) -> Column:
        return self.is_type("object") & self.has(name)

    def prop(self, name: str):
        child = VariantNode(self._child(name))
        return child, self.present(name)

    @cached_property
    def entries(self) -> Column:
        return F.map_entries(F.try_variant_get(self.col, "$", "map<string, variant>"))

    def entry_node(self, value: Column) -> "VariantNode":
        return VariantNode(value)

    def unevaluated_properties(self, walker, schema, base_uri):
        """Conservative gate: additionalProperties:true evaluates every
        uncovered key (handled by the walker); any other form -> batch.
        Coverage counts only VALIDLY evaluated siblings."""
        walker.local_coverage_gate(schema, "unevaluatedProperties")
        if schema.get("additionalProperties", True) is not True:
            raise CannotLower(
                "unevaluatedProperties alongside non-trivial additionalProperties -> batch")
        return (list(schema.get("properties") or {}),
                list(schema.get("patternProperties") or {}), True)


def variant_node(json_col: str) -> VariantNode:
    """The root node of the documents in ``json_col``, read from the
    parse that ``with_variant_verdicts`` projects."""
    return VariantNode(F.col("__variant_doc"), F.col(json_col))


def with_variant_verdicts(
    df: DataFrame, json_col: str, lowered: tuple[Column, Column]
) -> DataFrame:
    """Add ``passed``/``violations`` from the walker's (valid,
    violations) over ``variant_node(json_col)``. A NULL document gets
    NULLs; one that does not parse fails with an ``invalid JSON``
    violation."""
    valid, viols = lowered
    doc, v = F.col(json_col), F.col("__variant_doc")
    parse_fail = doc.isNotNull() & v.isNull()
    passed = F.when(doc.isNull(), F.lit(None).cast("boolean")).otherwise(
        F.when(parse_fail, F.lit(False)).otherwise(valid)
    )
    violations = F.when(doc.isNull(), F.lit(None).cast(VIOLATION_DDL)).otherwise(
        F.when(
            parse_fail,
            F.array(
                _violation("", F.lit(""), "", doc, MESSAGES[""])
            ).cast(VIOLATION_DDL),
        ).otherwise(viols)
    )
    # materialize the parse as its own projection: every keyword
    # references the variant COLUMN, so the row is parsed once —
    # inlining the parse expression would re-parse the JSON string in
    # every subexpression (CollapseProject keeps multi-referenced
    # non-cheap aliases in their own project)
    return (
        df.withColumn("__variant_doc", F.try_parse_json(doc))
        .withColumn("passed", passed)
        .withColumn("violations", violations)
        .drop("__variant_doc")
    )
