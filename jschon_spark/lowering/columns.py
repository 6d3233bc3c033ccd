"""Lower a JSON Schema onto typed Spark columns as pure Column algebra.

This is the scale path: ``CompiledSchema.lower_columns`` runs the
shared keyword walker (lowering/keywords.py) over a :class:`TypedNode`,
so one ``df.select`` evaluates the whole schema in a single
whole-stage-codegen'd scan — no shuffle, no Python.

What the typed node adds to the walker's keyword semantics:

* instance-type gating (jsonschema.py:208-211): the Spark column type
  is known at compile time, so wrong-typed keywords are never emitted
  and wrong-typed enum/const fold to constants before Catalyst ever
  sees them.
* numbers take the walker's one numeric rule, folded where the static
  kind (bigint or double) makes a plain compare or modulus exact. A
  float column reads as the number ``to_json`` writes for it (0.1f is
  0.1, not 0.10000000149011612).
* NULL convention: a NULL **struct field** is an *absent* property
  (``properties`` then doesn't apply, ``required`` fails); a NULL
  **array element** or **map value** is JSON ``null``.
* struct fields are enumerated at compile time (patternProperties,
  additionalProperties and propertyNames resolve per field name), and
  ``unevaluated*`` use the walker's static coverage algebra.
* timestamps and dates read as the strings ``to_json`` writes for them
  in the row document, so a string keyword gives one verdict whichever
  route the schema takes.
* Keywords the expression algebra can't faithfully express raise
  :class:`CannotLower`; the engine then serializes the row with
  :func:`to_json` and tries the variant, then the batch, route.
"""

from __future__ import annotations

from functools import cached_property
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.lowering.keywords import (
    DEC18,
    VIOLATION_DDL,
    CannotLower,
    _EMPTY_ARR,
    _check,
    is_integral,
    is_number,
    native,
    native_members,
    number_equals,
    number_text,
)

# a typed timestamp or date as a JSON string: TypedNode.string on the
# typed route, to_json's options in the row document the others read
TIMESTAMP_FORMAT = "yyyy-MM-dd'T'HH:mm:ss'Z'"
DATE_FORMAT = "yyyy-MM-dd"


def to_json(row: Column) -> Column:
    """``row`` as the JSON document the variant and batch routes read."""
    return F.to_json(row, {"timestampFormat": TIMESTAMP_FORMAT, "dateFormat": DATE_FORMAT})


def spark_json_type(dtype: T.DataType) -> str:
    """Static JSON type of a Spark column type."""
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "integer"
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "number"
    if isinstance(dtype, T.ArrayType):
        return "array"
    if isinstance(dtype, (T.StructType, T.MapType)):
        return "object"
    if isinstance(dtype, (T.TimestampType, T.DateType)):
        # timestamps surface as RFC 3339 strings in the JSON view
        return "string"
    if isinstance(dtype, T.NullType):
        return "null"
    raise CannotLower(f"no JSON type for Spark type {dtype}")


def _enum_compatible(v, json_t: str) -> bool:
    from jschon_spark.evaluator import json_type

    if v is None:
        return True
    t = json_type(v)
    if json_t in ("integer", "number"):
        return t == "number"
    return t == json_t


class TypedNode:
    """A value read from a typed Spark column: its JSON type is the
    dtype's, so type tests fold at compile time and the only runtime
    case is SQL NULL (JSON null, or an absent struct field)."""

    def __init__(self, col: Column, dtype: T.DataType) -> None:
        self.col = col
        self.dtype = dtype
        # struct fields by name (compile-time key set); None for maps
        self.fields = (
            {f_.name: f_ for f_ in dtype.fields}
            if isinstance(dtype, T.StructType) else None
        )

    def admit(self, schema: dict, dialect: str) -> None:
        if isinstance(self.dtype, T.MapType) and not isinstance(
            self.dtype.keyType, T.StringType
        ):
            raise CannotLower("object lowering needs string map keys")
        self.json_t = spark_json_type(self.dtype)

    def may_be(self, json_t: str) -> bool:
        if json_t == "number":
            return self.json_t in ("number", "integer")
        return self.json_t == json_t

    def is_type(self, json_t: str) -> Column:
        return self.col.isNotNull()

    def guard(self, json_t: str, pred: Column) -> Column:
        # Type-gated assertions (2020-12 core §7.6: each assertion
        # applies only to instances of its type) pass vacuously on JSON
        # null instances — a NULL array element / map value / column is
        # JSON null, so e.g. maxLength on null is satisfied.
        return F.when(self.col.isNull(), F.lit(True)).otherwise(pred)

    @cached_property
    def value(self) -> Column:
        """The instance as a violation's ``value`` (``evaluator.shown``)."""
        t = self.dtype
        if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.BooleanType)):
            return self.col  # _violation's string cast writes it
        if isinstance(t, T.DecimalType):
            # scale 0 is JSON integer syntax: exact digits within the long range
            text = number_text(self)
            return F.coalesce(self.col.try_cast("bigint").cast("string"), text) if t.scale == 0 else text
        if isinstance(t, (T.FloatType, T.DoubleType)):
            return number_text(self)
        if isinstance(t, (T.StringType, T.TimestampType, T.DateType)):
            return self.string
        return F.lit(None)  # null, arrays and objects

    @cached_property
    def string(self) -> Column:
        if isinstance(self.dtype, T.TimestampType):
            return F.date_format(self.col, TIMESTAMP_FORMAT)
        if isinstance(self.dtype, T.DateType):
            return F.date_format(self.col, DATE_FORMAT)
        return self.col

    # -- type / enum / const --------------------------------------------------
    def type_pred(self, wanted: list) -> Column:
        json_t = self.json_t
        if json_t == "number" and "integer" in wanted and "number" not in wanted:
            pred = is_integral(self)
        elif json_t in ("integer", "number"):
            # a float column *may* hold whole values: integer acceptance
            # is the runtime branch above
            pred = F.lit(bool({"integer", "number"} & set(wanted)))
        else:
            pred = F.lit(json_t in wanted)
        # NULL value = JSON null for non-struct-field positions
        return F.when(self.col.isNull(), F.lit("null" in wanted)).otherwise(pred)

    def enum_pred(self, values: list) -> Column:
        if self.json_t not in ("string", "number", "integer", "boolean"):
            raise CannotLower(f"enum over {self.json_t} column requires batch evaluator")
        # compatible members are scalars (None included) for these
        # types; the ones the column compares exactly share one IN list
        scalars = [v for v in values if _enum_compatible(v, self.json_t)]
        listed, rest = native_members(self, scalars)
        col = native(self) if self.may_be("number") else self.col
        pred = col.isin(*listed) if listed else F.lit(False)
        for v in rest:
            pred = pred | number_equals(self, v)
        if any(v is None for v in values):
            pred = pred | self.col.isNull()
        return pred

    def const_pred(self, c: Any) -> Column:
        if isinstance(c, (list, dict)):
            raise CannotLower("compound const requires batch evaluator")
        if c is None:
            return self.col.isNull()
        if not _enum_compatible(c, self.json_t):
            # a scalar const of a different JSON type can never match
            # this column's static type — fold to always-fail (struct ==
            # false would not even analyze; found by the round-4 random
            # differential)
            return F.lit(False)
        if is_number(c):
            return number_equals(self, c)
        return self.col == F.lit(c)

    # -- numbers: accessors of the rule in keywords.py ------------------------------
    @property
    def number_kind(self) -> str:
        return "bigint" if self.json_t == "integer" else "double"

    @cached_property
    def _number(self) -> Column:
        # a float reads as the number to_json writes for it
        return self.col.cast("string") if isinstance(self.dtype, T.FloatType) else self.col

    @cached_property
    def dval(self) -> Column:
        return self.col if isinstance(self.dtype, T.DoubleType) else self._number.cast("double")

    @cached_property
    def dec18(self) -> Column:
        # a long always fits decimal(38,18); a double may overflow it
        return self.col.cast(DEC18) if self.number_kind == "bigint" else self._number.try_cast(DEC18)

    # -- strings -------------------------------------------------------------------
    def check_string(self, pred: Column, keyword: str, ipath: Column, kpath: str,
                     error: str):
        """(valid, violations) of a string assertion; JSON null passes."""
        ok, viol = _check(pred, keyword, ipath, kpath, self.string, error)
        return self.guard("string", ok), F.when(self.col.isNull(), _EMPTY_ARR()).otherwise(viol)

    # -- arrays --------------------------------------------------------------------
    @cached_property
    def size(self) -> Column:
        return F.size(self.col)

    def unique_items(self) -> Column:
        # compound elements are fine: a typed array has ONE element
        # type, so the reference's cross-type numeric equality (1 vs
        # 1.0) cannot arise within it
        return self.size == F.size(F.array_distinct(self.col))

    def item(self, j: int):
        return (TypedNode(F.element_at(self.col, j + 1), self.dtype.elementType),
                self.size > j)

    def _pairs(self) -> Column:
        return F.transform(self.col, lambda x, i: F.struct(x.alias("x"), i.alias("i")))

    def each_item(self, start: int, lower):
        elem_t = self.dtype.elementType
        tail = F.filter(self._pairs(), lambda p: p["i"] >= start)
        valid = F.forall(tail, lambda p: lower(TypedNode(p["x"], elem_t), p["i"])[0])
        viol = F.flatten(
            F.transform(tail, lambda p: lower(TypedNode(p["x"], elem_t), p["i"])[1])
        ).cast(VIOLATION_DDL)
        return F.coalesce(valid, F.lit(True)), F.coalesce(viol, _EMPTY_ARR())

    def count_matching(self, pred) -> Column:
        elem_t = self.dtype.elementType
        return F.size(F.filter(self._pairs(), lambda p: pred(TypedNode(p["x"], elem_t))))

    def unevaluated_items(self, walker, schema, base_uri, ipath, kpath):
        cov_prefix, covers_rest = walker.static_coverage(schema, base_uri, item=True)
        if covers_rest:
            return []
        return [walker.each_item(self, schema["unevaluatedItems"], cov_prefix,
                                 base_uri, ipath, f"{kpath}/unevaluatedItems")]

    # -- objects -------------------------------------------------------------------
    @cached_property
    def prop_count(self) -> Column:
        if self.fields is None:
            return F.size(self.col)
        n_present = None
        for name in self.fields:
            p = self.col[name].isNotNull().cast("int")
            n_present = p if n_present is None else (n_present + p)
        return n_present

    def has(self, name: str) -> Column:
        if self.fields is None:
            return F.map_contains_key(self.col, F.lit(name))
        return self.col[name].isNotNull() if name in self.fields else F.lit(False)

    present = has

    def prop(self, name: str):
        if self.fields is None:
            return TypedNode(self.col[name], self.dtype.valueType), self.has(name)
        if name not in self.fields:
            return None
        child = self.col[name]
        return TypedNode(child, self.fields[name].dataType), child.isNotNull()

    @cached_property
    def entries(self) -> Column:
        return F.map_entries(self.col)

    @cached_property
    def keys(self) -> Column:
        return F.map_keys(self.col)

    def entry_node(self, value: Column) -> "TypedNode":
        return TypedNode(value, self.dtype.valueType)

    def unevaluated_properties(self, walker, schema, base_uri):
        names, patterns = walker.static_coverage(schema, base_uri, item=False)
        return sorted(names), sorted(patterns), False

