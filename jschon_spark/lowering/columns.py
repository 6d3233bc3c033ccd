"""Lower a JSON Schema onto typed Spark columns as pure Column algebra.

This is the scale path: :class:`ColumnLowerer` runs the shared keyword
walker (lowering/keywords.py) over a :class:`TypedNode`, so one
``df.select`` evaluates the whole schema in a single
whole-stage-codegen'd scan — no shuffle, no Python.

What the typed node adds to the walker's keyword semantics:

* instance-type gating (jsonschema.py:208-211): the Spark column type
  is known at compile time, so wrong-typed keywords are never emitted
  and wrong-typed enum/const fold to constants before Catalyst ever
  sees them.
* NULL convention: a NULL **struct field** is an *absent* property
  (``properties`` then doesn't apply, ``required`` fails); a NULL
  **array element** or **map value** is JSON ``null``.
* struct fields are enumerated at compile time (patternProperties,
  additionalProperties and propertyNames resolve per field name), and
  ``unevaluated*`` use the walker's static coverage algebra.
* Keywords the expression algebra can't faithfully express raise
  :class:`CannotLower`; the engine then falls back to the vectorized
  batch evaluator (lowering/batch.py) for the whole schema.
"""

from __future__ import annotations

from functools import cached_property
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.evaluator import (
    IDN_EMAIL_PATTERN,
    IRI_PATTERN,
    IRI_REFERENCE_PATTERN,
    URI_REFERENCE_PATTERN,
    URI_TEMPLATE_PATTERN,
)
from jschon_spark.lowering.keywords import (  # noqa: F401 - re-exported
    VIOLATION_DDL,
    VIOLATION_TYPE,
    CannotLower,
    KeywordWalker,
    _EMPTY_ARR,
    _check,
    dec18_exact,
    rlike,
)


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
        if self.json_t == "array" and isinstance(schema.get("items"), list):
            # 2019-09 tuple items stay on the batch evaluator: no typed
            # differential covers them yet (the variant path has one)
            raise CannotLower("tuple items on a typed array -> batch")

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

    @property
    def value(self) -> Column:
        return self.col

    @cached_property
    def string(self) -> Column:
        if isinstance(self.dtype, T.TimestampType):
            return F.date_format(self.col, "yyyy-MM-dd'T'HH:mm:ss'Z'")
        if isinstance(self.dtype, T.DateType):
            return F.date_format(self.col, "yyyy-MM-dd")
        return self.col

    # -- type / enum / const --------------------------------------------------
    def type_pred(self, wanted: list) -> Column:
        json_t = self.json_t
        if json_t == "number" and "integer" in wanted and "number" not in wanted:
            # fmod, not floor: floor(double) yields BIGINT, which under
            # ANSI mode ERRORS past 2^63 (1e30 IS an integer); fmod is
            # exact at any magnitude and sign-preserving (-1e-20 % 1 =
            # -1e-20, not integer)
            pred = (self.col % F.lit(1.0)) == 0
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
        # compatible members are scalars (None included) for these types
        scalars = [v for v in values if _enum_compatible(v, self.json_t)]
        pred = self.col.isin(*scalars) if scalars else F.lit(False)
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
        return self.col == F.lit(c)

    # -- numbers -------------------------------------------------------------------
    def multiple_of(self, m) -> Column:
        col = self.col
        if isinstance(m, int) and self.json_t == "integer":
            return col % F.lit(m) == 0
        # exact decimal modulus, mirroring Python Decimal math
        # (reference jschon/vocabulary/validation.py:66-75).
        # try_cast: ANSI mode errors a plain cast when a double value
        # overflows decimal(38,12); beyond that magnitude fall back to a
        # double modulus
        dec_v = col.try_cast(T.DecimalType(38, 12))
        dec_ok = (
            dec_v % F.lit(m).cast(T.DecimalType(38, 12))
        ) == F.lit(0).cast(T.DecimalType(38, 12))
        # the decimal tier must ROUND-TRIP the value: a 1e-20 double
        # casts to a non-NULL 0E-12, which is a multiple of everything.
        # And %, not pmod, in the fallback — pmod's +m re-add rounds
        # tiny negatives onto m exactly (fmod is exact, -0.0 == 0)
        dec_exact = dec_v.isNotNull() & (dec_v.cast(T.DoubleType()) == col)
        return F.when(dec_exact, dec_ok).otherwise((col % F.lit(float(m))) == 0)

    def compare(self, op, bound) -> Column:
        if isinstance(bound, float) and self.json_t == "integer":
            # long-vs-double comparison coerces the COLUMN to double,
            # losing precision above 2^53 (10^18-1 < 1e18 must hold;
            # after coercion they compare equal). Compare in decimal —
            # 18-dp rounding of the bound is finer than the double gap
            # everywhere a long is exact, and beyond-long-range bounds
            # fold to a compile-time constant.
            if abs(bound) >= 1e19:
                return F.lit(op(0, bound))
            if dec18_exact(bound):
                dec = T.DecimalType(38, 18)
                return op(self.col.cast(dec), F.lit(bound).cast(dec))
            # else: bound needs >18dp (tiny magnitudes like 2e-20 would
            # round to 0E-18) — keep the plain long-vs-double coercion.
            # Such bounds always have |b| < 1, and rounding a >2^53 long
            # by 1 ulp (>=2) can never cross a sub-unit bound, so the
            # double compare stays verdict-exact.
        return op(self.col, F.lit(bound))

    # -- strings -------------------------------------------------------------------
    def format_check(self, fmt: str, ipath: Column, kpath: str):
        scol = self.string
        pred = format_pred(
            fmt, scol,
            trusted_calendar=isinstance(self.dtype, (T.TimestampType, T.DateType)),
        )
        if pred is not None:
            fv, fw = _check(pred, "format", ipath, kpath, scol, f"not a valid {fmt}")
        else:
            from jschon_spark.evaluator import FORMAT_VALIDATORS
            from jschon_spark.functions.registry import FORMAT_REGISTRY

            entry = FORMAT_REGISTRY.get(fmt)
            if entry is not None:
                if entry.column_fn is None:
                    raise CannotLower(f"format {fmt!r} has no Column lowering -> batch")
                fv, fw = _check(entry.column_fn(scol), "format", ipath, kpath, scol,
                                f"not a valid {fmt}")
            elif fmt in FORMAT_VALIDATORS:
                # built-in python validator without a Column form -> batch
                raise CannotLower(f"format {fmt!r} needs the batch evaluator")
            else:
                # unknown format: annotation only, never asserts
                # (reference behavior, format.py:14-32)
                fv, fw = F.lit(True), _EMPTY_ARR()
        return self.guard("string", fv), F.when(self.col.isNull(), _EMPTY_ARR()).otherwise(fw)

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


class ColumnLowerer(KeywordWalker):
    """Compile one schema document into (valid, violations) Columns
    over a typed value."""

    def lower(
        self,
        schema: Any,
        dtype: T.DataType,
        col: Column,
        base_uri: str,
        ipath: Column | None = None,
        kpath: str = "",
    ) -> tuple[Column, Column]:
        return self.walk(schema, TypedNode(col, dtype), base_uri,
                         F.lit("") if ipath is None else ipath, kpath)


_FORMAT_REGEX = {
    # RFC 3339 ranges (round 5) — sync with evaluator._TIME_RE /
    # _DATETIME_RE; date/date-time additionally get a calendar
    # conjunct in format_pred
    # [0-9] not \d everywhere below: Java \d is ASCII but the batch
    # evaluator's Python \d is unicode-wide — [0-9] is the one
    # spelling both engines read identically (RFC grammars are
    # ASCII DIGIT anyway); same for the email \s -> explicit set
    "date-time": (
        r"^[0-9]{4}-[0-9]{2}-[0-9]{2}[Tt]([01][0-9]|2[0-3]):[0-5][0-9]:"
        r"([0-5][0-9]|60)(\.[0-9]+)?([Zz]|[+-]([01][0-9]|2[0-3]):[0-5][0-9])$"
    ),
    "date": r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$",
    "time": (
        r"^([01][0-9]|2[0-3]):[0-5][0-9]:([0-5][0-9]|60)(\.[0-9]+)?"
        r"([Zz]|[+-]([01][0-9]|2[0-3]):[0-5][0-9])$"
    ),
    "uuid": r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$",
    "ipv4": r"^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$",
    # scheme lookahead + RFC 3986 character set (sync with the
    # evaluator's "uri" entry — raw spaces / bare % are invalid)
    "uri": (
        r"^(?=[A-Za-z][A-Za-z0-9+.-]*:)"
        r"(%[0-9A-Fa-f]{2}|[A-Za-z0-9\-._~:/?#\[\]@!$&'()*+,;=])*$"
    ),
    # lookaheads below are Java- and Python-compatible
    "hostname": (
        r"^(?=.{1,253}$)([A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?\.)*"
        r"[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?$"
    ),
    "email": r"^[^@ \t\n\x0B\f\r]+@[^@ \t\n\x0B\f\r]+\.[^@ \t\n\x0B\f\r]+$",
    "duration": r"^P(?!$)([0-9]+Y)?([0-9]+M)?([0-9]+W)?([0-9]+D)?(T(?=[0-9])([0-9]+H)?([0-9]+M)?([0-9]+(\.[0-9]+)?S)?)?$",
    "relative-json-pointer": r"^(0|[1-9][0-9]*)(#|(/([^~/]|~[01])*)*)$",
    # round 5: remaining 2020-12 vocabulary names — the SAME source
    # strings the evaluator compiles (evaluator.py defines them
    # avoiding \s/\w so Java and Python read them identically).
    # idn-hostname deliberately has NO Column form since round 6:
    # the RFC 5892 contextual rules and RFC 5893 Bidi rule are
    # beyond Java regex (no combining-class or bidi-category
    # properties), so schemas asserting it route to the batch
    # evaluator's full implementation (evaluator._fmt_idn_hostname)
    "uri-reference": f"^{URI_REFERENCE_PATTERN}$",
    "iri": f"^{IRI_PATTERN}$",
    "iri-reference": f"^{IRI_REFERENCE_PATTERN}$",
    "uri-template": f"^{URI_TEMPLATE_PATTERN}$",
    "idn-email": f"^{IDN_EMAIL_PATTERN}$",
}


def format_pred(fmt: str, scol: Column, trusted_calendar: bool = False) -> Column | None:
    """Full Column predicate for a built-in format, or None when the
    format has no Column form. date/date-time carry a calendar-validity
    conjunct (try_to_timestamp rejects 2023-02-29 exactly like the
    evaluator's _valid_ymd); ``trusted_calendar=True`` skips it for
    strings produced by date_format over timestamp/date columns, which
    are calendar-valid by construction — keeps the flagship hot path
    (warc_ts date-time assertion) a single rlike."""
    rx = _FORMAT_REGEX.get(fmt)
    if rx is None:
        return None
    pred = rlike(scol, rx)
    if not trusted_calendar and fmt in ("date", "date-time"):
        datepart = scol if fmt == "date" else F.substring(scol, 1, 10)
        pred = pred & F.try_to_timestamp(datepart, F.lit("yyyy-MM-dd")).isNotNull()
    return pred


ColumnLowerer.format_pred = staticmethod(format_pred)
