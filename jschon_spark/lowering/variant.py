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
CannotLower → the engine runs the Arrow batch evaluator. Violations match
the batch evaluator's (keyword, instance_path, keyword_path)
conventions.

Number comparisons are exact through the tiered decimal(38,18)
strategy wherever both sides are representable (see ``_num_pred``);
for tiny float bounds (finer than 1e-18) both this path and the batch
evaluator round docs through double, so the double compare stays
verdict-exact, while big-magnitude float bounds (|b| >= 1e20, where
docs can carry exact >2^53 DECIMAL integers) raise CannotLower and
take the exact batch path.
"""

from __future__ import annotations

import re
from functools import cached_property
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jschon_spark.lowering.keywords import (
    KEYWORDS,
    VIOLATION_DDL,
    CannotLower,
    _EMPTY_ARR,
    _check,
    _violation,
    dec18_exact,
)

_KEY_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _num_pred(v: Column, op, bound) -> Column:
    """Exact numeric comparison of a variant value against a Python
    bound, usable on ANY variant Column (HOF lambda variables included).

    The double extraction rounds BIGINT values above 2^53 (10^18-1 <
    1e18 compared equal), so compare in decimal(38,18) when the bound
    is exactly representable at 18dp (tiny magnitudes like 2e-20 round
    to 0E-18; |b| >= 1e20 overflows) AND the value round-trips
    decimal->double (a 1e-20 doc casts to a non-NULL 0E-18); otherwise
    the double compare, which is verdict-exact wherever the decimal
    tier isn't available."""
    if isinstance(bound, bool) or not isinstance(bound, (int, float)):
        raise CannotLower("non-numeric bound -> batch")
    if isinstance(bound, int) and abs(bound) > 2 ** 63 - 1:
        raise CannotLower("integer bound beyond long -> batch")
    dval = F.try_variant_get(v, "$", "double")
    dbl = op(dval, F.lit(float(bound)))
    if isinstance(bound, float) and not dec18_exact(bound):
        import decimal as _dec

        d = _dec.Decimal(repr(bound))
        if not d.is_finite() or abs(d) >= _dec.Decimal(10) ** 20:
            # big-magnitude float bound: variant docs can carry exact
            # >2^53 integers as DECIMAL(38,0) (e.g. doc 10^20+1 vs
            # exclusiveMinimum 1e20) and a double-only compare rounds
            # them onto the bound — the batch evaluator's exact
            # int-vs-float compare is the only faithful path
            raise CannotLower("float bound beyond decimal(38,18) -> batch")
        # tiny bounds (< 1e-18 resolution): both the variant and the
        # batch path round such docs through double, so the double
        # compare is verdict-exact here
        return dbl
    decval = F.try_variant_get(v, "$", "decimal(38,18)")
    b_dec = F.lit(bound).cast("decimal(38,18)")
    exact_val = decval.isNotNull() & (decval.cast("double") == dval)
    return F.when(exact_val, op(decval, b_dec)).otherwise(dbl)


def _eq_value(v: Column, x: Any) -> Column:
    """Exact JSON equality of a variant value against a Python JSON
    literal — the compound enum/const lowering. Numeric equality is
    cross-type (1 == 1.0) and exact past 2^53; bools never equal
    numbers (type-tag gated, matching the evaluator's _json_equal)."""
    sv = F.schema_of_variant(v)
    if x is None:
        return sv == "VOID"
    if isinstance(x, bool):
        return (sv == "BOOLEAN") & F.coalesce(
            F.try_variant_get(v, "$", "boolean") == F.lit(x), F.lit(False)
        )
    if isinstance(x, (int, float)):
        is_num = sv.isin("BIGINT", "DOUBLE", "FLOAT") | sv.startswith("DECIMAL")
        return is_num & F.coalesce(
            _num_pred(v, lambda c, b: c == b, x), F.lit(False)
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
            # fmod (%), not floor: floor(double) yields BIGINT, which
            # overflows past 2^63 (1e30 IS an integer). And %, not pmod:
            # pmod adds the modulus back, and -1e-20 + 1.0 ROUNDS to 1.0,
            # misclassifying tiny negatives as integers; fmod is exact
            # and sign-preserving (-0.0 == 0)
            return self.is_type("number") & ((self.dval % F.lit(1.0)) == 0)
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
    def value(self) -> Column:
        return F.try_variant_get(self.col, "$", "string")

    @property
    def string(self) -> Column:
        return self.value

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
            return self.is_type("number") & _num_pred(self.col, lambda c, b: c == b, x)
        if isinstance(x, str):
            return self.is_type("string") & (self.value == x)
        # compound member: recursive structural equality
        return F.coalesce(_eq_value(self.col, x), F.lit(False))

    def enum_pred(self, values: list) -> Column:
        pred = F.lit(False)
        for x in values:
            pred = pred | self.const_pred(x)
        return pred

    # -- numbers -------------------------------------------------------------------
    def multiple_of(self, m) -> Column:
        # 12-dp modulus both sides, value sourced exactly when it fits:
        # casting through double first would round big ints (…999 % 2
        # reported 0). The 12-dp rounding itself is deliberate — it
        # makes double-parsed literals like 19.99 behave as
        # Decimal("19.99"), matching the evaluator. try_cast: ANSI mode
        # makes a plain cast ERROR on overflow (a 1e30 doc would kill
        # the job). Three exactness tiers:
        # (1) |v| < 1e26: decimal(38,12) modulus;
        # (2) larger but within decimal range: doubles > 2^53 are
        #     integral and Spark's double->decimal cast uses
        #     shortest-repr (same semantics as Python Decimal(repr(x))),
        #     so a scale-0 modulus against m at its own minimal scale is
        #     exact — magnitude-guarded so ANSI promotion can't overflow;
        # (3) beyond that: double modulus, approximate like any engine
        #     computing on parsed doubles.
        from decimal import Decimal as _D

        dval = self.dval
        m_dec = _D(repr(m)) if isinstance(m, float) else _D(m)
        m_scale = max(0, -m_dec.as_tuple().exponent)
        mval = F.coalesce(
            F.try_variant_get(self.col, "$", "decimal(38,18)").try_cast("decimal(38,12)"),
            dval.try_cast("decimal(38,12)"),
        )
        dec_ok = (mval % F.lit(m).cast("decimal(38,12)")) == 0
        # %, not pmod: pmod adds the modulus back and -1e-20 + m rounds
        # to m exactly, declaring tiny negatives multiples of anything;
        # fmod is exact and sign-preserving
        dbl_ok = (dval % F.lit(float(m))) == 0
        # each decimal tier must ROUND-TRIP the value (a 1e-20 doc casts
        # to a non-NULL 0E-12, which is a multiple of everything) —
        # otherwise fall through to the next tier
        mval_exact = mval.isNotNull() & (mval.cast("double") == dval)
        branch = F.when(mval_exact, dec_ok)
        if m_scale <= 12 and len(m_dec.as_tuple().digits) <= 38 - m_scale:
            v0 = dval.try_cast("decimal(38,0)")
            big_guard = (
                v0.isNotNull()
                & (v0.cast("double") == dval)
                & (F.abs(dval) < F.lit(float(10 ** (36 - m_scale))))
            )
            big_ok = (v0 % F.lit(float(m)).cast(f"decimal(38,{m_scale})")) == 0
            branch = branch.when(big_guard, big_ok)
        return branch.otherwise(dbl_ok)

    def compare(self, op, bound) -> Column:
        return _num_pred(self.col, op, bound)

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
                _violation("", F.lit(""), "", doc, "invalid JSON")
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
