"""The keyword walker shared by the typed and variant Column lowerings.

One recursive walk turns a schema into a ``(valid, violations)`` pair
of Columns: every keyword becomes a ``pyspark.sql.Column`` predicate
plus an ``array<struct>`` of violation records, so one ``df.select``
evaluates the whole schema in a single scan — no shuffle, no Python.

The walker owns the keyword semantics (the reference's
vocabulary/validation.py, applicator.py and core.py, re-derived for
columnar execution): boolean schemas, ``$schema``/``$id``, ``$ref``
and statically resolvable ``$dynamicRef``/``$recursiveRef`` inlining,
type/enum/const, the string, number, array and object keywords and the
combinators. It reads the instance through a *node*, which says how a
value is accessed and tested:

* ``TypedNode`` (lowering/columns.py) over a typed Spark column. Its
  JSON type is the Spark dtype's, known at compile time, so keywords of
  another type are never emitted and wrong-typed enum/const fold to
  constants before Catalyst sees them.
* ``VariantNode`` (lowering/variant.py) over a VariantType value. Its
  type is tested at run time with ``schema_of_variant`` tags.

Rules that differ by source are node methods: type tests and gating,
and how array elements, object entries and members are reached.
Every member-applying keyword visits each member's subschema once
(``each_member``). ``unevaluated*`` has one rule for both nodes, the
evaluator's annotation rule (``KeywordWalker.evaluated``): a member is
evaluated where a sibling passed on it, or where an in-place child
that passes marked it; a struct field name folds at compile time, a
map key or an element index is tested per row. Numbers have one
rule for both nodes, written below (``number_compare``,
``multiple_of``); a node gives only its value as a double and as a
decimal and its static number kind. Nodes build Columns only when a
keyword reads them. ``format`` reads the evaluator's own format
table (``registry.format_entry``), so both nodes assert exactly the
formats the batch evaluator does.

Keywords outside the expression algebra raise :class:`CannotLower`;
the engine then runs the whole schema on the next route of its ladder
(typed, variant, batch; see engine.py).
"""

from __future__ import annotations

import dataclasses
import decimal
import inspect
import operator
import re
from typing import Any, Callable
from urllib.parse import urljoin

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.evaluator import MESSAGES, VALUE_CHARS, Evaluator, Violation, message
from jschon_spark.functions import registry
from jschon_spark.schema.catalog import SchemaCatalog, pointer_escape

_FIELDS = [f.name for f in dataclasses.fields(Violation)]
VIOLATION_TYPE = T.StructType([T.StructField(name, T.StringType()) for name in _FIELDS])
VIOLATION_DDL = f"array<{VIOLATION_TYPE.simpleString()}>"


class CannotLower(Exception):
    """Schema feature outside the Column-expression subset."""


# Regex constructs whose JAVA (rlike) reading diverges from Python
# `re` (the reference semantics, jschon/vocabulary/validation.py:
# 132-142): named groups / lookbehind syntax, \A/\Z anchors, AND the
# perl classes \w \W \d \D \s \S \b \B — Java reads those ASCII-only
# while Python reads them unicode-wide (measured: rlike '^\\w+$'
# rejects 'héllo', '^\\d+$' rejects arabic-indic digits, '\\s'
# misses U+00A0; round 6). Patterns using any of them route to the
# batch evaluator, whose Python `re` IS the reference dialect. The
# scan deliberately over-matches a literal '\\\\d' (escaped
# backslash + d) — a false positive only costs the fast path.
JAVA_INCOMPATIBLE = re.compile(r"\(\?P[<=!]|\\Z|\\A|\(\?<|\\[wWdDsSbB]")


def check_regex_dialect(pattern: str) -> None:
    """rlike is Java regex; refuse patterns whose dialect diverges
    from Python `re`."""
    if JAVA_INCOMPATIBLE.search(pattern):
        raise CannotLower(f"regex dialect risk in pattern {pattern!r} -> batch")
    re.compile(pattern)  # must at least be a valid Python regex


def rlike(s: Column, pattern: str, full: bool = False) -> Column:
    """``re.search(pattern, s)`` as a Column, or ``re.fullmatch`` when
    ``full``: every emitted rlike goes through here. Java regex also
    ends lines at \\r, \\u0085, \\u2028 and \\u2029 for `.`, `^` and
    `$` (so `^[a-z]{2}$` accepted "ab\\r"); the UNIX_LINES flag (?d)
    leaves \\n, Python's only line terminator."""
    check_regex_dialect(pattern)
    if full:
        # Java's end-of-input anchor (`$` also matches before a final
        # \n); Python 3.11 `re` rejects \z, so it joins after the check
        pattern = rf"^(?:{pattern})\z"
    return s.rlike("(?d)" + pattern)


def dec18_exact(bound: float) -> bool:
    """True iff the float ``bound`` is exact in decimal(38,18). Spark's
    double->decimal cast takes the shortest repr (``Decimal(repr(b))``),
    which must survive quantization to 18 places: 2e-20 rounds to 0E-18,
    and magnitudes >= 1e20 overflow the 20 integer digits."""
    d = decimal.Decimal(repr(bound))
    if not d.is_finite() or abs(d) >= decimal.Decimal(10) ** 20:
        return False
    # 38 significant digits exceed the default context precision (28):
    # quantizing 1e18 to 18dp needs 37 digits and must not raise
    with decimal.localcontext() as ctx:
        ctx.prec = 60
        try:
            return d == d.quantize(decimal.Decimal("1e-18"))
        except decimal.InvalidOperation:
            return False


# -- numbers ------------------------------------------------------------------
# jschon compares numbers exactly (Decimal for multipleOf, exact Python
# values for bounds and equality); this is the one Column form of that.
# A node gives ``number_kind`` ("bigint"/"double" for a typed column,
# "variant" for a value typed at run time), ``dval`` (the value as a
# double) and ``dec18`` (as decimal(38,18), NULL where it does not fit).
# The general rule compares in decimal where the value round-trips
# through it (doubles round integers past 2^53), else in double; folds
# specialize it only where the kind and the literal make that exact.

DEC18 = "decimal(38,18)"


def is_number(x: Any) -> bool:
    return isinstance(x, (int, float)) and not isinstance(x, bool)


def _require_number(x: Any, keyword: str) -> None:
    if not is_number(x):
        raise CannotLower(f"non-numeric {keyword} -> batch")
    if isinstance(x, int) and abs(x) > 2 ** 63 - 1:
        raise CannotLower(f"integer {keyword} beyond long -> batch")


def native(node) -> Column:
    """The column a native compare reads: a bigint column itself, a
    double column's ``dval`` (a float column as ``to_json`` writes it)."""
    return node.col if node.number_kind == "bigint" else node.dval


def native_exact(node, x: Any) -> bool:
    """True where the column's own compare against the literal ``x`` is
    exact: bigint vs an int in long range, double vs a float or an int
    up to 2^53, and bigint vs a float below 2^53 (the long widens to
    double, which rounds it only past 2^53)."""
    kind = node.number_kind
    if isinstance(x, int):
        return abs(x) < 2 ** 63 and (kind == "bigint" or kind == "double" and abs(x) <= 2 ** 53)
    return kind == "double" or kind == "bigint" and abs(x) < 2 ** 53


def native_members(node, members: list) -> tuple[list, list]:
    """(the enum members one IN list over the column compares exactly:
    non-numbers and ``native_exact`` numbers, the rest). A float member
    widens a bigint list to double, so then only |x| < 2^53."""
    wide = node.number_kind == "bigint" and any(isinstance(x, float) for x in members)
    ok = [not is_number(x) or native_exact(node, x) and not (wide and abs(x) >= 2 ** 53)
          for x in members]
    return [x for x, n in zip(members, ok) if n], [x for x, n in zip(members, ok) if not n]


def number_compare(node, op, bound: Any) -> Column:
    """``op(value, bound)``: the bounds, and enum/const members with
    ``operator.eq``."""
    _require_number(bound, "bound")
    if node.number_kind == "bigint" and isinstance(bound, float):
        # bounds compare in decimal: 18-dp rounding of the bound is
        # finer than the double gap everywhere a long is exact. One
        # needing more than 18dp (2e-20 would round to 0E-18) has
        # |b| < 1, where the plain compare is exact (native_exact)
        if abs(bound) >= 1e19:
            return F.lit(op(0, bound))
        if op is operator.eq and native_exact(node, bound) or not dec18_exact(bound):
            return op(native(node), F.lit(bound))
        return op(node.dec18, F.lit(bound).cast(DEC18))
    if native_exact(node, bound):
        return op(native(node), F.lit(bound))
    dbl = op(node.dval, F.lit(float(bound)))
    if isinstance(bound, float) and not dec18_exact(bound):
        if abs(bound) >= 1e20 or bound != bound:
            # variant docs carry exact >2^53 integers as DECIMAL(38,0)
            # (10^20+1 vs exclusiveMinimum 1e20), which a double
            # compare rounds onto the bound: only batch is exact
            raise CannotLower("float bound beyond decimal(38,18) -> batch")
        # finer than 1e-18: every route reads such values as doubles
        return dbl
    dec = node.dec18
    # the decimal must ROUND-TRIP the value: a 1e-20 casts to 0E-18
    exact = dec.isNotNull() & (dec.cast("double") == node.dval)
    return F.when(exact, op(dec, F.lit(bound).cast(DEC18))).otherwise(dbl)


def number_equals(node, x: Any) -> Column:
    """JSON equality with the number ``x``: 1 == 1.0, exact past 2^53,
    never equal to a value of another type."""
    pred = number_compare(node, operator.eq, x)
    return node.is_type("number") & pred if node.number_kind == "variant" else pred


def multiple_of(node, m: Any) -> Column:
    """``multipleOf m`` in tiers, each decimal one only where the value
    round-trips through it (1e-20 casts to 0E-12, a multiple of all);
    try_cast, as ANSI mode errors a plain cast on overflow. (1) A
    decimal(38,12) modulus, reading the value from ``dec18`` where it
    fits (through double, ...999 % 2 was 0); 12 places make a parsed
    19.99 act as Decimal("19.99"). (2) To ~1e36, doubles are integral
    and cast by shortest repr, so a scale-0 modulus against m at its
    own scale is exact. (3) Beyond, a double modulus. %, not pmod: pmod
    adds m back, and -1e-20 + m rounds to m."""
    _require_number(m, "multipleOf")
    if isinstance(m, int) and node.number_kind == "bigint":
        return node.col % F.lit(m) == 0
    dval = node.dval
    m_dec = decimal.Decimal(repr(m) if isinstance(m, float) else m)
    m_scale = max(0, -m_dec.as_tuple().exponent)
    mval = F.coalesce(node.dec18.try_cast("decimal(38,12)"), dval.try_cast("decimal(38,12)"))
    branch = F.when(mval.isNotNull() & (mval.cast("double") == dval),
                    (mval % F.lit(m).cast("decimal(38,12)")) == 0)
    if m_scale <= 12 and len(m_dec.as_tuple().digits) <= 38 - m_scale:
        v0 = dval.try_cast("decimal(38,0)")
        big_guard = (v0.isNotNull() & (v0.cast("double") == dval)
                     & (F.abs(dval) < F.lit(float(10 ** (36 - m_scale)))))
        branch = branch.when(
            big_guard, (v0 % F.lit(float(m)).cast(f"decimal(38,{m_scale})")) == 0)
    return branch.otherwise((dval % F.lit(float(m))) == 0)


def is_integral(node) -> Column:
    """The ``integer`` test of a number: fmod, exact at any magnitude
    (floor yields a BIGINT, which ANSI mode errors past 2^63) and
    sign-preserving (pmod rounds -1e-20 + 1.0 to 1.0)."""
    return (node.dval % F.lit(1.0)) == 0


def number_text(node) -> Column:
    """A number as a violation's ``value`` (``evaluator.shown``): its
    digits when integral and below 2^63 in magnitude, else
    ``CAST(CAST(x AS DOUBLE) AS STRING)``."""
    d = node.dval
    return F.when(is_integral(node) & (F.abs(d) < F.lit(2.0 ** 63)),
                  d.cast("bigint").cast("string")).otherwise(d.cast("string"))


def _EMPTY_ARR() -> Column:
    # built lazily: Column construction needs an active SparkSession
    return F.array().cast(VIOLATION_DDL)


def _violation(keyword: str, ipath: Column, kpath: str, value: Column, error: str) -> Column:
    """One record (``evaluator.Violation``): ``value`` is the instance
    as ``node.value`` renders it, or a count or a name."""
    parts = {
        "keyword": F.lit(keyword),
        "instance_path": ipath,
        "keyword_path": F.lit(kpath),
        "value": F.substring(value.cast("string"), 1, VALUE_CHARS),
        "error": F.lit(error),
    }
    return F.struct(*[parts[name].alias(name) for name in _FIELDS])


def _check(pred: Column, keyword: str, ipath: Column, kpath: str, value: Column, error: str):
    """(valid, violations) for one leaf assertion; NULL pred counts as fail."""
    ok = F.coalesce(pred, F.lit(False))
    viol = F.when(ok, _EMPTY_ARR()).otherwise(
        F.array(_violation(keyword, ipath, kpath + "/" + keyword, value, error))
    )
    return ok, viol


def _concat(*viols: Column) -> Column:
    vs = [v for v in viols if v is not None]
    if not vs:
        return _EMPTY_ARR()
    if len(vs) == 1:
        return vs[0]
    return F.concat(*vs)


def _esc_key(k: Column) -> Column:
    """JSON-pointer-escape a dynamic key Column (~ -> ~0, / -> ~1)."""
    return F.replace(
        F.replace(k, F.lit("~"), F.lit("~0")), F.lit("/"), F.lit("~1")
    )


def each_member(members: Column, visit: Callable, ok: str = "ok") -> tuple[Column, Column]:
    """Visit every member of the array ``members`` once: ``visit``
    takes what ``F.transform``'s function takes (the member, or the
    member and its index) and gives its (valid, violations), kept as
    one ``struct(ok, w)`` per member. Returns (every member passed,
    NULL for a NULL array; the failing members' violations, flattened)."""
    def member(v: Column, w: Column) -> Column:
        return F.struct(F.coalesce(v, F.lit(False)).alias(ok), w.cast(VIOLATION_DDL).alias("w"))

    if len(inspect.signature(visit).parameters) == 2:
        res = F.transform(members, lambda e, i: member(*visit(e, i)))
    else:
        res = F.transform(members, lambda e: member(*visit(e)))
    return (F.forall(res, lambda r: r[ok]),
            F.flatten(F.transform(F.filter(res, lambda r: ~r[ok]), lambda r: r["w"])))


# Predicates known at compile time stay Python bools: a static key (a
# struct field name) folds, and no Column is built for a member no
# keyword can mark.
def _all(*preds):
    out = True
    for p in preds:
        if p is False:
            return False
        if p is not True:
            out = p if out is True else out & p
    return out


def _any(*preds):
    out = False
    for p in preds:
        if p is True:
            return True
        if p is not False:
            out = p if out is False else out | p
    return out


def _not(p):
    return not p if isinstance(p, bool) else ~p


def _col(p) -> Column:
    return p if isinstance(p, Column) else F.lit(p)


def _search(pattern: str, key):
    """``re.search(pattern, key)``: folded for a static key, ``rlike``
    for a Column; the empty pattern matches every name."""
    if not pattern:
        return True
    if isinstance(key, Column):
        return rlike(key, pattern)
    return re.search(pattern, key) is not None


def _unnamed(key, names, patterns):
    """``key`` is none of ``names`` and matches none of ``patterns``:
    the names ``additionalProperties`` applies to."""
    return _all(*[_not(key == n) for n in names], *[_not(_search(p, key)) for p in patterns])


def _base(schema: dict, base_uri: str) -> str:
    if isinstance(schema.get("$id"), str):
        return urljoin(base_uri, schema["$id"]).split("#", 1)[0]
    return base_uri


_REFS = ("$ref", "$dynamicRef", "$recursiveRef")
_BOUNDS = (("maximum", operator.le), ("exclusiveMaximum", operator.lt),
           ("minimum", operator.ge), ("exclusiveMinimum", operator.gt))

# every keyword the walker reads, plus the ones that are inert during
# evaluation ($anchor and friends are registered by the catalog at
# compile time; annotations never assert)
KEYWORDS = frozenset({
    "type", "enum", "const", "multipleOf", "maximum", "exclusiveMaximum",
    "minimum", "exclusiveMinimum", "maxLength", "minLength", "pattern",
    "format", "required", "dependentRequired", "maxProperties",
    "minProperties", "properties", "additionalProperties", "propertyNames",
    "patternProperties", "dependentSchemas", "unevaluatedProperties",
    "maxItems", "minItems", "uniqueItems", "prefixItems", "items",
    "additionalItems", "contains", "maxContains", "minContains",
    "unevaluatedItems", "allOf", "anyOf", "oneOf", "not", "if", "then",
    "else", *_REFS, "$defs", "$id", "$schema", "$anchor",
    "$dynamicAnchor", "$recursiveAnchor", "$comment", "title",
    "description", "default", "deprecated", "examples", "readOnly",
    "writeOnly",
})


class KeywordWalker:
    """Compile one schema document into (valid, violations) Columns
    over a node (see the module docstring)."""

    def __init__(self, catalog: SchemaCatalog, assert_formats: bool = False) -> None:
        self.catalog = catalog
        self.assert_formats = assert_formats
        # dialect of the root, derived like the evaluator's _dialect_of:
        # it gates the 2019-09 tuple-items/additionalItems forms
        self.dialect = "2020-12"
        # cyclic-$ref guard: an unguarded cycle would recurse unboundedly
        # BUILDING Column expressions instead of raising CannotLower
        self._ref_stack: list[int] = []
        # root (schema, base) captured at walk(); the dynamic-ref
        # closure preload runs once, on first $dynamicRef/$recursiveRef
        self._root: tuple[Any, str] | None = None
        self._closure_done = False
        # node -> [(schema, base, valid)] of every visit: ``passes``
        # reuses the verdicts the walk built, found by identity
        self._verdicts: dict[Any, list] = {}

    def walk(self, schema: Any, node, base_uri: str, ipath: Column, kpath: str = ""):
        if self._root is None:
            self._root = (schema, base_uri)
            meta = schema.get("$schema") if isinstance(schema, dict) else None
            if isinstance(meta, str) and "2019-09" in meta:
                self.dialect = "2019-09"
        return self.visit(schema, node, base_uri, ipath, kpath)

    # -- references -----------------------------------------------------------
    def _dynamic_target(self, keyword: str, ref: Any, base_uri: str):
        """Static (target, tbase) for a $dynamicRef/$recursiveRef, or
        CannotLower when the runtime rebinding is genuinely dynamic.
        Semantics mirror evaluator.py's bookending + outermost-scope
        rebind: a ref whose rebinding provably lands on its initial
        resolution is a plain $ref and lowers inline."""
        if not isinstance(ref, str):
            raise CannotLower(f"non-string {keyword} -> batch")
        if not self._closure_done:
            if self._root is not None:
                self.catalog.preload_ref_closure(*self._root)
            self._closure_done = True
        resolver = (
            self.catalog.static_dynamic_target
            if keyword == "$dynamicRef"
            else self.catalog.static_recursive_target
        )
        got = resolver(ref, base_uri)
        if got is None:
            raise CannotLower(f"{keyword} {ref!r} rebinds dynamically -> batch")
        return got

    def _ref_targets(self, schema: dict, base_uri: str):
        """(keyword, target, target base) for each reference keyword."""
        for kw in _REFS:
            if kw in schema:
                if kw == "$ref":
                    yield kw, *self.catalog.resolve(schema[kw], base_uri)
                else:
                    yield kw, *self._dynamic_target(kw, schema[kw], base_uri)

    def _inline(self, kw: str, target: Any, kpath: str, build: Callable):
        """``build()`` with ``target`` entered: acyclic references
        inline, cycles route to batch."""
        tid = id(target)
        if tid in self._ref_stack:
            raise CannotLower(f"cyclic {kw} at {kpath} -> batch")
        self._ref_stack.append(tid)
        try:
            return build()
        finally:
            self._ref_stack.pop()

    # -- core -----------------------------------------------------------------
    def visit(self, schema: Any, node, base_uri: str, ipath: Column, kpath: str):
        if isinstance(schema, bool):
            if schema:
                return F.lit(True), _EMPTY_ARR()
            # attribute the failure to the keyword holding the false
            # schema — evaluator parity (a bare '' keyword diverged,
            # found by the round-4 random differential)
            kw = kpath.rsplit("/", 1)[-1] if kpath else ""
            return F.lit(False), F.array(_violation(kw, ipath, kpath, node.value,
                                                    MESSAGES["false"]))
        if not isinstance(schema, dict):
            raise CannotLower(f"schema must be bool or object at {kpath}")

        seen = (schema, base_uri)
        base_uri = _base(schema, base_uri)
        # custom metaschemas can re-wire keyword semantics (notably a
        # $vocabulary declaring format-assertion makes `format` assert
        # — honored by the evaluator since round 6): anything but the
        # standard json-schema.org dialect URIs routes to batch
        meta = schema.get("$schema")
        if isinstance(meta, str):
            if not meta.startswith("https://json-schema.org/draft"):
                raise CannotLower(f"custom metaschema {meta!r} -> batch")
            if ("2019-09" if "2019-09" in meta else "2020-12") != self.dialect:
                raise CannotLower("nested dialect switch -> batch")
        if self.dialect == "2019-09" and "prefixItems" in schema:
            # not a 2019-09 keyword: the evaluator treats it as an
            # annotation; enforcing it here would diverge
            raise CannotLower("prefixItems under 2019-09 -> batch")
        node.admit(schema, self.dialect)

        valids: list[Column] = []
        viols: list[Column] = []

        def add(v: Column, w: Column) -> None:
            valids.append(v)
            viols.append(w)

        for kw, target, tbase in self._ref_targets(schema, base_uri):
            add(*self._inline(kw, target, kpath, lambda: self.visit(
                target, node, tbase, ipath, f"{kpath}/{kw}")))

        if "type" in schema:
            wanted = schema["type"]
            if isinstance(wanted, str):
                wanted = [wanted]
            add(*_check(node.type_pred(wanted), "type", ipath, kpath,
                        node.value, message("type", wanted)))
        if "enum" in schema:
            add(*_check(node.enum_pred(schema["enum"]), "enum", ipath, kpath,
                        node.value, message("enum")))
        if "const" in schema:
            add(*_check(node.const_pred(schema["const"]), "const", ipath, kpath,
                        node.value, message("const")))

        if node.may_be("number"):
            if "multipleOf" in schema:
                m = schema["multipleOf"]
                add(*_check(node.guard("number", multiple_of(node, m)), "multipleOf",
                            ipath, kpath, node.value, message("multipleOf", m)))
            for kw, op in _BOUNDS:
                if kw in schema:
                    add(*_check(node.guard("number", number_compare(node, op, schema[kw])),
                                kw, ipath, kpath, node.value, message(kw, schema[kw])))

        if node.may_be("string"):
            # the instance is a string wherever these fail: ``string`` is its value
            s = node.string
            if "maxLength" in schema:
                add(*_check(node.guard("string", F.length(s) <= schema["maxLength"]),
                            "maxLength", ipath, kpath, s,
                            message("maxLength", schema["maxLength"])))
            if "minLength" in schema:
                add(*_check(node.guard("string", F.length(s) >= schema["minLength"]),
                            "minLength", ipath, kpath, s,
                            message("minLength", schema["minLength"])))
            if "pattern" in schema:
                pat = schema["pattern"]
                add(*_check(node.guard("string", rlike(s, pat)), "pattern", ipath,
                            kpath, s, message("pattern", pat)))
        if "format" in schema and self.assert_formats:
            self.format(schema["format"], node, ipath, kpath, add)

        if node.may_be("object"):
            self._object(schema, node, base_uri, ipath, kpath, add)
        if node.may_be("array"):
            self._array(schema, node, base_uri, ipath, kpath, add)
        self._combinators(schema, node, base_uri, ipath, kpath, add)

        # custom keywords (functions/registry.py), gated as the
        # evaluator gates them: they apply to values of their JSON types
        # only, so JSON null passes (the variant node admits none)
        for kw_name, entry in registry.KEYWORD_REGISTRY.items():
            types = [t for t in entry.instance_types if node.may_be(t)]
            if kw_name in schema and types:
                if entry.column_fn is None:
                    raise CannotLower(
                        f"custom keyword {kw_name!r} has no Column lowering -> batch"
                    )
                if "null" in entry.instance_types:
                    raise CannotLower(f"custom keyword {kw_name!r} applies to null -> batch")
                pred = entry.column_fn(schema[kw_name], node.col, node.dtype)
                add(*_check(node.guard(types[0], pred), kw_name, ipath, kpath,
                            node.value, entry.error))
        # unevaluated* last, as in the evaluator: the verdicts of the
        # siblings it reads are built by now, and ``passes`` reuses them
        if "unevaluatedProperties" in schema and node.may_be("object"):
            self._unevaluated(schema, node, base_uri, ipath, kpath, False, add)
        if "unevaluatedItems" in schema and node.may_be("array"):
            self._unevaluated(schema, node, base_uri, ipath, kpath, True, add)

        if not valids:
            return F.lit(True), _EMPTY_ARR()
        valid = valids[0]
        for v in valids[1:]:
            valid = valid & v
        self._verdicts.setdefault(node, []).append((*seen, valid))
        return valid, _concat(*viols)

    def format(self, fmt: Any, node, ipath: Column, kpath: str, add) -> None:
        """An asserted ``format``, by the entry the evaluator reads
        (registry.format_entry). An unknown name only annotates
        (jschon's vocabulary/format.py:14-32); a format this route
        cannot decide as the evaluator does raises CannotLower."""
        entry = registry.format_entry(fmt)
        if entry is None or not any(map(node.may_be, entry.instance_types)):
            return
        if tuple(entry.instance_types) != ("string",):
            raise CannotLower(f"format {fmt!r} applies to {entry.instance_types} -> batch")
        if entry.column_fn is None:
            raise CannotLower(f"format {fmt!r} has no Column form -> batch")
        column_fn = entry.column_fn
        if isinstance(node.dtype, (T.TimestampType, T.DateType)):
            # date_format output is a real day by construction: the
            # flagship warc_ts date-time check stays one rlike
            column_fn = getattr(column_fn, "regex_only", column_fn)
        add(*node.check_string(column_fn(node.string), "format", ipath, kpath,
                               message("format", fmt)))

    def passes(self, schema: Any, node, base_uri: str):
        """Non-NULL verdict of ``schema`` on ``node``, violations unused;
        a Python bool for ``true``, ``{}`` and ``false``."""
        if isinstance(schema, bool) or schema == {}:
            return schema is not False
        ok = next((v for s, b, v in self._verdicts.get(node, ())
                   if s is schema and b == base_uri), None)
        if ok is None:
            ok, _ = self.visit(schema, node, base_uri, F.lit(""), "")
        return F.coalesce(ok, F.lit(False))

    # -- object keywords --------------------------------------------------------
    def _object(self, schema, node, base_uri, ipath, kpath, add):
        if "maxProperties" in schema:
            n = node.prop_count
            add(*_check(node.guard("object", n <= schema["maxProperties"]),
                        "maxProperties", ipath, kpath, n,
                        message("maxProperties", schema["maxProperties"])))
        if "minProperties" in schema:
            n = node.prop_count
            add(*_check(node.guard("object", n >= schema["minProperties"]),
                        "minProperties", ipath, kpath, n,
                        message("minProperties", schema["minProperties"])))
        if schema.get("required"):
            # ONE violation listing every missing name — the evaluator
            # (like the reference) reports required once per keyword,
            # not once per name (found by the round-4 random differential)
            present = [(r, node.has(r)) for r in schema["required"]]
            all_ok = present[0][1]
            for _, p in present[1:]:
                all_ok = all_ok & p
            missing = F.concat_ws(
                ", ", *[F.when(p, F.lit(None)).otherwise(F.lit(r)) for r, p in present]
            )
            add(*_check(node.guard("object", all_ok), "required", ipath, kpath,
                        missing, message("required")))
        for k, deps in schema.get("dependentRequired", {}).items():
            if node.fields is not None and k not in node.fields:
                continue
            dep_ok = F.lit(True)
            for d in deps:
                dep_ok = dep_ok & node.has(d)
            add(*_check(F.when(node.present(k), dep_ok).otherwise(F.lit(True)),
                        "dependentRequired", ipath, kpath, F.lit(k),
                        message("dependentRequired", k, deps)))

        props = schema.get("properties", {})
        pats = schema.get("patternProperties", {})
        for name, sub in props.items():
            self._property(node, name, sub, base_uri, ipath,
                           f"{kpath}/properties/{pointer_escape(name)}", add)
        for pat, sub in pats.items():
            check_regex_dialect(pat)
            kp = f"{kpath}/patternProperties/{pointer_escape(pat)}"
            if node.fields is not None:
                rx = re.compile(pat)
                for name in node.fields:
                    if rx.search(name):
                        self._property(node, name, sub, base_uri, ipath, kp, add)
            elif sub is not True:
                add(*self._entries(node, _key_matches(pat), sub, base_uri, ipath, kp))
        if "additionalProperties" in schema:
            self._uncovered(node, schema["additionalProperties"],
                            lambda key, child: _unnamed(key, props, pats), base_uri, ipath,
                            f"{kpath}/additionalProperties", add)
        if "propertyNames" in schema:
            self._property_names(node, schema["propertyNames"], base_uri, ipath,
                                 f"{kpath}/propertyNames", add)
        for k, sub in schema.get("dependentSchemas", {}).items():
            if node.fields is not None and k not in node.fields:
                continue
            # the dependent subschema applies to the SAME instance
            v, w = self.visit(sub, node, base_uri, ipath,
                              f"{kpath}/dependentSchemas/{pointer_escape(k)}")
            applies = node.present(k)
            add(F.when(applies, v).otherwise(F.lit(True)),
                F.when(applies, w.cast(VIOLATION_DDL)).otherwise(_EMPTY_ARR()))

    def _property(self, node, name, sub, base_uri, ipath, kp, add, applies_to=None):
        """``sub`` applied to the property ``name`` when it is present
        (and ``applies_to(name, child)``, where given)."""
        got = node.prop(name)
        if got is None:
            return  # absent in the physical schema = never present
        child, applies = got
        if applies_to is not None:
            applies = _all(applies, applies_to(name, child))
            if applies is False:
                return
        v, w = self.visit(sub, child, base_uri,
                          F.concat(ipath, F.lit("/" + pointer_escape(name))), kp)
        add(F.when(applies, v).otherwise(F.lit(True)),
            F.when(applies, w).otherwise(_EMPTY_ARR()))

    def _entries(self, node, keep: Callable[[Column], Column], sub, base_uri, ipath, kp):
        """``sub`` applied to every object entry passing ``keep``, as
        higher-order functions over the node's ``map_entries``; a false
        ``sub`` reports each kept key directly."""
        kept = F.filter(node.entries, keep)
        kw = kp.rsplit("/", 1)[-1]

        def child_path(e: Column) -> Column:
            return F.concat(ipath, F.lit("/"), _esc_key(e["key"]))

        if sub is False:
            pred = node.guard("object", F.size(kept) == 0)
            bad = F.transform(kept, lambda e: _violation(
                kw, child_path(e), kp, node.member(e["value"]).value, MESSAGES["false"])
            ).cast(VIOLATION_DDL)
        else:
            allok, bad = each_member(kept, lambda e: self.visit(
                sub, node.member(e["value"]), base_uri, child_path(e), kp))
            pred = node.guard("object", F.coalesce(allok, F.lit(True)))
            bad = bad.cast(VIOLATION_DDL)
        return F.coalesce(pred, F.lit(False)), F.when(pred, _EMPTY_ARR()).otherwise(bad)

    def _uncovered(self, node, sub, applies_to, base_uri, ipath, kp, add):
        """``sub`` applied to every present property where
        ``applies_to(name, child)`` holds (True, False or a Column; the
        name is a str for a struct field, else the entry's key)."""
        if node.fields is not None:
            for name in node.fields:
                self._property(node, name, sub, base_uri, ipath, kp, add, applies_to)
            return
        if sub is True:
            return
        add(*self._entries(node, lambda e: _col(applies_to(e["key"], node.member(e["value"]))),
                           sub, base_uri, ipath, kp))

    def _property_names(self, node, sub, base_uri, ipath, kp, add):
        """Evaluator parity: a failing name emits the 'propertyNames'
        row AND the name subschema's own violation rows."""
        if node.fields is not None:
            # field names are static: evaluate each name at compile time
            # with the driver-side evaluator, at this node's base URI so
            # a $ref resolves in its own document; rows rebased under kp
            program = Evaluator(self.catalog).compile(sub, base_uri)
            for name in node.fields:
                o = program.outcome(name)
                if o.valid:
                    continue
                ok = F.coalesce(node.col[name].isNull(), F.lit(True))
                rows = [
                    _violation("propertyNames", ipath, kp, F.lit(name),
                               message("propertyNames"))
                ] + [
                    _violation(e.keyword, F.concat(ipath, F.lit(e.instance_path)),
                               f"{kp}{e.keyword_path}", F.lit(name), e.error)
                    for e in o.errors
                ]
                add(ok, F.when(ok, _EMPTY_ARR()).otherwise(
                    F.array(*rows).cast(VIOLATION_DDL)))
            return
        from jschon_spark.lowering.columns import TypedNode

        def name_result(k: Column):
            ok, w = self.visit(sub, TypedNode(k, T.StringType()), base_uri, ipath, kp)
            return ok, F.concat(
                F.array(_violation("propertyNames", ipath, kp, k,
                                   message("propertyNames"))).cast(VIOLATION_DDL),
                w.cast(VIOLATION_DDL))

        allok, bad = each_member(node.keys, name_result)
        pred = node.guard("object", allok)
        viol = F.when(node.is_type("object") & ~F.coalesce(pred, F.lit(True)), bad
                      ).otherwise(_EMPTY_ARR()).cast(VIOLATION_DDL)
        add(F.coalesce(pred, F.lit(False)), viol)

    # -- array keywords ---------------------------------------------------------
    def _array(self, schema, node, base_uri, ipath, kpath, add):
        if "maxItems" in schema:
            n = node.size
            add(*_check(node.guard("array", n <= schema["maxItems"]), "maxItems",
                        ipath, kpath, n, message("maxItems", schema["maxItems"])))
        if "minItems" in schema:
            n = node.size
            add(*_check(node.guard("array", n >= schema["minItems"]), "minItems",
                        ipath, kpath, n, message("minItems", schema["minItems"])))
        if schema.get("uniqueItems"):
            add(*_check(node.guard("array", node.unique_items()), "uniqueItems",
                        ipath, kpath, node.value, message("uniqueItems")))

        prefix, prefix_kw, rest_kw = self.item_keywords(schema)
        for j, sub in enumerate(prefix):
            child, applies = node.item(j)
            v, w = self.visit(sub, child, base_uri, F.concat(ipath, F.lit(f"/{j}")),
                              f"{kpath}/{prefix_kw}/{j}")
            add(F.when(applies, v).otherwise(F.lit(True)),
                F.when(applies, w).otherwise(_EMPTY_ARR()))
        if rest_kw in schema:
            add(*self.each_item(node, schema[rest_kw], len(prefix), base_uri, ipath,
                                f"{kpath}/{rest_kw}"))

        if "contains" in schema:
            sub = schema["contains"]
            n_match = F.size(F.filter(node.arr, lambda e: F.coalesce(self.visit(
                sub, node.member(e), base_uri, ipath, f"{kpath}/contains")[0], F.lit(False))))
            # evaluator parity: a bare contains miss reports "contains";
            # explicit bounds report min/maxContains
            min_c = schema.get("minContains", 1)
            if min_c > 0:
                add(*_check(node.guard("array", n_match > 0), "contains", ipath, kpath,
                            n_match, message("contains")))
            if "maxContains" in schema:
                mx = schema["maxContains"]
                add(*_check(node.guard("array", n_match <= mx), "maxContains", ipath,
                            kpath, n_match, message("maxContains", mx)))
            if "minContains" in schema:
                add(*_check(node.guard("array", n_match >= min_c), "minContains", ipath,
                            kpath, n_match, message("minContains", min_c)))

    def item_keywords(self, schema):
        """(positional subschemas, their keyword, the rest-schema
        keyword): the 2019-09 tuple form of items with additionalItems,
        else prefixItems with items."""
        items = schema.get("items")
        if isinstance(items, list):
            if self.dialect != "2019-09":
                raise CannotLower("tuple items outside 2019-09 -> batch")
            return items, "items", "additionalItems"
        return schema.get("prefixItems", []), "prefixItems", "items"

    def each_item(self, node, sub, start: int, base_uri, ipath, kp, covered=None):
        """``sub`` applied to every element at index >= start, with
        positions in the ORIGINAL array for violation paths; an element
        ``covered(index, child)`` marks passes (unevaluatedItems)."""
        def visit(e: Column, i: Column):
            child, at = node.member(e), i + start
            v, w = self.visit(sub, child, base_uri,
                              F.concat(ipath, F.lit("/"), at.cast("string")), kp)
            return (v if covered is None else _col(_any(covered(at, child), v))), w

        rest = F.slice(node.arr, start + 1, F.greatest(node.size - start, F.lit(0)))
        # "v": the field name the variant items plans have always carried
        allok, bad = each_member(rest, visit, ok="v")
        pred = node.guard("array", F.coalesce(allok, F.lit(True)))
        viol = F.when(node.is_type("array") & ~F.coalesce(allok, F.lit(True)), bad
                      ).otherwise(_EMPTY_ARR()).cast(VIOLATION_DDL)
        return F.coalesce(pred, F.lit(False)), viol

    # -- combinators -----------------------------------------------------------
    def _combinators(self, schema, node, base_uri, ipath, kpath, add):
        if "allOf" in schema:
            for i, sub in enumerate(schema["allOf"]):
                add(*self.visit(sub, node, base_uri, ipath, f"{kpath}/allOf/{i}"))
        if "anyOf" in schema:
            parts = [
                self.visit(sub, node, base_uri, ipath, f"{kpath}/anyOf/{i}")
                for i, sub in enumerate(schema["anyOf"])
            ]
            any_ok = parts[0][0]
            for v, _ in parts[1:]:
                any_ok = any_ok | v
            viol = F.when(any_ok, _EMPTY_ARR()).otherwise(
                _concat(
                    F.array(_violation("anyOf", ipath, f"{kpath}/anyOf", node.value,
                                       message("anyOf"))),
                    *[w for _, w in parts],
                )
            )
            add(F.coalesce(any_ok, F.lit(False)), viol)
        if "oneOf" in schema:
            parts = [
                self.visit(sub, node, base_uri, ipath, f"{kpath}/oneOf/{i}")
                for i, sub in enumerate(schema["oneOf"])
            ]
            n_ok = parts[0][0].cast("int")
            for v, _ in parts[1:]:
                n_ok = n_ok + v.cast("int")
            ok = n_ok == 1
            viol = F.when(ok, _EMPTY_ARR()).otherwise(
                F.array(_violation("oneOf", ipath, f"{kpath}/oneOf", n_ok,
                                   message("oneOf")))
            )
            add(F.coalesce(ok, F.lit(False)), viol)
        if "not" in schema:
            v, _ = self.visit(schema["not"], node, base_uri, ipath, f"{kpath}/not")
            add(*_check(~v, "not", ipath, kpath, node.value, message("not")))
        if "if" in schema:
            cond, _ = self.visit(schema["if"], node, base_uri, ipath, f"{kpath}/if")
            cond = F.coalesce(cond, F.lit(False))
            if "then" in schema:
                v, w = self.visit(schema["then"], node, base_uri, ipath, f"{kpath}/then")
                add(F.when(cond, v).otherwise(F.lit(True)),
                    F.when(cond, w).otherwise(_EMPTY_ARR()))
            if "else" in schema:
                v, w = self.visit(schema["else"], node, base_uri, ipath, f"{kpath}/else")
                add(F.when(~cond, v).otherwise(F.lit(True)),
                    F.when(~cond, w).otherwise(_EMPTY_ARR()))

    # -- unevaluated* ------------------------------------------------------------
    def _unevaluated(self, schema, node, base_uri, ipath, kpath, item: bool, add) -> None:
        """``unevaluatedItems`` (``item``) or ``unevaluatedProperties``
        applied to the present members its siblings leave unevaluated."""
        kw = "unevaluatedItems" if item else "unevaluatedProperties"
        sub, kp = schema[kw], f"{kpath}/{kw}"
        if sub is True:
            return
        # base_uri is already this schema's: its $id must not apply twice
        siblings = {k: v for k, v in schema.items() if k not in (kw, "$id")}

        def covered(key, child):
            return self.evaluated(siblings, node, base_uri, key, child, item)

        if item:
            add(*self.each_item(node, sub, 0, base_uri, ipath, kp, covered))
        else:
            self._uncovered(node, sub, lambda key, child: _not(covered(key, child)),
                            base_uri, ipath, kp, add)

    def evaluated(self, schema, node, base_uri: str, key, child, item: bool):
        """Whether the annotations of ``schema`` at ``node`` mark its
        member ``key`` (an index with ``item``, else a property name; a
        str for a struct field, else a Column) as evaluated, ``child``
        being the member's node: True, False or a Column. The
        evaluator's rule (``_Frame.located`` and ``merge``): a keyword
        marks the members it passes on, and an in-place subschema
        passes its marks up only where it passes."""
        if not isinstance(schema, dict):
            return False
        base_uri = _base(schema, base_uri)

        def mark(cond, sub):
            return False if cond is False else _all(cond, self.passes(sub, child, base_uri))

        if item:
            prefix, _, rest_kw = self.item_keywords(schema)
            marks = [mark(key == j, sub) for j, sub in enumerate(prefix)]
            if rest_kw in schema:
                marks.append(mark(key >= len(prefix), schema[rest_kw]))
            if "contains" in schema and self.dialect != "2019-09":
                # 2019-09 collects only items/additionalItems annotations
                marks.append(mark(True, schema["contains"]))
        else:
            props = schema.get("properties", {})
            pats = schema.get("patternProperties", {})
            marks = [mark(key == name, sub) for name, sub in props.items()]
            marks += [mark(_search(p, key), sub) for p, sub in pats.items()]
            if "additionalProperties" in schema:
                marks.append(mark(_unnamed(key, props, pats), schema["additionalProperties"]))
        kw = "unevaluatedItems" if item else "unevaluatedProperties"
        if kw in schema:
            # it marks where it passes among the members its siblings
            # leave: with theirs, every member marked or passing
            marks.append(mark(True, schema[kw]))

        def in_place(sub, cond=True, base=base_uri):
            inner = False if cond is False else self.evaluated(sub, node, base, key, child, item)
            return False if inner is False else _all(cond, self.passes(sub, node, base), inner)

        for kw, target, tbase in self._ref_targets(schema, base_uri):
            marks.append(self._inline(kw, target, "", lambda: in_place(target, base=tbase)))
        for comb in ("allOf", "anyOf", "oneOf"):
            marks += [in_place(sub) for sub in schema.get(comb, [])]
        if "if" in schema:
            cond = self.passes(schema["if"], node, base_uri)
            marks.append(in_place(schema["if"]))
            if "then" in schema:
                marks.append(in_place(schema["then"], cond))
            if "else" in schema:
                marks.append(in_place(schema["else"], _not(cond)))
        if not item:
            for k, sub in schema.get("dependentSchemas", {}).items():
                if node.fields is None or k in node.fields:
                    marks.append(in_place(sub, node.present(k)))
        return _any(*marks)


def _key_matches(pattern: str) -> Callable[[Column], Column]:
    # higher-order-function lambdas must be unary — pyspark reads the
    # Python arity, so a defaulted second param would bind the array
    # *index*. Close over values with factories instead.
    return lambda e: rlike(e["key"], pattern)
