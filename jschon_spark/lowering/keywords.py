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
how array elements and object entries are enumerated, and
``unevaluated*`` coverage (the static coverage algebra below for typed
nodes, a conservative local gate for variant nodes). Numbers have one
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


_REFS = ("$ref", "$dynamicRef", "$recursiveRef")
_BOUNDS = (("maximum", operator.le), ("exclusiveMaximum", operator.lt),
           ("minimum", operator.ge), ("exclusiveMinimum", operator.gt))
_BRANCHES = ("anyOf", "oneOf", "if", "then", "else", "dependentSchemas")

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

        if isinstance(schema.get("$id"), str):
            base_uri = urljoin(base_uri, schema["$id"]).split("#", 1)[0]
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

        # acyclic references inline; cycles route to batch
        for kw, target, tbase in self._ref_targets(schema, base_uri):
            tid = id(target)
            if tid in self._ref_stack:
                raise CannotLower(f"cyclic {kw} at {kpath} -> batch")
            self._ref_stack.append(tid)
            try:
                add(*self.visit(target, node, tbase, ipath, f"{kpath}/{kw}"))
            finally:
                self._ref_stack.pop()

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

        if not valids:
            return F.lit(True), _EMPTY_ARR()
        valid = valids[0]
        for v in valids[1:]:
            valid = valid & v
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

    def passes(self, schema: Any, node, base_uri: str) -> Column:
        """Non-NULL verdict of ``schema`` on ``node``, violations unused."""
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
            self._uncovered(node, schema["additionalProperties"], schema, list(props),
                            list(pats), base_uri, ipath, f"{kpath}/additionalProperties", add)
        if "unevaluatedProperties" in schema:
            names, patterns, valid_aware = node.unevaluated_properties(self, schema, base_uri)
            self._uncovered(node, schema["unevaluatedProperties"], schema, names,
                            patterns, base_uri, ipath, f"{kpath}/unevaluatedProperties",
                            add, valid_aware)
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

    def _property(self, node, name, sub, base_uri, ipath, kp, add):
        """``sub`` applied to the property ``name`` when it is present."""
        got = node.prop(name)
        if got is None:
            return  # absent in the physical schema = never present
        child, applies = got
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
                kw, child_path(e), kp, node.entry_node(e["value"]).value, MESSAGES["false"])
            ).cast(VIOLATION_DDL)
        else:
            def result(e: Column) -> Column:
                v, w = self.visit(sub, node.entry_node(e["value"]), base_uri,
                                  child_path(e), kp)
                return F.struct(
                    F.coalesce(v, F.lit(False)).alias("ok"),
                    w.cast(VIOLATION_DDL).alias("w"),
                )

            res = F.transform(kept, result)
            pred = node.guard(
                "object", F.coalesce(F.forall(res, lambda r: r["ok"]), F.lit(True))
            )
            bad = F.flatten(
                F.transform(F.filter(res, lambda r: ~r["ok"]), lambda r: r["w"])
            ).cast(VIOLATION_DDL)
        return F.coalesce(pred, F.lit(False)), F.when(pred, _EMPTY_ARR()).otherwise(bad)

    def _uncovered(self, node, sub, schema, names, patterns, base_uri, ipath, kp,
                   add, valid_aware: bool = False):
        """``sub`` applied to the properties no name in ``names`` and no
        regex in ``patterns`` covers ('' covers every name). With
        ``valid_aware`` (variant unevaluatedProperties) a sibling covers
        a key only where it evaluated it validly; an
        additionalProperties:true sibling then leaves only the
        name-matched but failed keys unevaluated."""
        if node.fields is not None:
            rxs = [re.compile(p) for p in patterns]
            for name in node.fields:
                if name not in names and not any(rx.search(name) for rx in rxs):
                    self._property(node, name, sub, base_uri, ipath, kp, add)
            return
        if sub is True:
            return
        props = schema.get("properties") or {}
        pats = schema.get("patternProperties") or {}
        ap_true = valid_aware and schema.get("additionalProperties") is True

        def keep(e: Column) -> Column:
            cond = F.lit(True)
            name_match = F.lit(False)
            for name in names:
                m = e["key"] == F.lit(name)
                if ap_true:
                    name_match = name_match | m
                if valid_aware:
                    m = m & self.passes(props[name], node.entry_node(e["value"]), base_uri)
                cond = cond & ~m
            for p in patterns:
                m = rlike(e["key"], p) if p else F.lit(True)
                if ap_true:
                    name_match = name_match | m
                if valid_aware:
                    m = m & self.passes(pats[p], node.entry_node(e["value"]), base_uri)
                cond = cond & ~m
            return cond & name_match if ap_true else cond

        add(*self._entries(node, keep, sub, base_uri, ipath, kp))

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

        keys = node.keys

        def name_result(k: Column):
            return self.visit(sub, TypedNode(k, T.StringType()), base_uri, ipath, kp)

        def per_name(k: Column) -> Column:
            ok, w = name_result(k)
            return F.when(ok, _EMPTY_ARR()).otherwise(F.concat(
                F.array(_violation("propertyNames", ipath, kp, k,
                                   message("propertyNames"))).cast(VIOLATION_DDL),
                w.cast(VIOLATION_DDL),
            ))

        pred = node.guard("object", F.forall(keys, lambda k: name_result(k)[0]))
        viol = F.when(node.is_type("object") & ~F.coalesce(pred, F.lit(True)),
                      F.flatten(F.transform(keys, per_name))
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
        # built ahead of contains (whose checks it follows): the typed
        # coverage refuses contains siblings before any Column is built
        unevaluated = (node.unevaluated_items(self, schema, base_uri, ipath, kpath)
                       if "unevaluatedItems" in schema else [])

        if "contains" in schema:
            sub = schema["contains"]
            n_match = node.count_matching(
                lambda e: self.visit(sub, e, base_uri, ipath, f"{kpath}/contains")[0]
            )
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
        for pair in unevaluated:
            add(*pair)

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

    def each_item(self, node, sub, start: int, base_uri, ipath, kp):
        """``sub`` applied to every element at index >= start, with
        positions in the ORIGINAL array for violation paths."""
        return node.each_item(start, lambda e, i: self.visit(
            sub, e, base_uri, F.concat(ipath, F.lit("/"), i.cast("string")), kp))

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

    # -- unevaluated* coverage ----------------------------------------------------
    def static_coverage(self, schema, base_uri: str, item: bool, _seen=frozenset()):
        """Coverage contributed by this schema and its unconditional
        in-place children (allOf, $ref) — the compile-time annotation
        algebra for unevaluatedProperties (``item=False``: the covered
        names and patterns) and unevaluatedItems (``item=True``: the
        covered prefix length and whether the rest is covered).
        Branch applicators stay static when EVERY arm contributes
        identical coverage (annotations from a failed `if` don't count,
        so the taken-branch coverage is (if ∪ then) vs (else)); other
        branch-dependent coverage, and contains next to
        unevaluatedItems (per-element dynamic), -> CannotLower.

        Verdicts match the evaluator exactly; on documents that ALREADY
        fail a covering branch the violation list may omit redundant
        unevaluated* entries (the document is invalid either way)."""
        kw = "unevaluatedItems" if item else "unevaluatedProperties"
        if id(schema) in _seen:
            raise CannotLower("cyclic coverage -> batch")
        _seen = _seen | {id(schema)}
        if not isinstance(schema, dict):
            return (0, False) if item else (frozenset(), frozenset())
        if "dependentSchemas" in schema:
            raise CannotLower(f"{kw} with branch-dependent coverage -> batch")
        if item:
            if "contains" in schema:
                raise CannotLower("unevaluatedItems alongside contains -> batch")
            prefix, _, rest_kw = self.item_keywords(schema)
            cov = (len(prefix), rest_kw in schema)
        else:
            patterns = set(schema.get("patternProperties", {}))
            if "additionalProperties" in schema:
                patterns.add("")  # covers everything it applies to
            cov = (frozenset(schema.get("properties", {})), frozenset(patterns))

        def join(a, b):
            if item:
                return max(a[0], b[0]), a[1] or b[1]
            return a[0] | b[0], a[1] | b[1]

        def sub_cov(sub, base=base_uri):
            return self.static_coverage(sub, base, item, _seen)

        for sub in schema.get("allOf", []):
            cov = join(cov, sub_cov(sub))
        for _, target, tbase in self._ref_targets(schema, base_uri):
            cov = join(cov, sub_cov(target, tbase))
        empty = sub_cov(True)
        arms = []
        if "if" in schema:
            taken = join(sub_cov(schema["if"]), sub_cov(schema.get("then", True)))
            arms.append([taken, sub_cov(schema.get("else", True))])
        for comb in ("anyOf", "oneOf"):
            if comb in schema:
                arms.append([sub_cov(sub) for sub in schema[comb]] or [empty])
        for covs in arms:
            if any(c != covs[0] for c in covs[1:]):
                raise CannotLower(f"{kw} with branch-dependent coverage -> batch")
            cov = join(cov, covs[0])
        return cov

    def local_coverage_gate(self, schema, kw: str) -> None:
        """The conservative rule: ``kw`` lowers only when NOTHING else
        can contribute annotations at this level — in-place applicators
        and references merge child coverage the Column algebra can't
        see."""
        blockers = {*_REFS, "allOf", *_BRANCHES} & set(schema)
        if blockers:
            raise CannotLower(f"{kw} with {sorted(blockers)} -> batch")


def _key_matches(pattern: str) -> Callable[[Column], Column]:
    # higher-order-function lambdas must be unary — pyspark reads the
    # Python arity, so a defaulted second param would bind the array
    # *index*. Close over values with factories instead.
    return lambda e: rlike(e["key"], pattern)
