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
the decimal tiers of numeric bounds and ``multipleOf``, how array
elements and object entries are enumerated, and ``unevaluated*``
coverage (the static coverage algebra below for typed nodes, a
conservative local gate for variant nodes). Nodes build Columns only
when a keyword reads them.

Keywords outside the expression algebra raise :class:`CannotLower`;
the engine then runs the whole schema on the batch evaluator
(lowering/batch.py).
"""

from __future__ import annotations

import re
from typing import Any, Callable
from urllib.parse import urljoin

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.schema.catalog import SchemaCatalog, pointer_escape

VIOLATION_TYPE = T.StructType(
    [
        T.StructField("keyword", T.StringType()),
        T.StructField("instance_path", T.StringType()),
        T.StructField("keyword_path", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)
VIOLATION_DDL = (
    "array<struct<keyword:string,instance_path:string,"
    "keyword_path:string,value:string,error:string>>"
)


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


def rlike(s: Column, pattern: str) -> Column:
    """``re.search(pattern, s)`` as a Column: every emitted rlike goes
    through here. Java regex also ends lines at \\r, \\u0085, \\u2028
    and \\u2029 for `.`, `^` and `$` (so `^[a-z]{2}$` accepted "ab\\r");
    the UNIX_LINES flag (?d) leaves \\n, Python's only line
    terminator."""
    check_regex_dialect(pattern)
    return s.rlike("(?d)" + pattern)


def dec18_exact(bound: float | int) -> bool:
    """True iff ``bound`` is exactly representable in decimal(38,18).

    Spark's double->decimal cast takes the shortest repr (=
    ``Decimal(repr(b))``), so the decimal compare is only faithful when
    that repr survives quantization to 18 decimal places: a tiny bound
    like 2e-20 rounds to 0E-18 and would collapse distinct values, and
    magnitudes >= 1e20 overflow the 20 integer digits. Integer bounds
    within long range are always exact (scale 0).
    """
    import decimal

    if isinstance(bound, int):
        return abs(bound) < 2 ** 63
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


def _EMPTY_ARR() -> Column:
    # built lazily: Column construction needs an active SparkSession
    return F.array().cast(VIOLATION_DDL)


def _violation(keyword: str, ipath: Column, kpath: str, value: Column, error: str) -> Column:
    return F.struct(
        F.lit(keyword).alias("keyword"),
        ipath.alias("instance_path"),
        F.lit(kpath).alias("keyword_path"),
        F.substring(value.cast("string"), 1, 256).alias("value"),
        F.lit(error).alias("error"),
    )


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


_FALSE_MSG = "boolean schema false permits nothing"
_REFS = ("$ref", "$dynamicRef", "$recursiveRef")
_BOUNDS = (
    ("maximum", lambda c, v: c <= v),
    ("exclusiveMaximum", lambda c, v: c < v),
    ("minimum", lambda c, v: c >= v),
    ("exclusiveMinimum", lambda c, v: c > v),
)
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
            return F.lit(False), F.array(_violation(kw, ipath, kpath, node.col, _FALSE_MSG))
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
                        node.value, f"type must be one of {wanted}"))
        if "enum" in schema:
            add(*_check(node.enum_pred(schema["enum"]), "enum", ipath, kpath,
                        node.value, "value not in enumeration"))
        if "const" in schema:
            add(*_check(node.const_pred(schema["const"]), "const", ipath, kpath,
                        node.value, "value does not equal const"))

        if node.may_be("number"):
            if "multipleOf" in schema:
                m = schema["multipleOf"]
                add(*_check(node.guard("number", node.multiple_of(m)), "multipleOf",
                            ipath, kpath, node.value, f"not a multiple of {m}"))
            for kw, op in _BOUNDS:
                if kw in schema:
                    add(*_check(node.guard("number", node.compare(op, schema[kw])), kw,
                                ipath, kpath, node.value, f"violates {kw} {schema[kw]}"))

        if node.may_be("string"):
            s = node.string
            if "maxLength" in schema:
                add(*_check(node.guard("string", F.length(s) <= schema["maxLength"]),
                            "maxLength", ipath, kpath, s,
                            f"longer than {schema['maxLength']}"))
            if "minLength" in schema:
                add(*_check(node.guard("string", F.length(s) >= schema["minLength"]),
                            "minLength", ipath, kpath, s,
                            f"shorter than {schema['minLength']}"))
            if "pattern" in schema:
                pat = schema["pattern"]
                add(*_check(node.guard("string", rlike(s, pat)), "pattern", ipath,
                            kpath, s, f"does not match pattern {pat}"))
            if "format" in schema and self.assert_formats:
                add(*node.format_check(schema["format"], ipath, kpath))

        if node.may_be("object"):
            self._object(schema, node, base_uri, ipath, kpath, add)
        if node.may_be("array"):
            self._array(schema, node, base_uri, ipath, kpath, add)
        self._combinators(schema, node, base_uri, ipath, kpath, add)

        # custom keywords (functions/registry.py)
        from jschon_spark.functions.registry import KEYWORD_REGISTRY

        for kw_name, entry in KEYWORD_REGISTRY.items():
            if kw_name in schema and node.json_t in entry.instance_types:
                if entry.column_fn is None:
                    raise CannotLower(
                        f"custom keyword {kw_name!r} has no Column lowering -> batch"
                    )
                pred = entry.column_fn(schema[kw_name], node.col, node.dtype)
                add(*_check(pred, kw_name, ipath, kpath, node.col, entry.error))

        if not valids:
            return F.lit(True), _EMPTY_ARR()
        valid = valids[0]
        for v in valids[1:]:
            valid = valid & v
        return valid, _concat(*viols)

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
                        f"more than {schema['maxProperties']} properties"))
        if "minProperties" in schema:
            n = node.prop_count
            add(*_check(node.guard("object", n >= schema["minProperties"]),
                        "minProperties", ipath, kpath, n,
                        f"fewer than {schema['minProperties']} properties"))
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
                        missing, "missing required properties"))
        for k, deps in schema.get("dependentRequired", {}).items():
            if node.fields is not None and k not in node.fields:
                continue
            dep_ok = F.lit(True)
            for d in deps:
                dep_ok = dep_ok & node.has(d)
            add(*_check(F.when(node.present(k), dep_ok).otherwise(F.lit(True)),
                        "dependentRequired", ipath, kpath, F.lit(k),
                        f"property {k!r} requires {deps}"))

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
                            list(pats), base_uri, ipath, f"{kpath}/additionalProperties",
                            "additional properties are not allowed", add)
        if "unevaluatedProperties" in schema:
            names, patterns, valid_aware = node.unevaluated_properties(self, schema, base_uri)
            self._uncovered(node, schema["unevaluatedProperties"], schema, names,
                            patterns, base_uri, ipath, f"{kpath}/unevaluatedProperties",
                            _FALSE_MSG, add, valid_aware)
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

    def _entries(self, node, keep: Callable[[Column], Column], sub, base_uri,
                 ipath, kp, false_msg: str = _FALSE_MSG):
        """``sub`` applied to every object entry passing ``keep``, as
        higher-order functions over the node's ``map_entries``; a false
        ``sub`` reports each kept key directly."""
        kept = F.filter(node.entries, keep)
        kw = kp.rsplit("/", 1)[-1]

        def child_path(e: Column) -> Column:
            return F.concat(ipath, F.lit("/"), _esc_key(e["key"]))

        if sub is False:
            pred = node.guard("object", F.size(kept) == 0)
            bad = F.transform(
                kept, lambda e: _violation(kw, child_path(e), kp, e["key"], false_msg)
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
                   false_msg, add, valid_aware: bool = False):
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

        add(*self._entries(node, keep, sub, base_uri, ipath, kp, false_msg))

    def _property_names(self, node, sub, base_uri, ipath, kp, add):
        """Evaluator parity: a failing name emits the 'propertyNames'
        row AND the name subschema's own violation rows."""
        if node.fields is not None:
            # field names are static: evaluate each name at compile time
            # with the driver-side evaluator, at this node's base URI so
            # a $ref resolves in its own document; rows rebased under kp
            from jschon_spark.evaluator import Evaluator

            program = Evaluator(self.catalog).compile(sub, base_uri)
            for name in node.fields:
                o = program.outcome(name)
                if o.valid:
                    continue
                ok = F.coalesce(node.col[name].isNull(), F.lit(True))
                rows = [
                    _violation("propertyNames", ipath, kp, F.lit(name),
                               f"property name {name!r} is invalid")
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
                                   "property name is invalid")).cast(VIOLATION_DDL),
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
                        ipath, kpath, n, f"more than {schema['maxItems']} items"))
        if "minItems" in schema:
            n = node.size
            add(*_check(node.guard("array", n >= schema["minItems"]), "minItems",
                        ipath, kpath, n, f"fewer than {schema['minItems']} items"))
        if schema.get("uniqueItems"):
            add(*_check(node.guard("array", node.unique_items()), "uniqueItems",
                        ipath, kpath, node.col, "array items are not unique"))

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
                            n_match, "no array items match the contains schema"))
            if "maxContains" in schema:
                mx = schema["maxContains"]
                add(*_check(node.guard("array", n_match <= mx), "maxContains", ipath,
                            kpath, n_match, f"more than {mx} matching items"))
            if "minContains" in schema:
                add(*_check(node.guard("array", n_match >= min_c), "minContains", ipath,
                            kpath, n_match, f"fewer than {min_c} matching items"))
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
                                       "no subschema matched")),
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
                                   "exactly one subschema must match"))
            )
            add(F.coalesce(ok, F.lit(False)), viol)
        if "not" in schema:
            v, _ = self.visit(schema["not"], node, base_uri, ipath, f"{kpath}/not")
            add(*_check(~v, "not", ipath, kpath, node.value,
                        "instance must not match the subschema"))
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
            cov = (len(schema.get("prefixItems", [])), "items" in schema)
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
