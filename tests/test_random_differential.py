"""Randomized cross-path differentials.

Two layers:

* driver-side (hypothesis, shrinking): the evaluator's predicate
  (``compile_valid``) must agree with its full walk on randomly
  generated (schema, document) pairs drawn from a bounded grammar.
* Spark-side (seeded, deterministic — no flaky examples): the variant
  lowering must agree with the Arrow batch evaluator on verdicts AND
  the ordered violation records (keyword, instance_path, keyword_path,
  value, error) for a seeded population of schemas x documents, one
  createDataFrame per run.

The grammar deliberately wanders into the territory past rounds found
bugs in: integers beyond 2^53, sub-1e-18 magnitudes, decimal-looking
floats (19.99), duplicated keys across properties/patternProperties,
deep nesting, and cross-type numeric equality.
"""

from __future__ import annotations

import json
import random

import pytest

from jschon_spark.engine import ConstraintEngine
from jschon_spark.evaluator import Evaluator, Violation
from jschon_spark.fastpath import compile_valid
from jschon_spark.lowering.keywords import CannotLower
from jschon_spark.schema.catalog import SchemaCatalog

# Round 6 widened the pools past the Java/Python-agreeing subset:
# perl-class patterns (\w \d \s ...) are unicode-wide in Python but
# ASCII in Java, so the lowerings must ROUTE them to the batch
# evaluator — these fuzz populations now exercise that routing against
# unicode instances (NBSP, arabic-indic digits, accented words).
_PATTERNS = ["^a", "b$", "^[a-z]+$", "[0-9]", "x", "^$", "a.c", "^é",
             r"^\w+$", r"\d", r"\s", r"^\S+$", r"é\b",
             "^a.b$", "^[a-z]{2}$"]
# Java regex also ends lines at \r, \x85, \u2028 and \u2029 (for `.`
# and `$`); Python `re` only at \n: these pin the rlike dialect fix
_STRINGS = ["", "a", "ab", "abc", "xyz", "aXc", "é", "b", "axc", "123",
            "héllo", "٣٤", "x y", "a b", "١٢٣",
            "ab\r", "ab\r\n", "ab\n", "a\rb", "ab\x85", "ab\u2028",
            "a\u2029b"]
_NUMBERS = [
    0, 1, -1, 5, 10, 2 ** 53 + 1, 10 ** 18 - 1, -(10 ** 18) - 1,
    0.5, 19.99, -0.25, 1e-20, 2e-20, 1e18, 1.0, 2.5, 100.0,
]
_KEYS = ["a", "b", "c", "k"]


def _records(violations) -> list:
    """Violation records as ordered tuples: Spark rows or evaluator
    ``Violation`` objects."""
    return [(v.keyword, v.instance_path, v.keyword_path, v.value, v.error)
            if isinstance(v, Violation) else tuple(v) for v in violations]


def _rand_doc(rng: random.Random, depth: int = 2):
    kinds = ["null", "bool", "num", "str"]
    if depth > 0:
        kinds += ["arr", "obj", "arr", "obj"]
    k = rng.choice(kinds)
    if k == "null":
        return None
    if k == "bool":
        return rng.choice([True, False])
    if k == "num":
        return rng.choice(_NUMBERS)
    if k == "str":
        return rng.choice(_STRINGS)
    if k == "arr":
        return [_rand_doc(rng, depth - 1) for _ in range(rng.randrange(4))]
    return {
        rng.choice(_KEYS): _rand_doc(rng, depth - 1)
        for _ in range(rng.randrange(4))
    }


def _rand_schema(
    rng: random.Random,
    depth: int = 2,
    dialect: str = "2020-12",
    extended: bool = False,
) -> dict:
    """Bounded random schema. ``dialect`` swaps the array-keyword
    surface (2019-09 tuple ``items``/``additionalItems`` instead of
    ``prefixItems``) and the dynamic-ref form ($recursiveRef vs
    $dynamicRef). ``extended`` adds the unevaluatedItems and
    dynamic-ref productions — kept OUT of the default pool so the
    pre-existing seeded populations keep their lowering rates."""
    schema: dict = {}
    n_kw = rng.randrange(1, 4)
    pool = [
        "type", "enum", "const", "bounds", "multipleOf", "length",
        "pattern", "required", "properties", "items_u", "prefixItems",
        "contains", "uniqueItems", "n_items", "n_props", "propertyNames",
        "dependentRequired", "patternProperties", "additionalProperties",
        "combinator", "not", "ifthen", "unevaluatedProps", "ref",
    ]
    if extended:
        pool += ["unevaluatedItems", "dynref"]

    def sub() -> dict:
        return _rand_schema(rng, depth - 1, dialect, extended)

    for kw in rng.sample(pool, n_kw):
        if kw == "type":
            ts = rng.sample(
                ["null", "boolean", "number", "integer", "string",
                 "array", "object"],
                rng.randrange(1, 3),
            )
            schema["type"] = ts[0] if len(ts) == 1 else ts
        elif kw == "enum":
            schema["enum"] = rng.sample(
                [1, 1.0, "a", None, True, 19.99, 2 ** 53 + 1, [1, 2],
                 {"a": 1}],
                rng.randrange(1, 4),
            )
        elif kw == "const":
            schema["const"] = rng.choice(
                [1, "a", None, False, 19.99, [1, "a"], {"k": 1}]
            )
        elif kw == "bounds":
            b = rng.choice(_NUMBERS)
            schema[rng.choice(
                ["minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum"]
            )] = b
        elif kw == "multipleOf":
            schema["multipleOf"] = rng.choice([1, 2, 3, 0.5, 0.01, 2.5])
        elif kw == "length":
            schema[rng.choice(["minLength", "maxLength"])] = rng.randrange(4)
        elif kw == "pattern":
            schema["pattern"] = rng.choice(_PATTERNS)
        elif kw == "required":
            schema["required"] = rng.sample(_KEYS, rng.randrange(1, 3))
        elif kw == "properties" and depth > 0:
            schema["properties"] = {
                k: sub() for k in rng.sample(_KEYS, rng.randrange(1, 3))
            }
        elif kw == "items_u" and depth > 0:
            schema["items"] = sub()
        elif kw == "prefixItems" and depth > 0:
            subs = [sub() for _ in range(rng.randrange(1, 3))]
            if dialect == "2019-09":
                # 2019-09 tuple form; prefixItems is not a keyword there
                schema["items"] = subs
                if rng.random() < 0.5:
                    schema["additionalItems"] = rng.choice(
                        [True, False, sub()]
                    )
            else:
                schema["prefixItems"] = subs
        elif kw == "contains" and depth > 0:
            schema["contains"] = sub()
            if rng.random() < 0.5:
                schema["minContains"] = rng.randrange(3)
            if rng.random() < 0.3:
                schema["maxContains"] = rng.randrange(1, 4)
        elif kw == "uniqueItems":
            schema["uniqueItems"] = True
        elif kw == "n_items":
            schema[rng.choice(["minItems", "maxItems"])] = rng.randrange(4)
        elif kw == "n_props":
            schema[rng.choice(["minProperties", "maxProperties"])] = rng.randrange(4)
        elif kw == "propertyNames":
            schema["propertyNames"] = {"pattern": rng.choice(_PATTERNS)}
        elif kw == "dependentRequired":
            schema["dependentRequired"] = {
                rng.choice(_KEYS): rng.sample(_KEYS, rng.randrange(1, 3))
            }
        elif kw == "patternProperties" and depth > 0:
            schema["patternProperties"] = {
                rng.choice(_PATTERNS): rng.choice([True, False, sub()])
            }
        elif kw == "additionalProperties" and depth > 0:
            schema["additionalProperties"] = rng.choice(
                [True, False, sub()]
            )
        elif kw == "combinator" and depth > 0:
            schema[rng.choice(["allOf", "anyOf", "oneOf"])] = [
                sub() for _ in range(rng.randrange(1, 3))
            ]
        elif kw == "not" and depth > 0:
            schema["not"] = sub()
        elif kw == "unevaluatedProps" and depth > 0:
            schema["unevaluatedProperties"] = rng.choice(
                [True, False, sub()]
            )
        elif kw == "unevaluatedItems" and depth > 0:
            schema["unevaluatedItems"] = rng.choice([True, False, sub()])
        elif kw == "dynref" and depth > 0:
            if dialect == "2019-09":
                # $recursiveRef may only be "#" (resource root); placed
                # under a property so recursion is bounded by doc depth
                schema.setdefault("properties", {})[
                    rng.choice(_KEYS)
                ] = {"$recursiveRef": "#"}
            else:
                target = sub()
                anchor = f"dz{rng.randrange(1 << 30)}"
                target["$dynamicAnchor"] = anchor
                schema.setdefault("$defs", {})[f"d_{anchor}"] = target
                schema["$dynamicRef"] = f"#{anchor}"
                if rng.random() < 0.3:
                    # SECOND resource owning the same anchor name: the
                    # round-5 static resolution must refuse (multi-owner
                    # -> genuinely dynamic) and fall back to batch; a
                    # wrong "single owner" answer would lower and the
                    # cross-check would catch any verdict divergence
                    schema["$defs"][f"o_{anchor}"] = {
                        "$id": f"https://fz.example/o{anchor}",
                        "$defs": {"d": {"$dynamicAnchor": anchor}},
                    }
        elif kw == "ref" and depth > 0:
            # a $defs member reached by $anchor (anchors are
            # RESOURCE-scoped, so they resolve from nested positions
            # where a "#/$defs/t" pointer would not — pointer fragments
            # resolve against the resource root; the fuzzer generated
            # exactly that broken shape before this comment existed).
            # Unique names avoid duplicate-anchor registration.
            target = sub()
            anchor = f"fz{rng.randrange(1 << 30)}"
            target["$anchor"] = anchor
            schema.setdefault("$defs", {})["t"] = target
            schema["$ref"] = f"#{anchor}"
        elif kw == "ifthen" and depth > 0:
            schema["if"] = sub()
            if rng.random() < 0.7:
                schema["then"] = sub()
            if rng.random() < 0.5:
                schema["else"] = sub()
    return schema


# ---- driver-side: predicate vs full walk (hypothesis shrinking) -------

from hypothesis import given, settings, strategies as st


@given(st.integers(min_value=0, max_value=10 ** 9))
@settings(max_examples=300, deadline=None)
def test_fastpath_matches_evaluator_fuzz(seed):
    rng = random.Random(seed)
    schema = _rand_schema(rng, depth=2)
    catalog = SchemaCatalog()
    base = catalog.register(schema)
    ev = Evaluator(catalog)
    fast = compile_valid(schema, catalog, base, False)
    for i in range(8):
        doc = _rand_doc(random.Random(seed * 31 + i), depth=2)
        want = ev.validate(schema, doc).valid
        assert ev.validate(schema, doc).valid == want  # idempotent
        got = bool(fast(doc))
        assert got == want, (
            f"seed={seed} schema={json.dumps(schema)} "
            f"doc={json.dumps(doc)} fast={got} ev={want}"
        )


# ---- Spark-side: variant lowering vs batch evaluator (seeded) ---------

N_SCHEMAS = 40
N_DOCS = 30


def test_variant_matches_batch_seeded_population(spark):
    rng = random.Random(20260817)
    docs = [json.dumps(_rand_doc(random.Random(1000 + i), depth=2))
            for i in range(N_DOCS)]
    df = spark.createDataFrame([(d,) for d in docs], "doc string").cache()
    eng = ConstraintEngine()
    n_lowered = 0
    for s_i in range(N_SCHEMAS):
        schema = _rand_schema(random.Random(2000 + s_i), depth=2)
        compiled = eng.compile(dict(schema), validate_schema=False)
        var = compiled.apply_json(df, "doc")
        if compiled.explain()[("apply_json", "doc")]["route"] != "variant":
            continue
        n_lowered += 1
        batch = compiled.apply_json(df, "doc", prefer_variant=False)
        vmap = {r.doc: r for r in var.select("doc", "passed", "violations").collect()}
        bmap = {r.doc: r for r in batch.select("doc", "passed", "violations").collect()}
        for d in docs:
            v, b = vmap[d], bmap[d]
            assert v.passed == b.passed, (
                f"schema={json.dumps(schema)} doc={d}: "
                f"variant={v.passed} batch={b.passed}"
            )
            if v.passed is False:
                vk, bk = _records(v.violations), _records(b.violations)
                assert vk == bk, f"schema={json.dumps(schema)} doc={d}: {vk} != {bk}"
    # the population must actually exercise the variant path
    assert n_lowered >= N_SCHEMAS // 3, f"only {n_lowered} schemas lowered"


# ---- Spark-side: typed lowering vs evaluator (seeded) -----------------

def test_typed_matches_evaluator_seeded_population(spark):
    """Same grammar pointed at a TYPED row schema: apply_typed must
    agree with the evaluator on verdicts and violation sets. (This
    population's first run found three real divergences: per-name
    required rows, ''-keyword boolean-false attribution, and
    propertyNames reporting at the wrong level.)"""
    _typed_population(spark, "2020-12")


def test_typed_matches_evaluator_seeded_population_2019_09(spark):
    """The typed population under 2019-09: tuple-form ``items`` with
    ``additionalItems`` lower onto the typed arrays."""
    _typed_population(spark, "2019-09")


# numeric keywords under the typed row's number fields: ``score`` is a
# double column, ``n`` a bigint one
_NUMERIC_FIELDS = ("score", "n")


def _numeric_schema(rng: random.Random) -> dict:
    """One to three numeric keywords: bounds, multipleOf, an integer
    type test and numeric enum/const members, valued from _NUMBERS."""
    schema: dict = {}
    for kw in rng.sample(["bounds", "multipleOf", "type", "enum", "const"],
                         rng.randrange(1, 4)):
        if kw == "bounds":
            schema[rng.choice(["minimum", "maximum", "exclusiveMinimum",
                               "exclusiveMaximum"])] = rng.choice(_NUMBERS)
        elif kw == "multipleOf":
            schema["multipleOf"] = rng.choice([1, 2, 3, 0.5, 0.01, 2.5])
        elif kw == "type":
            schema["type"] = rng.choice(["integer", "number", ["integer", "null"]])
        elif kw == "enum":
            schema["enum"] = rng.sample(_NUMBERS, rng.randrange(1, 4))
        else:
            schema["const"] = rng.choice(_NUMBERS)
    return schema


def typed_schema(s_i: int, dialect: str = "2020-12") -> dict:
    """Schema ``s_i`` of the typed population: the random grammar over
    the typed row's field names, with the numeric sub-grammar under
    ``properties.score`` and ``properties.n``."""
    keys_save = list(_KEYS)
    _KEYS[:] = ["url", "lang", "n", "score", "flag", "tags", "nums"]
    try:
        schema = _rand_schema(random.Random(333000 + s_i), depth=2, dialect=dialect)
    finally:
        _KEYS[:] = keys_save
    rng = random.Random(444000 + s_i)
    props = schema.setdefault("properties", {})
    for name in _NUMERIC_FIELDS:
        if rng.random() < 0.6:
            props[name] = {**props.get(name, {}), **_numeric_schema(rng)}
    if dialect != "2020-12":
        schema["$schema"] = _DIALECT_URIS[dialect]
    return schema


def _typed_population(spark, dialect: str) -> None:
    rng = random.Random(7)
    rows = []
    for _ in range(60):
        rows.append((
            rng.choice(["https://a.x/1", "", "x", None]),
            rng.choice(["en", "EN", "zz", "", None]),
            rng.choice([0, 1, -1, 5, 999999999999999999, 2 ** 53 + 1, None]),
            # 1e18 and 2^53 next to integer bounds past 2^53, 7e26
            # and 1e27 for multipleOf past the decimal(38,12) range
            rng.choice([0.0, 1.5, 19.99, -0.5, 1e-20, 1e18,
                        9007199254740992.0, 7e26, 1e27, None]),
            rng.choice([True, False, None]),
            rng.choice([["a", "b"], ["a", "a"], [], ["x"], [None], None]),
            rng.choice([[1, 2, 3], [1, 1], [], [5], [None, 2], None]),
        ))
    ddl = ("url string, lang string, n long, score double, "
           "flag boolean, tags array<string>, nums array<long>")
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, ddl).cache()
    cols = ["url", "lang", "n", "score", "flag", "tags", "nums"]
    eng = ConstraintEngine()
    ev = Evaluator()
    n_lowered = 0
    for s_i in range(30):
        schema = typed_schema(s_i, dialect)
        compiled = eng.compile(dict(schema), validate_schema=False)
        try:
            compiled.lower_columns(df.schema, F.struct(*df.columns))
        except CannotLower:
            continue
        n_lowered += 1
        got = [
            (r.passed, _records(r.violations) if r.passed is False else [])
            for r in compiled.apply_typed(df)
            .select("passed", "violations").collect()
        ]
        for r, (gp, gv) in zip(rows, got):
            inst = {c: v for c, v in zip(cols, r) if v is not None}
            o = ev.validate(schema, inst)
            assert gp == o.valid, (
                f"[{dialect}] schema={json.dumps(schema)} inst={inst}: "
                f"typed={gp} ev={o.valid}"
            )
            if gp is False:
                want = _records(o.errors)
                assert gv == want, (
                    f"[{dialect}] schema={json.dumps(schema)} inst={inst}: "
                    f"{gv} != {want}"
                )
    assert n_lowered >= 10, f"only {n_lowered} schemas lowered"


# ---- Spark-side: map-typed object path vs evaluator (seeded) ----------

def test_map_typed_matches_evaluator_seeded_population(spark):
    """String-keyed MAP columns are the dynamic-object typed mode (the
    north rule's props-style bags): the same grammar over a
    map<string,bigint> column must agree with the evaluator."""
    from pyspark.sql import functions as F

    rng = random.Random(11)
    vals = [0, 1, -1, 5, 2 ** 53 + 1, None]
    rows = []
    for _ in range(40):
        rows.append((
            {rng.choice(["a", "b", "c", "k", "x1", "Big"]): rng.choice(vals)
             for _ in range(rng.randrange(4))},
        ))
    df = spark.createDataFrame(rows, "m map<string,bigint>").cache()
    eng = ConstraintEngine()
    ev = Evaluator()
    n_lowered = 0
    for s_i in range(25):
        schema = {"properties": {"m": _rand_schema(random.Random(777000 + s_i),
                                                   depth=2)}}
        compiled = eng.compile(dict(schema), validate_schema=False)
        try:
            compiled.lower_columns(df.schema, F.struct(*df.columns))
        except CannotLower:
            continue
        n_lowered += 1
        got = [
            (r.passed, _records(r.violations) if r.passed is False else [])
            for r in compiled.apply_typed(df).select("passed", "violations").collect()
        ]
        for (m,), (gp, gv) in zip(rows, got):
            inst = {"m": dict(m)}
            o = ev.validate(schema, inst)
            assert gp == o.valid, (
                f"schema={json.dumps(schema)} inst={inst}: "
                f"typed={gp} ev={o.valid}"
            )
            if gp is False:
                want = _records(o.errors)
                assert gv == want, (
                    f"schema={json.dumps(schema)} inst={inst}: {gv} != {want}"
                )
    assert n_lowered >= 8, f"only {n_lowered} schemas lowered"


# ---- dialect matrix: 2019-09 and draft-next populations ----------------

_DIALECT_URIS = {
    "2019-09": "https://json-schema.org/draft/2019-09/schema",
    "next": "https://json-schema.org/draft/next/schema",
}


@pytest.mark.parametrize("tag", ["2019-09", "next"])
def test_dialect_matrix_seeded_population(spark, tag):
    """Dialect-gated paths get a full randomized population (VERDICT r4
    #3): 160 schemas per dialect under the EXTENDED grammar — 2019-09
    tuple items/additionalItems/$recursiveRef and the legacy
    unevaluatedItems-ignores-contains rule (reference legacy.py:115-147),
    draft-next as 2020-12 semantics with $dynamicRef — cross-checked
    driver-side (predicate vs full walk, every schema) and Spark-side
    (variant lowering vs Arrow batch evaluator wherever the variant
    subset lowers)."""
    gen_dialect = "2019-09" if tag == "2019-09" else "2020-12"
    uri = _DIALECT_URIS[tag]
    docs = [json.dumps(_rand_doc(random.Random(5000 + i), depth=2))
            for i in range(24)]
    parsed = [json.loads(d) for d in docs]
    df = spark.createDataFrame([(d,) for d in docs], "doc string").cache()
    eng = ConstraintEngine()
    n_lowered = 0
    for s_i in range(160):
        schema = _rand_schema(
            random.Random(910_000 + s_i), depth=2,
            dialect=gen_dialect, extended=True,
        )
        schema["$schema"] = uri
        compiled = eng.compile(dict(schema), validate_schema=False)
        program = Evaluator(compiled.catalog).compile(compiled.schema, compiled.base_uri)
        want = [program.outcome(p).valid for p in parsed]
        fast = compile_valid(
            compiled.schema, compiled.catalog, compiled.base_uri,
        )
        for p, w in zip(parsed, want):
            got = bool(fast(p))
            assert got == w, (
                f"[{tag}] schema={json.dumps(schema)} "
                f"doc={json.dumps(p)} fast={got} ev={w}"
            )
        var = compiled.apply_json(df, "doc")
        if compiled.explain()[("apply_json", "doc")]["route"] != "variant":
            continue
        n_lowered += 1
        batch = compiled.apply_json(df, "doc", prefer_variant=False)
        vmap = {r.doc: r for r in var.select("doc", "passed", "violations").collect()}
        bmap = {r.doc: r for r in batch.select("doc", "passed", "violations").collect()}
        for d in docs:
            v, b = vmap[d], bmap[d]
            assert v.passed == b.passed, (
                f"[{tag}] schema={json.dumps(schema)} doc={d}: "
                f"variant={v.passed} batch={b.passed}"
            )
            if v.passed is False:
                vk, bk = _records(v.violations), _records(b.violations)
                assert vk == bk, (
                    f"[{tag}] schema={json.dumps(schema)} doc={d}: {vk} != {bk}"
                )
    # the population must genuinely exercise the variant tier
    assert n_lowered >= 25, f"only {n_lowered} schemas variant-lowered"


# ---- round 6: format-assertion-vocabulary equivalence fuzz ------------

def test_format_assertion_vocabulary_equivalence_fuzz():
    """Seeded differential for the round-6 $vocabulary wiring: for
    every built-in format and a mutated value population, validating
    through a CUSTOM metaschema that declares the format-assertion
    vocabulary (engine switch OFF) must equal validating the plain
    schema with the engine switch ON — the vocabulary route and the
    switch route are the same assertion semantics."""
    from jschon_spark.evaluator import Evaluator
    from jschon_spark.formats import BUILTIN_FORMATS

    rng = random.Random(20260818)
    alphabet = "ab01-._~:/?#@!$&'()*+,;= %{}\\^<>äü實\t\n"

    def mutate(s: str) -> str:
        if not s:
            return rng.choice(alphabet)
        i = rng.randrange(len(s))
        op = rng.randrange(3)
        ch = rng.choice(alphabet)
        if op == 0:
            return s[:i] + ch + s[i + 1:]
        if op == 1:
            return s[:i] + ch + s[i:]
        return s[:i] + s[i + 1:]

    exemplars = {
        "json-pointer": "/a/b~0c", "relative-json-pointer": "1/a",
        "ipv4": "192.168.3.17", "ipv6": "::ffff:1.2.3.4",
        "date": "2024-02-29", "time": "23:59:59+05:30",
        "date-time": "2024-02-29T23:59:59Z",
        "uuid": "123e4567-e89b-12d3-a456-426614174000",
        "regex": "^a[bc]+$", "uri": "https://e.org/p?q=1#f",
        "hostname": "a-b.example.com", "email": "a+tag@e.co",
        "duration": "P1Y2M3DT4H5M6S", "uri-reference": "//h/p?q#f",
        "iri": "http://exämple.org/päth",
        "iri-reference": "/päth/ü",
        "uri-template": "http://e.org/{id}{/path*}{?q:3}",
        "idn-email": "üser@exämple.org",
        "idn-hostname": "exämple.實例.org",
    }
    assert set(exemplars) == set(BUILTIN_FORMATS)
    checked = 0
    for fmt, seed in exemplars.items():
        vals, seen = [seed], {seed}
        while len(vals) < 12:
            v = mutate(rng.choice(vals))
            if v not in seen:
                seen.add(v)
                vals.append(v)
        meta_uri = f"https://ex.test/fuzz-meta-{fmt}"
        via_vocab = {
            "$defs": {"meta": {
                "$id": meta_uri,
                "$vocabulary": {
                    "https://json-schema.org/draft/2020-12/vocab/core": True,
                    "https://json-schema.org/draft/2020-12/vocab/format-assertion": True,
                }}},
            "properties": {"s": {
                "$id": f"https://ex.test/fuzz-res-{fmt}",
                "$schema": meta_uri,
                "format": fmt}},
        }
        plain = {"properties": {"s": {"format": fmt}}}
        ev_off = Evaluator(assert_formats=False)
        ev_on = Evaluator(assert_formats=True)
        for v in vals:
            doc = {"s": v}
            got = ev_off.validate(via_vocab, doc).valid
            want = ev_on.validate(plain, doc).valid
            assert got == want, (fmt, v, got, want)
            checked += 1
    assert checked >= 200


# ---- unevaluated* beside the keywords that mark members (seeded) -------

# the row of the unevaluated* population: static keys (the row's
# fields), dynamic keys (``m``) and array indices (``nums``)
UNEVAL_DDL = "struct<a:bigint,b:string,m:map<string,bigint>,nums:array<bigint>>"
_UNEVAL_LEAVES = [True, False, {}, {"type": "integer"}, {"type": "string"},
                  {"minimum": 2}, {"maximum": 5}, {"const": 1}]


def _uneval_object(rng: random.Random, keys: list, depth: int) -> dict:
    """An object schema over ``keys``: members marked by properties,
    patternProperties and additionalProperties, in-place allOf, anyOf,
    if/then/else and dependentSchemas children, and at most levels an
    unevaluatedProperties."""
    schema: dict = {}
    pool = ["properties", "patternProperties", "additionalProperties"]
    if depth > 0:
        pool += ["allOf", "anyOf", "if", "dependentSchemas"]
    for kw in rng.sample(pool, rng.randrange(1, 4)):
        if kw == "properties":
            schema[kw] = {k: rng.choice(_UNEVAL_LEAVES)
                          for k in rng.sample(keys, rng.randrange(1, 3))}
        elif kw == "patternProperties":
            schema[kw] = {rng.choice(["^a", "b", "^x", "1$"]): rng.choice(_UNEVAL_LEAVES)}
        elif kw == "additionalProperties":
            schema[kw] = rng.choice(_UNEVAL_LEAVES)
        elif kw in ("allOf", "anyOf"):
            schema[kw] = [_uneval_object(rng, keys, depth - 1)
                          for _ in range(rng.randrange(1, 3))]
        elif kw == "if":
            schema["if"] = _uneval_object(rng, keys, depth - 1)
            for branch in ("then", "else"):
                if rng.random() < 0.6:
                    schema[branch] = _uneval_object(rng, keys, depth - 1)
        else:
            schema[kw] = {rng.choice(keys): _uneval_object(rng, keys, depth - 1)}
    if rng.random() < 0.7:
        schema["unevaluatedProperties"] = rng.choice([False, *_UNEVAL_LEAVES])
    return schema


def _uneval_array(rng: random.Random, depth: int) -> dict:
    """An array schema: elements marked by prefixItems, items and
    contains, in-place allOf, anyOf and if/then/else children, and at
    most levels an unevaluatedItems."""
    schema: dict = {}
    pool = ["prefixItems", "items", "contains"]
    if depth > 0:
        pool += ["allOf", "anyOf", "if"]
    for kw in rng.sample(pool, rng.randrange(1, 4)):
        if kw == "prefixItems":
            schema[kw] = [rng.choice(_UNEVAL_LEAVES) for _ in range(rng.randrange(1, 3))]
        elif kw in ("items", "contains"):
            schema[kw] = rng.choice(_UNEVAL_LEAVES)
        elif kw in ("allOf", "anyOf"):
            schema[kw] = [_uneval_array(rng, depth - 1) for _ in range(rng.randrange(1, 3))]
        else:
            schema["if"] = _uneval_array(rng, depth - 1)
            for branch in ("then", "else"):
                if rng.random() < 0.6:
                    schema[branch] = _uneval_array(rng, depth - 1)
    if rng.random() < 0.7:
        schema["unevaluatedItems"] = rng.choice([False, *_UNEVAL_LEAVES])
    return schema


def uneval_schema(s_i: int) -> dict:
    """Schema ``s_i`` of the unevaluated* population over UNEVAL_DDL:
    an object schema over the row, with object schemas under
    ``properties.m`` and array schemas under ``properties.nums``."""
    rng = random.Random(555000 + s_i)
    schema = _uneval_object(rng, ["a", "b", "m", "nums"], 1)
    schema.setdefault("unevaluatedProperties", False)
    props = schema.setdefault("properties", {})
    props["m"] = _uneval_object(rng, ["a", "b", "c", "x1"], 1)
    props["nums"] = _uneval_array(rng, 1)
    return schema


def test_typed_unevaluated_matches_evaluator_seeded_population(spark):
    """unevaluated* on the typed route takes the evaluator's annotation
    rule: full ordered records against the evaluator's, over struct
    fields (static keys), a ``map<string,bigint>`` (dynamic keys) and
    an ``array<bigint>`` (element indices)."""
    from pyspark.sql import types as T

    rng = random.Random(13)
    vals = [0, 1, 5, 7, None]
    rows = []
    for _ in range(40):
        rows.append((
            rng.choice([0, 1, 5, 7, None]),
            rng.choice(["x", "ab", "", None]),
            rng.choice([None, {}] + [
                {rng.choice(["a", "b", "c", "x1"]): rng.choice(vals)
                 for _ in range(rng.randrange(1, 4))} for _ in range(4)]),
            rng.choice([None, [], [1], [1, 2], [5, 1, 7], [2, None], [7, 7, 0, 1]]),
        ))
    cols = ["a", "b", "m", "nums"]
    insts = [{c: v for c, v in zip(cols, r) if v is not None} for r in rows]
    df = spark.createDataFrame(rows, T._parse_datatype_string(UNEVAL_DDL)).cache()
    ev = Evaluator()
    n_lowered = 0
    for s_i in range(40):
        schema = uneval_schema(s_i)
        compiled = ConstraintEngine().compile(dict(schema), validate_schema=False)
        got = compiled.apply_typed(df).select("passed", "violations").collect()
        if compiled.explain()[("apply_typed", UNEVAL_DDL)]["route"] != "typed":
            continue
        n_lowered += 1
        for inst, r in zip(insts, got):
            o = ev.validate(schema, inst)
            assert (r.passed, _records(r.violations)) == (o.valid, _records(o.errors)), (
                f"schema={json.dumps(schema)} inst={inst}")
    assert n_lowered >= 36, f"only {n_lowered} schemas took the typed route"
