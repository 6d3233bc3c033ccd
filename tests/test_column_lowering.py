"""Differential: the Column lowering vs the pure-Python evaluator on
the same rows. The typed path's NULL convention (NULL struct field =
absent property) is applied to the oracle instance by dropping null
fields before evaluation.

This mirrors the reference's per-keyword differential strategy
(/root/reference/tests/test_validators.py) with the evaluator as the
independent oracle.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from jschon_spark.engine import ConstraintEngine
from jschon_spark.evaluator import Evaluator
from jschon_spark.lowering.keywords import CannotLower


ROW_SCHEMA = (
    "url string, lang string, n long, score double, flag boolean, "
    "tags array<string>, nums array<long>"
)


def _rows(seed: int = 42, n: int = 60):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append(
            (
                rng.choice(["https://a.x/1", "http://b.y/2", "ftp://bad", "", None]),
                rng.choice(["en", "de", "EN", "zz9", "", None]),
                rng.choice([0, 1, 5, 10, 600, -3, None]),
                rng.choice([0.0, 1.5, 2.0, 19.99, -0.5, None]),
                rng.choice([True, False, None]),
                rng.choice([["a", "b"], ["a", "a"], [], ["x"], ["a", None], [None], None]),
                rng.choice([[1, 2, 3], [1, 1], [], [5], [None, 2], None]),
            )
        )
    return rows


SCHEMAS = [
    {"type": "object", "required": ["url", "lang"]},
    {"properties": {"url": {"type": "string", "pattern": "^https?://", "minLength": 5}}},
    {"properties": {"lang": {"enum": ["en", "de", "fr"]}}},
    {"properties": {"n": {"type": "integer", "minimum": 0, "maximum": 100, "multipleOf": 5}}},
    {"properties": {"score": {"multipleOf": 0.5}}},
    {"properties": {"score": {"exclusiveMinimum": 0, "exclusiveMaximum": 2}}},
    {"properties": {"flag": {"type": "boolean", "const": True}}},
    {"properties": {"tags": {"type": "array", "uniqueItems": True, "minItems": 1, "maxItems": 2}}},
    {"properties": {"tags": {"items": {"type": "string", "minLength": 1}}}},
    {"properties": {"nums": {"contains": {"minimum": 2}, "minContains": 1, "maxContains": 2}}},
    {"properties": {"nums": {"prefixItems": [{"minimum": 1}], "items": {"maximum": 10}}}},
    {"allOf": [{"required": ["url"]}, {"properties": {"n": {"minimum": 0}}}]},
    {"anyOf": [{"required": ["url"]}, {"required": ["lang"]}]},
    {"oneOf": [{"required": ["url"]}, {"required": ["lang"]}]},
    {"not": {"required": ["url"]}},
    {"if": {"required": ["url"]}, "then": {"required": ["lang"]}, "else": {"required": ["n"]}},
    {"dependentRequired": {"url": ["lang"]}},
    {"dependentSchemas": {"url": {"required": ["lang", "n"]}}},
    {"properties": {"lang": {"type": "string"}}, "additionalProperties": {"type": "string"}},
    {"minProperties": 3, "maxProperties": 6},
    {"propertyNames": {"pattern": "^[a-z]+$"}},
    {"$ref": "#/$defs/page", "$defs": {"page": {"required": ["url"], "properties": {"url": {"pattern": "^https"}}}}},
    {"properties": {"url": {"type": "string"}}, "unevaluatedProperties": True},
    # unevaluatedItems: static coverage through prefixItems and allOf
    {"properties": {"nums": {"prefixItems": [{"minimum": 1}], "unevaluatedItems": {"maximum": 2}}}},
    {"properties": {"nums": {"allOf": [{"prefixItems": [{"minimum": 0}, {"minimum": 0}]}], "unevaluatedItems": False}}},
    {"properties": {"nums": {"items": {"type": "integer"}, "unevaluatedItems": False}}},
    # unevaluatedProperties coverage through allOf + $ref
    {
        "$defs": {"base": {"properties": {"url": True, "lang": True}}},
        "allOf": [{"$ref": "#/$defs/base"}, {"properties": {"n": True}}],
        "properties": {"score": True, "flag": True, "tags": True, "nums": True},
        "unevaluatedProperties": False,
    },
    # branch applicators with IDENTICAL coverage stay typed (round 2)
    {"if": {"required": ["url"]}, "then": {"properties": {"lang": {"type": "string"}}},
     "else": {"properties": {"lang": {"type": "string"}}},
     "properties": {"url": True, "n": True, "score": True, "flag": True,
                    "tags": True, "nums": True},
     "unevaluatedProperties": False},
    {"anyOf": [{"properties": {"n": {"minimum": 0}}},
               {"properties": {"n": {"maximum": 100}}}],
     "properties": {"url": True, "lang": True, "score": True, "flag": True,
                    "tags": True, "nums": True},
     "unevaluatedProperties": False},
    {"properties": {"nums": {
        "oneOf": [{"prefixItems": [{"minimum": 0}]}, {"prefixItems": [{"maximum": 5}]}],
        "unevaluatedItems": False}}},
    # composite
    {
        "type": "object",
        "required": ["url"],
        "properties": {
            "url": {"type": "string", "pattern": "^https?://", "maxLength": 2048},
            "lang": {"type": "string", "pattern": "^[a-z]{2}$"},
            "n": {"type": "integer", "minimum": 0},
            "tags": {"type": "array", "items": {"type": "string"}, "uniqueItems": True},
        },
    },
]


@pytest.fixture(scope="module")
def typed_df(spark):
    return spark.createDataFrame(_rows(), ROW_SCHEMA).cache()


def _oracle_verdicts(rows, schema):
    ev = Evaluator()
    cols = ["url", "lang", "n", "score", "flag", "tags", "nums"]
    out = []
    for r in rows:
        inst = {c: v for c, v in zip(cols, r) if v is not None}
        out.append(ev.validate(schema, inst).valid)
    return out


@pytest.mark.parametrize("schema", SCHEMAS, ids=[str(i) for i in range(len(SCHEMAS))])
def test_lowering_matches_evaluator(spark, typed_df, schema):
    eng = ConstraintEngine()
    compiled = eng.compile(dict(schema))
    got = [
        r.passed
        for r in compiled.apply_typed(typed_df).select("passed").collect()
    ]
    want = _oracle_verdicts(_rows(), schema)
    assert got == want


# round-4 ADVICE regression: a sub-1e-18 float bound against a LONG
# column must not round to 0E-18 through decimal(38,18) (n=0 wrongly
# satisfied minimum 2e-20 before the fix); and the big-long cases that
# motivated the decimal branch must keep comparing exactly
_FLOAT_BOUNDS = [
    {"minimum": 2e-20},
    {"maximum": 0.0},
    {"exclusiveMinimum": 1e-20},
    {"exclusiveMaximum": 1e-15},
    {"minimum": 1e18},
    {"maximum": 0.5},
    {"maximum": 0.1},
    {"const": 0.1},
]
# numbers a double compare or modulus rounds: multiples past 1e26,
# integer literals past 2^53, and one past the long range (no Spark
# literal holds it: both Column routes refuse it)
_EXACT_NUMBERS = [
    {"multipleOf": 7},
    {"multipleOf": 0.1},
    {"const": 2 ** 53 + 1},
    {"enum": [2 ** 53 + 1]},
    {"enum": [19.99, 2 ** 53 + 1]},  # a float widens a long IN list
    {"exclusiveMaximum": 2 ** 53 + 1},
    {"minimum": 2 ** 53 + 1},
    {"maximum": 10 ** 18 - 1},
    {"maximum": 2 ** 63 + 5},
]
_COLUMN_VALUES = {
    "long": [0, 1, -1, 5, 999999999999999999, 1000000000000000001,
             -1000000000000000001, 2 ** 53, 2 ** 53 + 1, 2 ** 63 - 1, None],
    "double": [0.0, 1.0, -1.0, 5.0, 7.0, 0.3, 19.99, 1e-20, -1e-20, 1e18,
               9007199254740992.0, 7e26, 1.4e27, 1e27, 7e30, None],
    # floats whose to_json text (Float.toString) is the literal here, so
    # the evaluator reads the document the typed route must agree with
    # (the float nearest 1e18 is written 9.9999998E17)
    "float": [0.0, 1.0, -1.0, 5.0, 7.0, 0.1, 0.3, 19.99, 1e-20, -1e-20,
              9.9999998e17, 1e19, 16777216.0, 16777218.0, 7e26, 1e27, None],
}


@pytest.mark.parametrize(
    "dtype,bound",
    [("long", b) for b in _FLOAT_BOUNDS + _EXACT_NUMBERS]
    + [("double", b) for b in _FLOAT_BOUNDS + _EXACT_NUMBERS]
    + [("float", b) for b in _FLOAT_BOUNDS + _EXACT_NUMBERS],
    ids=[str(list(b.items())) for b in _FLOAT_BOUNDS + _EXACT_NUMBERS]
    + [f"double-{list(b.items())}" for b in _FLOAT_BOUNDS + _EXACT_NUMBERS]
    + [f"float-{list(b.items())}" for b in _FLOAT_BOUNDS + _EXACT_NUMBERS],
)
def test_tiny_and_huge_float_bounds_on_long_column(spark, dtype, bound):
    schema = {"properties": {"n": bound}}
    rows = [(v,) for v in _COLUMN_VALUES[dtype]]
    df = spark.createDataFrame(rows, f"n {dtype}")
    eng = ConstraintEngine()
    compiled = eng.compile(dict(schema))
    if bound == {"maximum": 2 ** 63 + 5}:
        with pytest.raises(CannotLower, match="beyond long"):
            compiled.lower_columns(df.schema, F.struct(*df.columns))
    else:
        # must stay on the typed path, not batch
        compiled.lower_columns(df.schema, F.struct(*df.columns))
    got = [r.passed for r in compiled.apply_typed(df).select("passed").collect()]
    ev = Evaluator()
    want = [
        ev.validate(schema, {} if r[0] is None else {"n": r[0]}).valid
        for r in rows
    ]
    assert got == want, f"{schema}: {got} != {want}"


def test_static_dynamic_ref_lowers(spark, typed_df):
    # single resource owns the dynamic anchor -> the rebinding provably
    # lands on the initial resolution, so the ref lowers inline like
    # $ref (round 5); the "cycle" breaks statically because the target
    # re-applies to a STRING dtype where object keywords are inert
    eng = ConstraintEngine()
    schema = {
        "$id": "https://t.example/root",
        "$dynamicAnchor": "x",
        "type": "object",
        "required": ["url"],
        "properties": {"url": {"$dynamicRef": "#x"}},
    }
    compiled = eng.compile(schema)
    lowered = compiled.lower_columns(typed_df.schema, F.struct(*typed_df.columns))
    assert lowered is not None  # stays on the typed path
    got = [r.passed for r in compiled.apply_typed(typed_df).select("passed").collect()]
    want = _oracle_verdicts(_rows(), schema)
    assert got == want


def test_fallback_used_for_genuine_dynamic_ref(spark, typed_df):
    # TWO resources own the "x" dynamic anchor -> the runtime rebinding
    # depends on the dynamic scope; the lowerer must refuse and the
    # engine must transparently fall back to the batch evaluator
    eng = ConstraintEngine()
    schema = {
        "$id": "https://t.example/root2",
        "$defs": {
            "strict": {"$dynamicAnchor": "x", "type": "string",
                       "pattern": "^https?://"},
            "inner": {
                "$id": "https://t.example/inner",
                "$defs": {"default": {"$dynamicAnchor": "x"}},
                "properties": {"url": {"$dynamicRef": "#x"}},
            },
        },
        "$ref": "https://t.example/inner",
    }
    compiled = eng.compile(schema)
    with pytest.raises(CannotLower):
        compiled.lower_columns(typed_df.schema, F.struct(*typed_df.columns))
    # apply_typed transparently falls back and still agrees with the
    # evaluator on the same schema (batch path handles the rebinding)
    got = [r.passed for r in compiled.apply_typed(typed_df).select("passed").collect()]
    want = _oracle_verdicts(_rows(), schema)
    assert got == want


# static field names evaluated through a $ref into the root document
PROPERTY_NAMES_REF = {
    "$defs": {"n": {"pattern": "^[a-s]+$"}},
    "type": "object",
    "propertyNames": {"$ref": "#/$defs/n"},
}


def test_violation_rows_match_oracle(spark, typed_df):
    rows = typed_df.collect()
    ev = Evaluator()
    cols = ["url", "lang", "n", "score", "flag", "tags", "nums"]
    for schema in (SCHEMAS[-1], PROPERTY_NAMES_REF):
        compiled = ConstraintEngine().compile(schema)
        spark_viols = compiled.apply_typed(typed_df).select("violations").collect()
        for r, sv in zip(rows, spark_viols):
            inst = {c: v for c, v in zip(cols, r) if v is not None}
            want = [(e.keyword, e.instance_path, e.keyword_path, e.value, e.error)
                    for e in ev.validate(schema, inst).errors]
            got = [tuple(v) for v in sv.violations]
            assert got == want, f"schema={schema} row={inst}"


MAP_SCHEMAS = [
    {"type": "object", "required": ["a", "z"]},
    {"properties": {"a": {"type": "integer", "minimum": 2}}},
    {"patternProperties": {"^x": {"type": "integer", "maximum": 5}}},
    {"properties": {"a": True}, "additionalProperties": {"maximum": 3}},
    {"properties": {"a": True}, "additionalProperties": False},
    {"propertyNames": {"maxLength": 1}},
    {"minProperties": 2, "maxProperties": 3},
    {"dependentRequired": {"a": ["b"]}},
    {"dependentSchemas": {"a": {"required": ["b"]}}},
    {"properties": {"a": {"type": "integer"}}, "unevaluatedProperties": {"maximum": 4}},
]

MAP_ROWS = [
    {"a": 1},
    {"a": 3, "b": 2},
    {"x1": 4, "a": 9},
    {"x1": 9},
    {"q": 7},
    {"a": None},
    {},
    {"a": 2, "b": 2, "c": 2, "d": 2},
    None,
]


@pytest.mark.parametrize("schema", MAP_SCHEMAS, ids=[f"m{i}" for i in range(len(MAP_SCHEMAS))])
def test_map_lowering_matches_evaluator(spark, schema):
    df = spark.createDataFrame([(m,) for m in MAP_ROWS], "m map<string,long>")
    eng = ConstraintEngine()
    compiled = eng.compile({"properties": {"m": dict(schema)}})
    got = [r.passed for r in compiled.apply_typed(df).select("passed").collect()]
    ev = Evaluator()
    want = []
    for m in MAP_ROWS:
        inst = {} if m is None else {"m": m}
        want.append(ev.validate({"properties": {"m": dict(schema)}}, inst).valid)
    assert got == want, f"schema={schema} got={got} want={want}"


def test_map_violation_paths(spark):
    df = spark.createDataFrame([({"a": 1, "b/c": 9},)], "m map<string,long>")
    eng = ConstraintEngine()
    compiled = eng.compile(
        {"properties": {"m": {"additionalProperties": {"maximum": 3}, "properties": {"a": True}}}}
    )
    out = compiled.apply_typed(df).select(F.explode("violations").alias("v")).collect()
    paths = {(r.v.keyword, r.v.instance_path) for r in out}
    assert ("maximum", "/m/b~1c") in paths


def test_float_map_values_read_as_written(spark):
    # a float value is the number to_json writes: 0.1f is 0.1, not
    # 0.10000000149011612, in the verdict and in the record's value
    df = spark.createDataFrame([({"a": 0.1},), ({"a": 0.3},)], "m map<string,float>")
    compiled = ConstraintEngine().compile(
        {"properties": {"m": {"additionalProperties": {"maximum": 0.1}}}})
    compiled.lower_columns(df.schema, F.struct(*df.columns))
    rows = compiled.apply_typed(df).select("passed", "violations").collect()
    assert [r.passed for r in rows] == [True, False]
    assert [tuple(v) for v in rows[1].violations] == [
        ("maximum", "/m/a", "/properties/m/additionalProperties/maximum", "0.3",
         "violates maximum 0.1")]


def test_static_coverage_schemas_lower_without_fallback(spark, typed_df):
    """The unevaluated* static-coverage schemas must take the typed
    Column path — falling back to batch would hide a lowering
    regression (the differential above passes either way)."""
    lowerable = [
        {"properties": {"nums": {"prefixItems": [{"minimum": 1}], "unevaluatedItems": {"maximum": 2}}}},
        {"properties": {"nums": {"allOf": [{"prefixItems": [{"minimum": 0}]}], "unevaluatedItems": False}}},
        {"properties": {"nums": {"items": {"type": "integer"}, "unevaluatedItems": False}}},
        {
            "$defs": {"base": {"properties": {"url": True, "lang": True}}},
            "allOf": [{"$ref": "#/$defs/base"}, {"properties": {"n": True}}],
            "properties": {"score": True, "flag": True, "tags": True, "nums": True},
            "unevaluatedProperties": False,
        },
    ]
    eng = ConstraintEngine()
    for schema in lowerable:
        compiled = eng.compile(dict(schema))
        compiled.lower_columns(typed_df.schema, F.struct(*typed_df.columns))
    # identical-coverage branch applicators also lower (round 2)
    for schema in [
        {"if": {"required": ["url"]}, "then": {"properties": {"lang": True}},
         "else": {"properties": {"lang": True}},
         "properties": {"url": True, "n": True, "score": True, "flag": True,
                        "tags": True, "nums": True},
         "unevaluatedProperties": False},
        {"anyOf": [{"properties": {"n": {"minimum": 0}}},
                   {"properties": {"n": {"maximum": 9}}}],
         "properties": {"url": True, "lang": True, "score": True, "flag": True,
                        "tags": True, "nums": True},
         "unevaluatedProperties": False},
    ]:
        compiled = eng.compile(dict(schema))
        compiled.lower_columns(typed_df.schema, F.struct(*typed_df.columns))
    # branch-DIVERGENT coverage must still refuse the typed path
    for schema in [
        {"properties": {"nums": {"contains": {"minimum": 2}, "unevaluatedItems": False}}},
        {"if": {"required": ["url"]}, "then": {"properties": {"lang": True}},
         "unevaluatedProperties": False},
        {"anyOf": [{"properties": {"n": True}}, {"properties": {"score": True}}],
         "unevaluatedProperties": False},
    ]:
        compiled = eng.compile(dict(schema))
        with pytest.raises(CannotLower):
            compiled.lower_columns(typed_df.schema, F.struct(*typed_df.columns))


# one valid value per built-in format, mutated by the fuzz below
FORMAT_EXEMPLARS = {
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


def _batch_format_verdicts(spark, pairs):
    """Batch-route verdicts of (format, value) pairs, one Arrow job: each
    document holds its value under its format's name."""
    import json

    from jschon_spark.engine import ConstraintEngine

    fmts = sorted({f for f, _ in pairs})
    compiled = ConstraintEngine(assert_formats=True).compile(
        {"properties": {f: {"format": f} for f in fmts}})
    jdf = spark.createDataFrame(
        [(i, json.dumps({f: v})) for i, (f, v) in enumerate(pairs)], "i int, doc string")
    out = compiled.apply_json(jdf, "doc", prefer_variant=False)
    return [r.passed for r in out.orderBy("i").select("passed").collect()]


def test_format_column_forms_match_python_validators(spark):
    """Round 5: the typed and variant Column format predicates must
    agree with the Python validators on the RFC 3339
    range/calendar edges the round-5 fix introduced (24:00:00, minute
    60, 2023-02-29, year 0000) — the pre-fix typed `date` form was
    regex-only and silently diverged from the calendar-checking batch
    path. Every built-in also runs its exemplar with a trailing
    newline, which Java's `$` accepted where Python's full match
    rejected it: the typed, variant and batch routes must all give the
    Python verdict."""
    import json

    from jschon_spark.engine import ConstraintEngine
    from jschon_spark.formats import BUILTIN_FORMATS

    samples = {
        "date-time": ["2024-02-29T00:00:00Z", "2023-02-29T00:00:00Z",
                      "2024-01-01T23:59:60Z", "2024-01-01T24:00:00Z",
                      "2024-01-01T10:60:00Z", "0000-02-29T00:00:00+23:59",
                      "2024-04-31T00:00:00Z", "not-a-date"],
        "date": ["2024-02-29", "2023-02-29", "0000-01-01", "2024-04-31",
                 "2024-12-31", "x"],
        "time": ["23:59:60Z", "24:00:00Z", "10:60:00Z", "10:00:00.5Z",
                 "10:00:00+24:00", "00:00:00-23:59"],
        "ipv4": ["01.1.1.1", "0.0.0.0", "255.255.255.255", "1.1.1.1.1"],
        "uuid": ["123E4567-E89B-12D3-A456-426614174000", "xyz"],
        # round-5 additions: the remaining 2020-12 vocabulary names —
        # shared pattern source strings, plus the idn-hostname
        # python-logic/Java-\p{L}\p{N} twin (incl. U+00A0, which Java
        # \s would pass but Python \s would reject — both sides must
        # treat it as LEGAL iri / ILLEGAL idn-email-local edge checks)
        "uri-reference": ["/a/b", "", "a:b", "a b", "%zz", "p%20q"],
        "iri": ["http://exämple.org/päth", "exämple.org/path",
                "http://e.org/a b", "mailto:üser@e.org",
                "http://e.org/ nbsp"],
        "iri-reference": ["/päth/ü", "", "#fräg", "a b"],
        "uri-template": ["http://e.org/{id}", "{/id*}", "{id:3}",
                         "{+path}/here", "{a,b}", "{id", "{bad name}",
                         "{id:0}", "{}", "x{y}z{w}"],
        "idn-email": ["üser@exämple.org", "a@b.c", "a b@c.d", "nope",
                      "a b@c.d"],
        "idn-hostname": ["exämple.org", "實例.xn--p1ai", "-bad.com",
                         "a..b", "a" * 63 + ".com", "a" * 64 + ".com",
                         "träiling-.com", "under_score.com"],
    }
    assert set(FORMAT_EXEMPLARS) == set(BUILTIN_FORMATS)
    eng = ConstraintEngine(assert_formats=True)
    pairs, wants = [], []
    for fmt, entry in BUILTIN_FORMATS.items():
        vals = samples.get(fmt, []) + [FORMAT_EXEMPLARS[fmt], FORMAT_EXEMPLARS[fmt] + "\n"]
        want = [entry.python_fn(v) for v in vals]
        pairs += [(fmt, v) for v in vals]
        wants += want
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        compiled = eng.compile(
            {"properties": {"s": {"format": fmt}}}
        )
        # apply_typed falls back to batch when a format has no Column
        # form (ipv6, regex, idn-hostname) — verdicts must match the
        # Python validator either way
        got_typed = [r.passed for r in compiled.apply_typed(df)
                     .select("passed").collect()]
        assert got_typed == want, (fmt, list(zip(vals, got_typed, want)))

        jdf = spark.createDataFrame(
            [(json.dumps({"s": v}),) for v in vals], "doc string"
        )
        var = compiled.apply_json(jdf, "doc")
        route = compiled.explain()[("apply_json", "doc")]
        if entry.column_fn is None:
            # Python-only formats (idn-hostname's RFC 5892/5893 rules
            # are beyond Java regex): the variant lowerer must DECLINE
            # (batch fallback), never silently assert a looser predicate
            assert route["route"] == "batch", (fmt, route)
            assert "has no Column form" in route["refused"]["variant"], (fmt, route)
            continue
        assert route["route"] == "variant", (fmt, route)
        got_var = [r.passed for r in var.select("passed").collect()]
        assert got_var == want, (fmt, list(zip(vals, got_var, want)))
    got_batch = _batch_format_verdicts(spark, pairs)
    assert got_batch == wants, [
        (p, g, w) for p, g, w in zip(pairs, got_batch, wants) if g != w]


def test_format_fuzz_cross_path(spark):
    """Randomized differential sweep over ALL 19 built-in formats:
    seeded mutations of valid exemplars (char flips/inserts/deletes
    drawn from an ascii+unicode alphabet, newline included) must get
    the SAME verdict from the Python validators, the typed Column
    lowering, the variant lowering and the batch route — the format
    surface's analogue of test_random_differential."""
    import json
    import random

    from jschon_spark.engine import ConstraintEngine
    from jschon_spark.formats import BUILTIN_FORMATS

    exemplars = FORMAT_EXEMPLARS
    assert set(exemplars) == set(BUILTIN_FORMATS)
    alphabet = "ab01-._~:/?#@!$&'()*+,;= %{}\\^<>äü 實\t\n"
    rng = random.Random(20260817)

    def mutate(s: str) -> str:
        if not s:
            return rng.choice(alphabet)
        op = rng.randrange(3)
        i = rng.randrange(len(s))
        ch = rng.choice(alphabet)
        if op == 0:
            return s[:i] + ch + s[i + 1:]
        if op == 1:
            return s[:i] + ch + s[i:]
        return s[:i] + s[i + 1:]

    eng = ConstraintEngine(assert_formats=True)
    total = divergent = 0
    pairs, wants = [], []
    for fmt, seed in exemplars.items():
        vals, seen = [seed], {seed}
        while len(vals) < 14:
            v = mutate(rng.choice(vals))
            if v not in seen:
                seen.add(v)
                vals.append(v)
        want = [BUILTIN_FORMATS[fmt].python_fn(v) for v in vals]
        assert any(want), fmt  # the exemplar itself must be valid
        pairs += [(fmt, v) for v in vals]
        wants += want
        compiled = eng.compile({"properties": {"s": {"format": fmt}}})
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        got_typed = [r.passed for r in compiled.apply_typed(df)
                     .select("passed").collect()]
        jdf = spark.createDataFrame(
            [(json.dumps({"s": v}),) for v in vals], "doc string")
        got_var = [r.passed for r in compiled.apply_json(jdf, "doc")
                   .select("passed").collect()]
        # ipv6 / regex / idn-hostname have no Column form: the engine
        # routes them to the batch evaluator, checked below with every
        # other format
        route = compiled.explain()[("apply_json", "doc")]["route"]
        assert route == ("batch" if BUILTIN_FORMATS[fmt].column_fn is None
                         else "variant"), (fmt, route)
        total += len(vals)
        for v, w, t, g in zip(vals, want, got_typed, got_var):
            if not (w == t == g):
                divergent += 1
                print(f"DIVERGENCE {fmt}: {v!r} python={w} typed={t} variant={g}")
    for (fmt, v), w, b in zip(pairs, wants, _batch_format_verdicts(spark, pairs)):
        if w != b:
            divergent += 1
            print(f"DIVERGENCE {fmt}: {v!r} python={w} batch={b}")
    assert divergent == 0, f"{divergent}/{total} divergent"


def test_regex_line_terminators_follow_python_re(spark):
    """Java regex ends lines at \\r, \\x85, \\u2028 and \\u2029 too, for
    `.` and `$`; Python `re` (the reference dialect) only at \\n. The
    typed, variant and batch paths must all give the Evaluator's
    verdict on strings carrying those characters — for ``pattern``
    and for the patternProperties / additionalProperties key
    matchers."""
    import json

    cases = [
        ({"properties": {"s": {"pattern": "^[a-z]{2}$"}}},
         ["ab\r", "ab\r\n", "ab\u2028", "ab\u2029", "ab\x85", "ab", "ab\n"]),
        ({"properties": {"s": {"pattern": "^a.b$"}}},
         ["a\rb", "a\u2028b", "a\x85b", "a\nb", "axb"]),
    ]
    eng = ConstraintEngine()
    ev = Evaluator()
    for schema, strings in cases:
        want = [ev.validate(schema, {"s": s}).valid for s in strings]
        compiled = eng.compile(schema)
        df = spark.createDataFrame([(s,) for s in strings], "s string")
        compiled.lower_columns(df.schema, F.struct(*df.columns))  # no fallback
        typed = [r.passed for r in compiled.apply_typed(df).collect()]
        jdf = spark.createDataFrame(
            [(json.dumps({"s": s}),) for s in strings], "doc string")
        variant = [r.passed for r in compiled.apply_json(jdf, "doc").collect()]
        assert compiled.explain()[("apply_json", "doc")]["route"] == "variant"
        batch = [r.passed for r in compiled.apply_json(
            jdf, "doc", prefer_variant=False).collect()]
        assert typed == want, (schema, list(zip(strings, typed, want)))
        assert variant == want, (schema, list(zip(strings, variant, want)))
        assert batch == want, (schema, list(zip(strings, batch, want)))

    keys = ["ab\r", "ab\u2028", "ab"]
    for schema in (
        {"patternProperties": {"^[a-z]{2}$": False}},
        {"patternProperties": {"^[a-z]{2}$": True}, "additionalProperties": False},
    ):
        docs = [json.dumps({k: 1}) for k in keys]
        want = [ev.validate(schema, {k: 1}).valid for k in keys]
        compiled = eng.compile(schema)
        jdf = spark.createDataFrame([(d,) for d in docs], "doc string")
        variant = [r.passed for r in compiled.apply_json(jdf, "doc").collect()]
        assert compiled.explain()[("apply_json", "doc")]["route"] == "variant"
        assert variant == want, (schema, list(zip(keys, variant, want)))
        mdf = spark.createDataFrame([({k: 1},) for k in keys], "m map<string,bigint>")
        mcompiled = eng.compile({"properties": {"m": schema}})
        typed = [r.passed for r in mcompiled.apply_typed(mdf).collect()]
        assert typed == want, (schema, list(zip(keys, typed, want)))
