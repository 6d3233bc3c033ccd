"""The engine's route ladder: typed Columns, then VariantType, then the
Arrow batch evaluator, with every refusal reported by ``explain()``.
Each route must give the evaluator's verdict."""

from __future__ import annotations

import datetime as dt

from jschon_spark.engine import ConstraintEngine
from jschon_spark.evaluator import Evaluator

# two resources own the "x" dynamic anchor: the rebinding depends on
# the dynamic scope, so no Column route can inline it
DYNAMIC_REF = {
    "$id": "https://ladder.example/root",
    "$defs": {
        "strict": {"$dynamicAnchor": "x", "type": "string", "pattern": "^https?://"},
        "inner": {
            "$id": "https://ladder.example/inner",
            "$defs": {"default": {"$dynamicAnchor": "x"}},
            "properties": {"url": {"$dynamicRef": "#x"}},
        },
    },
    "$ref": "https://ladder.example/inner",
}
# a named backreference: Python `re` syntax that Java regex lacks
BACKREFERENCE = {"properties": {"url": {"pattern": "^(?P<c>[a-z])(?P=c)"}}}


def test_typed_refusal_runs_on_variant(spark):
    """A compound const over a struct column has no typed form; the
    variant rung lowers it, and its verdicts are the evaluator's."""
    schema = {"properties": {"m": {"const": {"a": 1, "b": "x"}}}}
    rows = [((1, "x"),), ((2, "x"),), ((1, "y"),), ((1, None),), (None,)]
    df = spark.createDataFrame(rows, "m struct<a:bigint,b:string>")
    compiled = ConstraintEngine().compile(schema)
    got = [r.passed for r in compiled.apply_typed(df).collect()]
    ev = Evaluator()
    want = [
        ev.validate(schema, {} if m is None else {
            "m": {k: v for k, v in zip("ab", m) if v is not None}}).valid
        for (m,) in rows
    ]
    assert want == [True, False, False, False, True]
    assert got == want
    route = compiled.explain()[("apply_typed", "struct<m:struct<a:bigint,b:string>>")]
    assert route == {"route": "variant",
                     "refused": {"typed": "compound const requires batch evaluator"}}


def test_explain_names_route_and_reason(spark):
    """``explain()`` gives, per apply key, the route taken and why each
    rung above it refused: for a dynamically rebinding ``$dynamicRef``
    and for a backreference pattern."""
    urls = ["https://a.x", "aa-x", "ab", None]
    typed = spark.createDataFrame([(u,) for u in urls], "url string")
    docs = spark.createDataFrame(
        [('{"url": "%s"}' % u if u else "{}",) for u in urls], "doc string")
    ev = Evaluator()
    for schema, reason in ((DYNAMIC_REF, "$dynamicRef '#x' rebinds dynamically -> batch"),
                           (BACKREFERENCE, "regex dialect risk in pattern")):
        compiled = ConstraintEngine().compile(schema)
        want = [ev.validate(schema, {} if u is None else {"url": u}).valid for u in urls]
        assert [r.passed for r in compiled.apply_typed(typed).collect()] == want
        assert [r.passed for r in compiled.apply_json(docs, "doc").collect()] == want
        compiled.apply_json(docs, "doc", prefer_variant=False)
        routes = compiled.explain()
        assert set(routes) == {("apply_typed", "struct<url:string>"), ("apply_json", "doc")}
        typed_route = routes[("apply_typed", "struct<url:string>")]
        json_route = routes[("apply_json", "doc")]
        assert typed_route["route"] == json_route["route"] == "batch"
        assert list(typed_route["refused"]) == ["typed", "variant"]
        assert list(json_route["refused"]) == ["variant"]
        for why in [*typed_route["refused"].values(), json_route["refused"]["variant"]]:
            assert why.startswith(reason), why


def test_timestamp_reads_one_string_on_every_route(spark):
    """A typed timestamp or date is the same JSON string on the typed
    route and in the row document the variant and batch routes read,
    so a sibling that moves the schema off typed leaves its verdict."""
    ts_pattern = {"pattern": "^[0-9-]+T[0-9:]+Z$"}
    date_pattern = {"pattern": "^[0-9]{4}-[0-9]{2}-[0-9]{2}$"}
    df = spark.createDataFrame(
        [(dt.datetime(2025, 6, 1, 12, 0, 0), dt.date(2025, 6, 1), "::1", (1,)),
         (dt.datetime(2025, 6, 1, 12, 0, 0, 500000), dt.date(1999, 12, 31), "x", (2,))],
        "ts timestamp, d date, ip string, m struct<a:bigint>")
    siblings = {
        "typed": {},
        "variant": {"m": {"const": {"a": 1}}},
        "batch": {"ip": {"format": "ipv6"}},
    }
    key = ("apply_typed", "struct<ts:timestamp,d:date,ip:string,m:struct<a:bigint>>")
    for route, sibling in siblings.items():
        schema = {"properties": {"ts": ts_pattern, "d": date_pattern, **sibling}}
        compiled = ConstraintEngine(assert_formats=True).compile(schema)
        rows = compiled.apply_typed(df).collect()
        assert rows[0].passed is True, (route, rows[0].violations)
        assert compiled.explain()[key]["route"] == route
        if route != "typed":
            # the sibling fails the second row, and nothing else does
            assert [v.keyword for v in rows[1].violations] == [
                "const" if route == "variant" else "format"], route
