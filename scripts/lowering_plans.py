"""Dump (or diff) the optimized plans the Column lowerings build.

For a fixed set of schemas — the flagship page schema, the three
variant-path query schemas, the benchmark's doc-route schemas, every
keyword conformance case and the seeded random-differential
populations — this lowers each schema onto the typed path (over a
fixed list of Spark types) and onto the variant path, and writes one
JSON line per (schema, path, type): the route taken (``lowered`` or
the ``CannotLower`` reason), the py4j calls spent building the
Columns, and the optimized plan text with expression ids (``#123``)
and lambda variable names (``x_45``) normalized. Two dumps of two
checkouts then diff line by line, which shows whether a change to the
lowering left its plans byte-identical.

    python scripts/lowering_plans.py dump OUT.jsonl
    python scripts/lowering_plans.py diff A.jsonl B.jsonl

``batch OUT.jsonl`` dumps the Arrow batch route instead, driver-only
with no Spark: for each (schema, instance) over the conformance corpus,
the format cases (formats asserted), the seeded random-differential
populations and the benchmark's batch-route documents, one line whose
``route`` holds the ``compile_valid`` predicate's verdict and the full
walk's ``valid`` (or the exception either raised) and whose ``plan``
holds the full walk's ordered (keyword, instance_path, keyword_path,
error) rows. ``diff`` compares two such dumps unchanged.

Run it from the root of the checkout whose lowering is to be dumped.
"""

from __future__ import annotations

import json
import os
import random
import re
import sys

sys.path.insert(0, os.getcwd())

TYPED_DDLS = [
    "string", "bigint", "double", "boolean", "timestamp",
    "array<bigint>", "array<string>", "map<string,bigint>",
    "struct<url:string,lang:string,n:bigint,score:double,flag:boolean,"
    "tags:array<string>,nums:array<bigint>>",
    "struct<a:bigint,b:string,k:bigint,tag:string,vals:array<bigint>,"
    "meta:struct<v:bigint>,x:array<struct<a:bigint>>>",
    "struct<url:string,warc_ts:timestamp,text:string,lang:string>",
]


def _schemas():
    from jschon_spark import pipeline, queries
    from jschon_spark.conformance_corpus import CASES

    yield "page", pipeline.PAGE_SCHEMA
    yield "props", queries.PROPS_SCHEMA
    yield "array_props", queries.ARRAY_PROPS_SCHEMA
    yield "pattern_props", queries.PATTERN_PROPS_SCHEMA
    try:
        sys.path.insert(0, os.path.join(os.getcwd(), "perfbench"))
        import gen

        for route in gen.DOC_ROUTES:
            yield f"doc_schema/{route}", gen.doc_schema(7, route)
    except ImportError:
        pass
    for i, case in enumerate(CASES):
        yield f"case/{i}/{case['description']}", case["schema"]


def _random_schemas():
    from tests.test_random_differential import _rand_schema

    for i in range(40):
        yield f"rand/variant/{i}", _rand_schema(random.Random(2000 + i), depth=2), None
    for i in range(30):
        yield f"rand/typed/{i}", _rand_schema(random.Random(333000 + i), depth=2), TYPED_DDLS[8]
    for i in range(25):
        yield (f"rand/map/{i}",
               {"properties": {"m": _rand_schema(random.Random(777000 + i), depth=2)}},
               "struct<m:map<string,bigint>>")
    for tag, uri, dialect in (
        ("2019-09", "https://json-schema.org/draft/2019-09/schema", "2019-09"),
        ("next", "https://json-schema.org/draft/next/schema", "2020-12"),
    ):
        for i in range(160):
            s = _rand_schema(random.Random(910_000 + i), depth=2,
                             dialect=dialect, extended=True)
            s["$schema"] = uri
            yield f"rand/{tag}/{i}", s, None


_EXPR_ID = re.compile(r"#\d+L?")
_LAMBDA = re.compile(r"\b([a-z])_(\d+)\b")


def normalize(plan: str) -> str:
    seen: dict[str, str] = {}

    def lam(m: re.Match) -> str:
        return seen.setdefault(m.group(0), f"{m.group(1)}_{len(seen)}")

    return _LAMBDA.sub(lam, _EXPR_ID.sub("#", plan))


class _Py4jCounter:
    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        self.n = 0
        orig = client.send_command

        def counted(command, *a, **k):
            # proxy garbage collection ("m" memory commands) runs
            # whenever Python frees a Java object: not lowering work
            if not command.startswith("m\n"):
                self.n += 1
            return orig(command, *a, **k)

        client.send_command = counted


def dump(out_path: str) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from jschon_spark.engine import ConstraintEngine
    from jschon_spark.lowering.columns import CannotLower
    from jschon_spark.lowering.variant import validate_json_column_variant
    from jschon_spark.session import get_spark

    spark = get_spark(cores=2)
    counter = _Py4jCounter(spark)
    def frame(ddl):
        # struct types become the frame's columns, re-packed the way
        # apply_typed packs a row (a non-nullable struct)
        dtype = T._parse_datatype_string(ddl)
        if isinstance(dtype, T.StructType):
            df = spark.createDataFrame([], dtype)
            return dtype, df, F.struct(*df.columns)
        return dtype, spark.createDataFrame([], f"v {ddl}"), F.col("v")

    frames = {ddl: frame(ddl) for ddl in set(TYPED_DDLS)
              | {"struct<m:map<string,bigint>>"}}
    docs = spark.createDataFrame([], "doc string")

    def plan(df) -> str:
        return normalize(df._jdf.queryExecution().optimizedPlan().toString())

    def one(out, key, build):
        n0 = counter.n
        try:
            df = build()
            rec = {"route": "lowered", "py4j": counter.n - n0, "plan": plan(df)}
        except CannotLower as e:
            rec = {"route": f"CannotLower: {e}", "py4j": counter.n - n0}
        except Exception as e:  # noqa: BLE001 - recorded, not hidden
            rec = {"route": f"error: {type(e).__name__}: {e}"[:300]}
        out.write(json.dumps({"id": key, **rec}, sort_keys=True) + "\n")

    def typed(compiled, ddl):
        dtype, df, col = frames[ddl]
        valid, viols = compiled.lower_columns(dtype, col)
        return df.select(valid.alias("passed"), viols.alias("violations"))

    def variant(compiled):
        return validate_json_column_variant(
            docs, "doc", compiled.schema, compiled.catalog,
            compiled.assert_formats, compiled.base_uri,
        )

    with open(out_path, "w") as out:
        items = [(n, s, None) for n, s in _schemas()] + list(_random_schemas())
        for name, schema, only_ddl in items:
            fmts = (False, True) if '"format"' in json.dumps(schema) else (False,)
            for af in fmts:
                eng = ConstraintEngine(assert_formats=af)
                try:
                    compiled = eng.compile(schema, validate_schema=False)
                except Exception as e:  # noqa: BLE001
                    out.write(json.dumps({"id": f"{name}|compile", "route": f"error: {e}"[:300]}) + "\n")
                    continue
                for ddl in [only_ddl] if only_ddl else TYPED_DDLS:
                    one(out, f"{name}|typed|{ddl}|fmt={af}",
                        lambda: typed(compiled, ddl))
                if only_ddl is None:
                    one(out, f"{name}|variant|fmt={af}", lambda: variant(compiled))
    spark.stop()


def _batch_inputs():
    """(name, schema, instances, assert_formats) of the batch dump."""
    from jschon_spark.conformance_corpus import FORMAT_CASES, all_cases
    from tests.test_random_differential import _rand_doc

    docs = [_rand_doc(random.Random(5000 + i), depth=2) for i in range(24)]
    for i, case in enumerate(all_cases()):
        data = [d for d, _ in case["tests"]]
        yield f"case/{i}/{case['description']}", case["schema"], data + docs[:8], False
    for i, case in enumerate(FORMAT_CASES):
        yield f"format/{i}/{case['description']}", case["schema"], [d for d, _ in case["tests"]], True
    for name, schema, _ in _random_schemas():
        yield name, schema, docs + [{"m": d} for d in docs[:12]], False
    try:
        sys.path.insert(0, os.path.join(os.getcwd(), "perfbench"))
        import gen

        pages = [json.loads(d) for d in gen.docs(7, 300)[0]["doc"].to_pylist()]
        for route in gen.DOC_ROUTES:
            yield f"doc_schema/{route}", gen.doc_schema(7, route), pages, False
    except ImportError:
        pass


def batch(out_path: str) -> None:
    from jschon_spark.evaluator import Evaluator
    from jschon_spark.fastpath import compile_valid
    from jschon_spark.schema.catalog import SchemaCatalog

    def attempt(fn):
        try:
            return fn(), None
        except Exception as e:  # noqa: BLE001 - recorded, not hidden
            return None, f"{type(e).__name__}: {e}"[:200]

    with open(out_path, "w") as out:
        for name, schema, instances, af in _batch_inputs():
            catalog = SchemaCatalog()
            base = catalog.register(schema)
            ev = Evaluator(catalog, assert_formats=af)
            fast, fast_err = attempt(
                lambda: compile_valid(schema, catalog, base, af, ev.formats))
            for i, inst in enumerate(instances):
                full, full_err = attempt(lambda: ev.validate(schema, inst))
                if fast is not None:
                    pred, pred_err = attempt(lambda: fast(inst))
                elif fast_err is None:
                    # a compile_valid that declines the schema (None)
                    # leaves the batch route to the full walk
                    pred, pred_err = (full.valid if full else None), full_err
                else:
                    pred, pred_err = None, fast_err
                if pred_err or full_err:
                    route = f"error: pred={pred_err or pred} valid={full_err or full.valid}"
                    rows = None
                else:
                    route = f"pred={bool(pred)} valid={full.valid}"
                    rows = [[e.keyword, e.instance_path, e.keyword_path, e.error]
                            for e in full.errors]
                out.write(json.dumps({"id": f"{name}|{i}", "route": route,
                                      "plan": json.dumps(rows)}, sort_keys=True) + "\n")


def diff(a_path: str, b_path: str) -> int:
    def load(p):
        with open(p) as f:
            return {r["id"]: r for r in map(json.loads, f)}

    def outcome(r):
        return r.get("route", "missing").split(":", 1)[0]

    a, b = load(a_path), load(b_path)
    n_route = n_reason = n_plan = n_calls = 0
    for key in sorted(set(a) | set(b)):
        ra, rb = a.get(key, {}), b.get(key, {})
        if outcome(ra) != outcome(rb):
            n_route += 1
            print(f"ROUTE  {key}\n  - {ra.get('route')}\n  + {rb.get('route')}")
        elif ra.get("route") != rb.get("route"):
            n_reason += 1
            print(f"REASON {key}\n  - {ra.get('route')}\n  + {rb.get('route')}")
        elif ra.get("plan") != rb.get("plan"):
            n_plan += 1
            print(f"PLAN   {key}")
        if (rb.get("py4j") or 0) > (ra.get("py4j") or 0):
            n_calls += 1
            print(f"PY4J   {key}: {ra.get('py4j')} -> {rb.get('py4j')}")
    lowered = sum(r.get("route") == "lowered" for r in a.values())
    print(f"{len(a)} keys, {lowered} lowered; route diffs {n_route}, "
          f"reason diffs {n_reason}, plan diffs {n_plan}, more py4j calls "
          f"{n_calls}; py4j total {sum(r.get('py4j') or 0 for r in a.values())}"
          f" -> {sum(r.get('py4j') or 0 for r in b.values())}")
    return 1 if (n_route or n_plan) else 0


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "dump":
        dump(sys.argv[2])
    elif len(sys.argv) == 3 and sys.argv[1] == "batch":
        batch(sys.argv[2])
    elif len(sys.argv) == 4 and sys.argv[1] == "diff":
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    else:
        sys.exit(__doc__)
