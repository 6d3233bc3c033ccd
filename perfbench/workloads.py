"""The workloads.  Each one:

* ``prepare()`` — before Spark starts: materializes its inputs once per
  (seed, size) and computes the expected outputs;
* ``load(spark)`` — opens the inputs;
* ``rep(i, tr)`` — one closed-loop rep, timed: calls into the program
  and materializes every output, each call inside a ``tr.span``;
* ``check(i, out)`` — outside the timed region: the list of problems
  with the rep's outputs, empty when they are right.

``docs`` is the number of input documents one rep validates;
``timed_reps`` the fewest timed warm reps a run takes the median of.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import gen
import oracle


def _dataset(work: str, kind: str, seed: int, n: int, build) -> str:
    """Directory of input ``kind`` for (seed, n) and the current
    generator source, filled by ``build(dir)`` on first use (in a
    temporary directory, renamed when complete); other inputs of the same
    kind are removed."""
    root = os.path.join(work, "data")
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()[:12]
    path = os.path.join(root, f"{kind}-{seed}-{n}-{version}")
    if not os.path.isdir(path):
        os.makedirs(root, exist_ok=True)
        for old in os.listdir(root):
            if old.startswith(kind + "-"):
                shutil.rmtree(os.path.join(root, old))
        tmp = path + ".tmp"
        os.makedirs(tmp)
        build(tmp)
        os.rename(tmp, path)
    return path


def _digest(tr, df, cols: list[str], apply: bool = False) -> tuple[int, int]:
    agg = df.agg(*oracle.spark_digest_columns(df, cols))
    row = agg.collect()[0]
    tr.record(agg, apply)
    return row["n"], row["s"]


def _rows(tr, df) -> list[tuple]:
    rows = [tuple(r) for r in df.collect()]
    tr.record(df)
    return rows


class CorpusPass:
    """``pipeline.validate_corpus`` over web pages, all seven outputs."""

    name = "corpus_pass"
    size = 100_000
    timed_reps = 3

    def __init__(self, seed: int, work: str, n_files: int) -> None:
        self.seed, self.work, self.n_files = seed, work, n_files
        self.docs = self.size

    def prepare(self) -> None:
        self.path = _dataset(
            self.work, "pages", self.seed, self.size,
            lambda p: gen.write_parquet(gen.pages(self.seed, self.size), p, self.n_files),
        )
        self.want = oracle.corpus_expected(self.path, gen.LANG_CODES)

    def load(self, spark) -> None:
        self.spark = spark
        self.pages = spark.read.parquet(self.path)

    def rep(self, i: int, tr) -> dict:
        from jschon_spark import pipeline

        with tr.span("pipeline.validate_corpus"):
            r = pipeline.validate_corpus(self.spark, self.pages, collect_metrics=False)
        self.report = r
        out = {}
        with tr.span("output.verdicts"):
            out["verdicts"] = _digest(tr, r.verdicts, ["url", "day", "passed"], apply=True)
        with tr.span("output.partition_verdicts"):
            out["partition_verdicts"] = _rows(tr, r.partition_verdicts)
        with tr.span("output.violations"):
            out["violations"] = _digest(tr, r.violations, ["url", "keyword", "instance_path"])
        with tr.span("operators.stats"):
            out["stats"] = _rows(tr, r.stats)
        with tr.span("operators.uniqueness"):
            out["duplicate_urls"] = _digest(tr, r.duplicate_urls, ["url", "n_dup"])
        with tr.span("operators.referential"):
            out["lang_violations"] = _digest(tr, r.lang_violations, ["url", "lang"])
        with tr.span("operators.drift"):
            out["drift"] = r.drift
        return out

    def check(self, i: int, out: dict) -> list[str]:
        want, bad = self.want, []
        for k in ("verdicts", "violations", "duplicate_urls", "lang_violations"):
            if tuple(out[k]) != want[k]:
                bad.append(f"{k}: digest {tuple(out[k])} != oracle {want[k]}")
        pv = sorted(out["partition_verdicts"], key=lambda r: str(r[0]))
        if pv != want["partition_verdicts"]:
            bad.append("partition_verdicts: " + oracle.diff_rows(pv, want["partition_verdicts"]))
        for col, n, nulls, distinct, lo, hi in out["stats"]:
            w = want["stats"].get(col)
            # n_distinct is approx_count_distinct (HLL++, 5% relative
            # standard error): checked within five standard errors
            if w is None or (n, nulls, lo, hi) != (w[0], w[1], w[3], w[4]) \
                    or abs(distinct - w[2]) > 0.25 * w[2]:
                bad.append(f"stats[{col}]: {(n, nulls, distinct, lo, hi)} != oracle {w}")
        if len(out["stats"]) != len(want["stats"]):
            bad.append(f"stats: {len(out['stats'])} rows != {len(want['stats'])}")
        got = [(d["partition"], d["n"], d["psi"], d["passed"]) for d in out["drift"]]
        if len(got) != len(want["drift"]) or any(
            (g[0], g[1], g[3]) != (w[0], w[1], w[3]) or abs(g[2] - w[2]) > 1e-9 * max(1.0, abs(w[2]))
            for g, w in zip(got, want["drift"])
        ):
            bad.append("drift: " + oracle.diff_rows(got, want["drift"]))
        return bad


class DocRoutes:
    """Page-metadata documents with labeled defects, validated with one
    schema per route of the engine: typed Columns over the typed frame,
    VariantType over the JSON rendering, and the Arrow batch evaluator
    over the JSON of the first input file only, so a single Python worker
    runs at a time and the rep does not put more processes on the cores
    than there are.  The schemas are compiled once, in the cold rep, and
    applied in every rep, the engine's compile-once, apply-many use.
    Every schema's failure count and ``violations_table`` are
    materialized."""

    name = "doc_routes"
    size = 8_000
    timed_reps = 3

    def __init__(self, seed: int, work: str, n_files: int) -> None:
        self.seed, self.work, self.n_files = seed, work, n_files
        # the batch route's slice: one input file, so one task
        self.batch_docs = -(-self.size // n_files)
        self.docs = 2 * self.size + self.batch_docs
        self.compiled = {}

    def prepare(self) -> None:
        table, labels = gen.docs(self.seed, self.size)
        self.path = _dataset(
            self.work, self.name, self.seed, self.size,
            lambda p: gen.write_parquet(table, p, self.n_files),
        )
        self.want = {}
        for route in gen.DOC_ROUTES:
            mine = [(rid, k, p) for rid, k, p, r in labels
                    if r == route and (route != "batch" or rid < self.batch_docs)]
            self.want[route] = (len({rid for rid, _, _ in mine}), oracle.py_digest(mine))

    def load(self, spark) -> None:
        # cached by the cold rep's first job
        frame = spark.read.parquet(self.path).cache()
        self.typed = frame.select("rid", *gen.DOC_COLUMNS)
        self.json = frame.select("rid", "doc")
        self.batch_json = self.json.filter(f"rid < {self.batch_docs}")

    def rep(self, i: int, tr) -> dict:
        from pyspark.sql import functions as F

        from jschon_spark.engine import ConstraintEngine

        out = {}
        for route in gen.DOC_ROUTES:
            cs = self.compiled.get(route)
            if cs is None:
                with tr.span("schema.compile"):
                    cs = ConstraintEngine().compile(gen.doc_schema(self.seed, route))
                self.compiled[route] = cs
            if route == "typed":
                with tr.span("engine.apply_typed"):
                    v = cs.apply_typed(self.typed, gen.DOC_COLUMNS)
            else:
                with tr.span("engine.apply_json"):
                    v = cs.apply_json(self.json if route == "variant" else self.batch_json, "doc")
            with tr.span("output.verdicts"):
                agg = v.agg(F.count_if(~F.col("passed")).alias("n_failed"))
                n_failed = agg.collect()[0]["n_failed"]
                tr.record(agg, apply=True)
            with tr.span("output.violations"):
                viol = _digest(tr, cs.violations_table(v, "rid"),
                               ["rid", "keyword", "instance_path"])
            out[route] = (n_failed, tuple(viol))
        return out

    def check(self, i: int, out: dict) -> list[str]:
        return [
            f"{route} schema {i}: {got[0]} failures, violations {got[1]} != labels "
            f"{self.want[route][0]}, {self.want[route][1]}: "
            + json.dumps(gen.doc_schema(self.seed, route))
            for route, got in out.items() if got != self.want[route]
        ]


WORKLOADS = {w.name: w for w in (CorpusPass, DocRoutes)}
