"""The repository benchmark: closed-loop validation workloads on a local
Spark session sized to the machine.

    python3 perfbench/run.py --workload corpus_pass --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  One client in one process runs reps
back to back; a rep starts only after the previous rep's outputs are
materialized.  Inputs are generated from ``--seed`` before Spark starts.
The first rep after ``get_spark`` is the cold rep.  ``WARMUP`` untimed
reps follow: the JIT is still compiling through the first warm reps,
which run up to half again as long as the later ones.  Then timed warm
reps run until ``--seconds`` have passed (at least the workload's
``timed_reps``; with tracing, at least two traced and two untraced).
Every rep's outputs are checked (``workloads.py``); a rep that raises or
fails its check counts as failed and is printed to standard error.

``--trace 0`` prints the end-to-end metrics:

* ``setup_s`` — time spent in ``get_spark``, each time launching a
  fresh JVM: the median of ``SETUPS`` launches (the last one runs the
  workload);
* ``cold_s`` — wall time of the cold rep;
* ``docs_per_s`` — documents one rep validates divided by the median
  wall time of the timed warm reps.

and, before them, each setup time, each timed rep's wall time and the
time of each phase of the run (input preparation, setups, input
loading, output checks, the reps outside them, the final stop).

``--trace 1`` traces the cold rep, alternates untraced and traced timed
warm reps and prints the per-layer metrics of the traced warm ones
(medians over reps), the plan-building layers of the cold rep
(``cold.*``), the median wall time of each kind of warm rep, their
difference (the tracing overhead) and each metric's target end-to-end
metric, and writes the spans to ``.perfbench_work/spans-<workload>-<seed>.json``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed``, ``metrics``.  Everything the run writes stays
under ``.perfbench_work/`` in the checkout: inputs (kept per workload for
the last seed and size), Spark's local and temporary directories, spans.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

import gen
import workloads
from spans import COLD_LAYERS, LAYERS, NullTracer, Tracer, _children, peak_rss

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WARMUP = 1
SETUPS = 3


def _environment() -> int:
    """Point every writer at the work directory and the Python workers
    at the checkout; returns the core count."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_MASTER", None)
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None
    return len(os.sched_getaffinity(0))


def _stop(spark) -> None:
    """Stop Spark, its JVM and the JVM's Python workers, and wait for
    each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _children(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.05)
    SparkContext._gateway = SparkContext._jvm = None


def _kernels(seed: int) -> dict[str, float]:
    """Driver-side throughput of the two in-process validation kernels
    on 2000 documents under the batch route's schema: the full
    ``Evaluator.validate`` walk and the ``compile_valid`` predicate."""
    from jschon_spark.evaluator import Evaluator
    from jschon_spark.fastpath import compile_valid
    from jschon_spark.schema.catalog import SchemaCatalog

    sample = [json.loads(d) for d in gen.docs(seed, 2000)[0]["doc"].to_pylist()]
    schema = gen.doc_schema(seed, "batch")
    ev = Evaluator()
    catalog = SchemaCatalog()
    fast = compile_valid(schema, catalog, catalog.register(schema))

    def rate(fn) -> float:
        runs = []
        for _ in range(3):
            t = time.perf_counter()
            for d in sample:
                fn(d)
            runs.append(len(sample) / (time.perf_counter() - t))
        return statistics.median(runs)

    return {
        "evaluator.docs_per_s": rate(lambda d: ev.validate(schema, d)),
        "fastpath.docs_per_s": rate(fast) if fast is not None else 0.0,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "jschon_spark")):
        print(f"perfbench: no jschon_spark package in {ROOT}", file=sys.stderr)
        return 2
    cores = _environment()
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload](args.seed, WORK, 2 * cores)
    t0 = time.perf_counter()
    wl.prepare()
    phases = {"prepare": time.perf_counter() - t0}

    from jschon_spark.operators._cachereg import release_caches
    from jschon_spark.session import get_spark

    setups = []
    n_setups = 1 if args.trace else SETUPS
    for k in range(n_setups):
        t = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", cores=cores,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        setups.append(time.perf_counter() - t)
        if k < n_setups - 1:
            _stop(spark)
    phases["setups"] = time.perf_counter() - t0 - phases["prepare"]
    spark.sparkContext.setLogLevel("ERROR")

    attempted = failed = 0
    walls: list[float] = []          # warm, untraced
    traced_walls: list[float] = []
    layers: list[dict] = []
    cold_layers: dict = {}
    cold_s = None
    null = NullTracer()
    try:
        t = time.perf_counter()
        wl.load(spark)
        phases["load"] = time.perf_counter() - t
        tracer = Tracer(spark) if args.trace else None
        timed_start = None
        i = 0
        def short() -> bool:
            if failed >= wl.timed_reps:
                return False
            if args.trace:
                return min(len(walls), len(traced_walls)) < 2
            return len(walls) < wl.timed_reps

        while timed_start is None or short() or time.perf_counter() - timed_start < args.seconds:
            traced = tracer is not None and (i == 0 or (i > WARMUP and i % 2 == 1))
            tr = tracer if traced else null
            attempted += 1
            before = tracer.codegen_counters() if traced else None
            t = time.perf_counter()
            try:
                with tr.span("rep") as rep:
                    out = wl.rep(i, tr)
                wall = time.perf_counter() - t
                if traced:
                    m = tracer.collect_rep(rep, before)
                    if i == 0:
                        cold_layers = m
                    else:
                        layers.append(m)
                    wall = time.perf_counter() - t
                tc = time.perf_counter()
                problems = wl.check(i, out)
                phases["check"] = phases.get("check", 0.0) + time.perf_counter() - tc
            except Exception:
                traceback.print_exc()
                problems = ["rep raised"]
            release_caches()
            if problems:
                failed += 1
                print(f"FAILED rep {i} of {wl.name} (seed {args.seed}):", *problems,
                      sep="\n  ", file=sys.stderr)
            elif i == 0:
                cold_s = wall
            elif i <= WARMUP:
                pass
            elif traced and i > WARMUP:
                traced_walls.append(wall)
            else:
                walls.append(wall)
            if i == WARMUP:
                timed_start = time.perf_counter()
            i += 1
        if args.trace:
            mem = peak_rss(spark.sparkContext._gateway.proc.pid)
            tracer.write(os.path.join(WORK, f"spans-{wl.name}-{args.seed}.json"))
    finally:
        t = time.perf_counter()
        phases["reps"] = t - t0 - sum(phases.values())
        _stop(spark)
        phases["stop"] = time.perf_counter() - t

    def result(metrics: dict, units: dict) -> None:
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))

    setup_s = statistics.median(setups)
    if cold_s is None or not walls or (args.trace and not traced_walls):
        print("perfbench: no successful cold and warm reps", file=sys.stderr)
        result({"setup_s": setup_s}, {"setup_s": "s"})
        return 1

    median = statistics.median(walls)
    if args.trace:
        metrics = {k: statistics.median(m.get(k, 0.0) for m in layers) for k in LAYERS}
        metrics.update({k: cold_layers.get(k[len("cold."):], 0.0) for k in COLD_LAYERS})
        metrics.update(_kernels(args.seed))
        metrics.update(mem)
        metrics["trace.traced_rep_s"] = statistics.median(traced_walls)
        metrics["trace.untraced_rep_s"] = median
        metrics["trace.overhead_s"] = metrics["trace.traced_rep_s"] - median
        per_layer = {**LAYERS, **COLD_LAYERS}
        units = {k: u for k, (u, _) in per_layer.items()}
        print(f"{wl.name} seed {args.seed}: per-layer medians over "
              f"{len(layers)} traced warm reps ({len(walls)} untraced), and the cold rep")
        for k, (u, target) in per_layer.items():
            print(f"  {k:30s} {metrics[k]:>16.6g} {u:7s} -> {target}")
    else:
        metrics = {"setup_s": setup_s, "cold_s": cold_s, "docs_per_s": wl.docs / median}
        units = {"setup_s": "s", "cold_s": "s", "docs_per_s": "docs/s"}
        print(f"{wl.name} seed {args.seed}: {wl.docs} docs per rep; {len(walls)} timed warm reps, "
              f"median {median:.4f} s; {attempted} reps attempted, {failed} failed")
        print("  setups (s):", " ".join(f"{w:.3f}" for w in setups))
        print("  phases (s):", " ".join(f"{k} {v:.1f}" for k, v in phases.items()))
        print("  timed warm reps (s):", " ".join(f"{w:.3f}" for w in walls))
        for k, v in metrics.items():
            print(f"  {k:12s} {v:>14.6g} {units[k]}")
    result(metrics, units)
    return 0


if __name__ == "__main__":
    sys.exit(main())
