"""Spans around the calls the benchmark makes into each layer, and the
readers that attribute Spark's own accounting to them.

A span is ``(id, trace, parent, name, start, end)``; every rep is a
trace.  ``Tracer.span`` also sets the Spark job group to the span id, so
each job the call submits is attached under it.  After a rep, ``Tracer``
reads, with the UI off:

* the status store: jobs of the rep's job groups, and the task, CPU,
  GC, deserialization, input, shuffle and spill totals of their stages;
* each materialized DataFrame's ``QueryPlanningTracker`` phases, and its
  executed plan: which lowering ran (``engine.*_applies``) and the
  Python runner's ``PythonSQLMetrics``;
* the code generator's compile time and count, and cached bytes.

Spans stay in memory; ``write`` dumps them with self times when the run
ends.  ``NullTracer`` has the same interface and does nothing, so the
untraced reps run the same code.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time

# the end-to-end metric each layer should move, and where
_PLAN = "cold_s on every workload; docs_per_s on corpus_pass, whose pipeline plans each rep"
_ROUTE = "names the workload a routing change moves"
_CORPUS = "docs_per_s on corpus_pass"
_EXEC = "docs_per_s on corpus_pass, and on doc_routes (its variant schemas)"
_VIOL = "docs_per_s on doc_routes (variant, then batch schemas); a little on corpus_pass"
_PYTHON = "docs_per_s on doc_routes (its batch schemas); no change on corpus_pass"
_MEM = "none: shows work moved into memory"
_TRACE = "none: tracing overhead"

# per-layer metric -> (unit, target)
LAYERS = {
    "schema.compile_s": ("s", _PLAN),
    "engine.apply_typed_s": ("s", _PLAN),
    "engine.apply_json_s": ("s", _PLAN),
    "catalyst.analysis_s": ("s", _PLAN),
    "catalyst.optimization_s": ("s", _PLAN),
    "catalyst.planning_s": ("s", _PLAN),
    "codegen.compile_s": ("s", _PLAN),
    "codegen.compiles": ("count", _PLAN),
    "driver.gap_s": ("s", _PLAN),
    "engine.typed_applies": ("count", _ROUTE),
    "engine.variant_applies": ("count", _ROUTE),
    "engine.batch_applies": ("count", _ROUTE),
    "pipeline.validate_corpus_s": ("s", "docs_per_s and cold_s on corpus_pass"),
    "output.verdicts_s": ("s", _CORPUS),
    "output.partition_verdicts_s": ("s", _CORPUS),
    "operators.stats_s": ("s", _CORPUS),
    "operators.uniqueness_s": ("s", _CORPUS),
    "operators.referential_s": ("s", _CORPUS),
    "operators.drift_s": ("s", _CORPUS),
    "exec.shuffle_write_bytes": ("bytes", _CORPUS),
    "exec.shuffle_read_bytes": ("bytes", _CORPUS),
    "exec.spill_bytes": ("bytes", _CORPUS),
    "exec.task_skew": ("ratio", _CORPUS),
    "mem.cached_bytes": ("bytes", _CORPUS),
    "output.violations_s": ("s", _VIOL),
    "exec.jobs": ("count", _EXEC),
    "exec.stages": ("count", _EXEC),
    "exec.tasks": ("count", _EXEC),
    "exec.run_s": ("s", _EXEC),
    "exec.cpu_s": ("s", _EXEC),
    "exec.gc_s": ("s", _EXEC),
    "exec.deser_s": ("s", _EXEC),
    "exec.input_bytes": ("bytes", _EXEC),
    "udf.python_total_s": ("s", _PYTHON),
    "udf.python_boot_s": ("s", _PYTHON),
    "udf.python_init_s": ("s", _PYTHON),
    "udf.bytes_sent": ("bytes", _PYTHON),
    "udf.bytes_received": ("bytes", _PYTHON),
    "udf.rows": ("count", _PYTHON),
    "evaluator.docs_per_s": ("docs/s", _PYTHON),
    "fastpath.docs_per_s": ("docs/s", _PYTHON),
    "mem.jvm_peak_rss_mb": ("MB", _MEM),
    "mem.driver_peak_rss_mb": ("MB", _MEM),
    "mem.workers_peak_rss_mb": ("MB", _MEM),
    "trace.traced_rep_s": ("s", _TRACE),
    "trace.untraced_rep_s": ("s", _TRACE),
    "trace.overhead_s": ("s", _TRACE),
}

# the plan-building layers read again from the traced cold rep, where
# doc_routes compiles and lowers its schemas: ``cold.<layer>`` -> (unit, target)
COLD_LAYERS = {
    "cold." + k: (unit, "cold_s; on doc_routes the schemas are compiled and lowered here")
    for k, (unit, target) in LAYERS.items() if target == _PLAN
}

_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas")
# Spark's own PythonSQLMetrics; note that pythonInitTime is measured from
# the worker's previous task, so with reused workers it includes idle time
_UDF_METRICS = {
    "pythonTotalTime": "udf.python_total_s",
    "pythonBootTime": "udf.python_boot_s",
    "pythonInitTime": "udf.python_init_s",
    "pythonDataSent": "udf.bytes_sent",
    "pythonDataReceived": "udf.bytes_received",
    "pythonNumRowsReceived": "udf.rows",
}
# SQLMetric types whose values are durations, to seconds
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


class NullTracer:
    """Tracing off: spans and records cost one call each."""

    def span(self, name: str):
        return contextlib.nullcontext()

    def record(self, df, apply: bool = False) -> None:
        pass


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[tuple[int, str]] = []
        self._trace = 0
        self._dfs: list[tuple] = []
        self._seen_jobs: set[int] = set()

    # -- spans -----------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1][0] if self._stack else None
        if parent is None:
            self._trace = sid
            self._dfs.clear()
        rec = {"id": sid, "trace": self._trace, "parent": parent, "name": name,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append((sid, name))
        self.sc.setJobGroup(str(sid), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(str(self._stack[-1][0]), self._stack[-1][1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def record(self, df, apply: bool = False) -> None:
        """Remember a DataFrame whose action just ran; ``apply`` marks the
        first output of one engine apply call, whose plan says which
        lowering the call took."""
        self._dfs.append((df, apply))

    # -- per-rep readers -------------------------------------------------------------
    def codegen_counters(self) -> tuple[float, int]:
        gen = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        hist = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        return gen.compileTime() / 1e9, hist.getCount()

    def collect_rep(self, rep: dict, codegen_before: tuple[float, int]) -> dict:
        """Per-layer numbers of the rep whose root span is ``rep``."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        m: dict[str, float] = {}
        ids = {s["id"] for s in self.spans if s["trace"] == rep["id"]}
        for s in self.spans:
            if s["trace"] == rep["id"] and s["parent"] is not None and "kind" not in s:
                key = s["name"] + "_s"
                m[key] = m.get(key, 0.0) + s["end"] - s["start"]
        for df, apply in self._dfs:
            self._read_plan(df, apply, m)
        self._dfs.clear()
        self._read_jobs(ids, rep, m)
        self._read_stages(rep["id"], m)
        t, n = self.codegen_counters()
        m["codegen.compile_s"] = t - codegen_before[0]
        m["codegen.compiles"] = n - codegen_before[1]
        m["mem.cached_bytes"] = sum(
            r.memSize() + r.diskSize() for r in self.sc._jsc.sc().getRDDStorageInfo()
        )
        return m

    def _read_plan(self, df, apply: bool, m: dict) -> None:
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            if phases.contains(ph):
                m[f"catalyst.{ph}_s"] = m.get(f"catalyst.{ph}_s", 0.0) + phases.apply(ph).durationMs() / 1e3
        names: list[str] = []
        for node, cached in _walk(qe.executedPlan()):
            name = node.nodeName()
            names.append(name)
            if cached or not name.startswith(_PY_NODES):
                continue
            metrics = node.metrics()
            for key, out in _UDF_METRICS.items():
                if metrics.contains(key):
                    metric = metrics.apply(key)
                    scale = _TIME_SCALE.get(metric.metricType(), 1)
                    m[out] = m.get(out, 0) + metric.value() * scale
        if apply:
            if any(n.startswith(_PY_NODES) for n in names):
                route = "batch"
            elif "variant" in qe.executedPlan().toString().lower():
                route = "variant"
            else:
                route = "typed"
            m[f"engine.{route}_applies"] = m.get(f"engine.{route}_applies", 0) + 1

    def _read_jobs(self, ids: set[int], rep: dict, m: dict) -> None:
        store = self.sc._jsc.sc().statusStore()
        n_jobs = 0
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() in self._seen_jobs or not j.jobGroup().isDefined():
                continue
            group = j.jobGroup().get()
            if not group.isdigit() or int(group) not in ids:
                continue
            self._seen_jobs.add(j.jobId())
            n_jobs += 1
            sub, done = j.submissionTime(), j.completionTime()
            stages = j.stageIds()
            self.spans.append({
                "id": next(self._ids), "trace": rep["id"], "parent": int(group),
                "name": f"spark.job.{j.jobId()}", "kind": "job",
                "stages": [stages.apply(k) for k in range(stages.size())],
                "start_ms": sub.get().getTime() if sub.isDefined() else None,
                "end_ms": done.get().getTime() if done.isDefined() else None,
            })
        m["exec.jobs"] = n_jobs
        # jobs are stamped in epoch ms; the rep in perf_counter seconds
        offset = time.time() - time.perf_counter()
        intervals = sorted(
            (s["start_ms"] / 1e3 - offset, s["end_ms"] / 1e3 - offset)
            for s in self.spans
            if s.get("kind") == "job" and s["trace"] == rep["id"]
            and s["start_ms"] is not None and s["end_ms"] is not None
        )
        covered = _union(intervals, rep["start"], rep["end"])
        m["driver.gap_s"] = max(0.0, rep["end"] - rep["start"] - covered)

    def _read_stages(self, rep_id: int, m: dict) -> None:
        store = self.sc._jsc.sc().statusStore()
        wanted = {
            st for s in self.spans if s.get("kind") == "job" and s["trace"] == rep_id
            for st in s["stages"]
        }
        totals = dict.fromkeys(
            ["exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
             "exec.deser_s", "exec.input_bytes", "exec.shuffle_read_bytes",
             "exec.shuffle_write_bytes", "exec.spill_bytes"], 0)
        widest = None
        gw = self.sc._gateway
        stages = store.stageList(
            gw.jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList(),
        )
        for k in range(stages.size()):
            st = stages.apply(k)
            if st.stageId() not in wanted or st.status().toString() != "COMPLETE":
                continue
            n = st.numTasks()
            totals["exec.stages"] += 1
            totals["exec.tasks"] += n
            totals["exec.run_s"] += st.executorRunTime() / 1e3
            totals["exec.cpu_s"] += st.executorCpuTime() / 1e9
            totals["exec.gc_s"] += st.jvmGcTime() / 1e3
            totals["exec.deser_s"] += st.executorDeserializeTime() / 1e3
            totals["exec.input_bytes"] += st.inputBytes()
            totals["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
            totals["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            totals["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            key = (n, st.executorRunTime())
            if widest is None or key > widest[0]:
                widest = (key, st.stageId(), st.attemptId())
        m.update(totals)
        m["exec.task_skew"] = 1.0
        if widest is not None:
            q = gw.new_array(gw.jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summary = store.taskSummary(widest[1], widest[2], q)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                if rt.apply(0) > 0:
                    m["exec.task_skew"] = rt.apply(1) / rt.apply(0)

    # -- output ---------------------------------------------------------------------
    def write(self, path: str) -> None:
        """Dump every span with its self time: duration minus the part
        of it that child spans cover."""
        offset = time.time() - time.perf_counter()
        out = []
        for s in self.spans:
            if s.get("kind") == "job":
                if s["start_ms"] is None or s["end_ms"] is None:
                    continue
                start, end = s["start_ms"] / 1e3 - offset, s["end_ms"] / 1e3 - offset
            else:
                start, end = s["start"], s["end"]
            out.append({"id": s["id"], "trace": s["trace"], "parent": s["parent"],
                        "name": s["name"], "start": start, "end": end,
                        "stages": s.get("stages")})
        children: dict = {}
        for s in out:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in out:
            kids = sorted(children.get(s["id"], []))
            s["self"] = s["end"] - s["start"] - _union(kids, s["start"], s["end"])
        with open(path, "w") as f:
            json.dump(out, f)


def _walk(plan, cached: bool = False):
    """Nodes of an executed plan, through adaptive wrappers, query stages
    and cached relations (the last flagged: their metrics are those of
    the run that built the cache)."""
    name = plan.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        yield from _walk(plan.executedPlan(), cached)
        return
    yield plan, cached
    if "QueryStage" in name and hasattr(plan, "plan"):
        yield from _walk(plan.plan(), cached)
        return
    if name == "InMemoryTableScan":
        yield from _walk(plan.relation().cachedPlan(), True)
    kids = plan.children()
    for i in range(kids.size()):
        yield from _walk(kids.apply(i), cached)


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of sorted ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- memory from /proc (psutil is not installed) --------------------------------------

def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def peak_rss(jvm_pid: int) -> dict[str, float]:
    """Peak resident set of the driver, the JVM, and the sum over the
    JVM's descendant processes (the Python workers)."""
    workers, todo = 0.0, _children(jvm_pid)
    while todo:
        pid = todo.pop()
        workers += _hwm_mb(pid)
        todo.extend(_children(pid))
    return {
        "mem.jvm_peak_rss_mb": _hwm_mb(jvm_pid),
        "mem.driver_peak_rss_mb": _hwm_mb(os.getpid()),
        "mem.workers_peak_rss_mb": workers,
    }
