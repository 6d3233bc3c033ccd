"""Benchmark harness — headline queries + the corpus validation pass.

Its final line is one compact JSON object:
  {"metric": "...", "value": <total sec>, "unit": "sec", "sf": ...,
   "docs_per_sec": ..., "queries_v": 2, "queries": [<sec>, ...], ...}
where ``queries`` lists the per-query seconds in the order the full
artifact (BENCH_local_latest.json) records as ``compact_queries_order``.

Env:
  SPARK_GRAFT_SF_DIR  input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[N] (default 32)
  BENCH_WEBPAGES_ROWS rows for the synthetic corpus pass (default 200k)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def force(df) -> int:
    """Materialize fully without driver collection (noop sink)."""
    df.write.mode("overwrite").format("noop").save()
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # large enough that the full corpus pass is compute-bound rather
    # than job-scheduling-bound (see BENCH_scaling.json methodology):
    # at 1M rows ~85% of wall time is fixed per-job scheduling cost
    n_pages = int(os.environ.get("BENCH_WEBPAGES_ROWS", "4000000"))

    from jschon_spark.session import get_spark

    spark = get_spark(app_name="jschon_spark_bench", cores=cpus)

    import __spark_entry__ as entrymod
    from jschon_spark.pipeline import validate_corpus
    from jschon_spark.sources.webpages import generate_webpages

    timings: dict[str, float] = {}
    qs = dict(entrymod.queries())
    # xxhash64 fast paths: perf-tracked here, value-verified via their
    # md5 twins in the oracle gate
    qs.update(getattr(entrymod, "extra_benches", dict)())
    # warm the JVM/codegen once with the cheapest query
    try:
        force(qs["stats_lineitem"](spark, sf_dir))
    except Exception:
        pass

    # the north-star workload: full keyword+stats+drift pass, docs/sec.
    # The corpus is materialized to parquet first so the timed pass
    # reads a table (scan + validate), not the generator.
    corpus_path = os.environ.get(
        "BENCH_CORPUS_PATH", f"/tmp/jschon_spark_bench_corpus_{n_pages}"
    )
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        generate_webpages(spark, n_pages).write.mode("overwrite").parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)
    from concurrent.futures import ThreadPoolExecutor

    def corpus_pass() -> float:
        t0 = time.time()
        report = validate_corpus(spark, docs, collect_metrics=False)
        # concurrent job submission: stage tails of one output overlap
        # the ramp-up of the next (what a production driver does).
        # drift is lazy since round 5 — materialize it HERE so its
        # corpus scan runs concurrently instead of as a serial prelude
        with ThreadPoolExecutor(max_workers=6) as pool:
            futs = [
                pool.submit(force, df)
                for df in (
                    report.verdicts,
                    report.partition_verdicts,
                    report.stats,
                    report.duplicate_urls,
                    report.lang_violations,
                )
            ]
            futs.append(pool.submit(lambda: report.drift))
            for f in futs:
                f.result()
        return time.time() - t0

    def timed_rep(name, fn, sink: dict[str, float]) -> None:
        # a failing rep must neither kill the bench nor clobber a
        # successful rep's timing: only record -1.0 when NO rep of
        # this query has succeeded in this sink
        try:
            t0 = time.time()
            force(fn(spark, sf_dir))
            t = time.time() - t0
        except Exception as e:
            if sink.get(name, -1.0) <= 0:
                sink[name] = -1.0
            print(f"# bench error in {name}: {e}", file=sys.stderr)
            return
        prev = sink.get(name)
        sink[name] = round(t if prev is None or prev <= 0 else min(prev, t), 4)

    # Two rep placements, both reported (the artifact must be
    # comparable round-over-round even if one methodology changes):
    #
    # "queries" — best-of-2 INTERLEAVED: the sandbox hypervisor has
    # multi-10s noise windows (BASELINE.md) that poison back-to-back
    # reps; two full passes over the list put ~a minute between a
    # query's reps so a window hits at most one. Caveat: Spark's
    # whole-stage-codegen class cache holds ~100 generated classes, so
    # with 40+ queries in between BOTH reps re-pay Janino compilation —
    # these numbers carry a per-plan compile overhead.
    #
    # "queries_steady" — best-of-2 CONSECUTIVE: rep 1 warms the
    # codegen cache, rep 2 rides it. This is the steady-state number
    # (compile amortized away at production scale) and the one
    # comparable to pre-round-3 artifacts; it is noise-vulnerable, so
    # read a single outlier against the interleaved column.
    for _ in range(2):
        for name, fn in qs.items():
            timed_rep(name, fn, timings)
    steady: dict[str, float] = {}
    for name, fn in qs.items():
        for _ in range(2):
            timed_rep(name, fn, steady)

    # Corpus reps run CONSECUTIVELY, after the queries: Spark's
    # whole-stage-codegen class cache holds ~100 generated classes, so
    # a rep separated from the last by 40 queries re-pays ~10s of
    # serial Janino compilation for the five wide validation plans
    # (measured 14.5s interleaved vs ~6s back-to-back). Rep 1 absorbs
    # the compile — a one-time driver cost amortized away at production
    # scale — and three steady-state reps ride the cache while still
    # out-voting a single noise window.
    corpus_sec = float("inf")
    for _ in range(4):
        corpus_sec = min(corpus_sec, corpus_pass())
    timings["corpus_full_pass"] = round(corpus_sec, 4)

    total = round(sum(t for t in timings.values() if t > 0), 4)
    full = {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_steady": steady,
        "rep_placement": {
            "queries": "best-of-2 interleaved across the full list "
            "(noise-robust; pays whole-stage-codegen recompile per rep)",
            "queries_steady": "best-of-2 consecutive (steady-state, "
            "codegen-warm; comparable to BENCH_r02 and earlier)",
            "corpus_full_pass": "best-of-4 consecutive, rep 1 absorbs "
            "Janino compile",
        },
        "steady_median_excludes": {
            "streaming_dedup_firstseen": "4 SEQUENTIAL micro-batch "
            "round-trips through a file source + checkpoint dir by "
            "construction — harness shape dominates its wall time, so "
            "it is the dominant variance term; exclude it from "
            "round-over-round steady medians",
            "streaming_late_data_verdicts": "5 sequential micro-batches "
            "(incl. the watermark-advance no-data batch) through a "
            "file source + checkpoint dir — same harness-shape "
            "variance as streaming_dedup_firstseen",
            "streaming_sessionize_events": "4 sequential micro-batches "
            "+ checkpoint I/O (same streaming harness shape)",
        },
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "docs_per_sec": round(n_pages / corpus_sec, 1),
        "corpus_rows": n_pages,
        "cpus": cpus,
    }
    # The driver harness captures only the LAST ~2000 bytes of stdout
    # and parses the final line: the full object (above ~3 KB at 48
    # queries) overflowed that window in round 4 ("parsed": null).
    # Emit tail-safely: write the full object to a committed artifact
    # file, print it first (complete in full logs, harmlessly truncated
    # in the tail), and make the FINAL line a compact <2000-byte object
    # carrying the headline plus the per-query steady numbers (the
    # round-over-round comparable placement) as one array, in the order
    # the full artifact records: the names alone took ~1400 bytes.
    order = [*steady, "corpus_full_pass"]
    full["compact_queries_order"] = order
    full_path = os.environ.get(
        "BENCH_FULL_PATH",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_local_latest.json"),
    )
    try:
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1)
            fh.write("\n")
    except OSError as e:
        print(f"# bench: could not write {full_path}: {e}", file=sys.stderr)
    print(json.dumps(full))
    # compact line budget: rep-placement prose and the exclusion list
    # live in the full artifact — every byte here buys a per-query
    # number inside the driver's ~2000-byte tail capture
    compact = {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "sf": full["sf"],
        "docs_per_sec": full["docs_per_sec"],
        "corpus_rows": n_pages,
        "cpus": cpus,
        "queries_v": 2,
        "queries": [round(steady[k], 2) for k in order[:-1]]
        + [timings["corpus_full_pass"]],
        "full_artifact": os.path.basename(full_path),
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # hard tail-capture guard: corpus pass only
        del compact["queries"]
        compact["corpus_full_pass"] = timings["corpus_full_pass"]
        line = json.dumps(compact, separators=(",", ":"))
    sys.stdout.flush()
    print(line)


if __name__ == "__main__":
    main()
