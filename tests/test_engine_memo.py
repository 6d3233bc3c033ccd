"""The session memo (``session.memo``) and the compile memo on top of it
(``engine.compiled``): content keys, registry-version keys, and
invalidation when the JVM gateway is relaunched."""

from __future__ import annotations

import copy
import datetime as dt
import os
import subprocess
import sys
import textwrap
import time

from pyspark import SparkContext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_memo_drops_entries_when_gateway_changes(monkeypatch):
    from jschon_spark.session import memo

    calls = []

    def build():
        calls.append(1)
        return len(calls)

    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert memo(("memo-test",), build) == 1
    assert memo(("memo-test",), build) == 1
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert memo(("memo-test",), build) == 2


def test_compiled_keys_on_content_and_registry_version():
    from jschon_spark import engine
    from jschon_spark.functions import registry

    schema = {"type": "string", "format": "memo-probe"}
    first = engine.compiled(schema)
    assert engine.compiled(copy.deepcopy(schema)) is first
    assert engine.compiled(schema, assert_formats=True) is not first
    try:
        registry.format_validator("memo-probe")(lambda v: v == "ok")
        fresh = engine.compiled(copy.deepcopy(schema))
        assert fresh is not first
        assert engine.compiled(schema) is fresh
    finally:
        registry.unregister_format("memo-probe")
    assert engine.compiled(schema) is not fresh


def test_batch_programs_key_on_registry_version():
    """The batch path's per-worker memo sees a keyword registered on the
    driver after the schema was first compiled."""
    from jschon_spark.functions import registry
    from jschon_spark.lowering.batch import _compiled

    schema = {"type": "string", "memoProbe": True}
    assert _compiled(schema, [], False)[0].valid("x")
    try:
        registry.custom_keyword("memoProbe")(lambda value: lambda v: v == "ok")
        program = _compiled(schema, [], False)[0]
        assert not program.valid("x") and program.valid("ok")
    finally:
        registry.unregister_keyword("memoProbe")
    assert _compiled(schema, [], False)[0].valid("x")


def test_validate_corpus_recompiles_an_edited_page_schema(spark, monkeypatch):
    """An in-place edit of PAGE_SCHEMA changes its content key, so the
    next validate_corpus compiles the edited schema."""
    from jschon_spark.pipeline import PAGE_SCHEMA, validate_corpus

    ts = dt.datetime(2025, 6, 1, 12, 0, 0)
    docs = spark.createDataFrame(
        [("https://a.example/1", ts, "body", "en"),
         ("https://a.example/2", ts, "body", "eng")],
        "url string, warc_ts timestamp, text string, lang string",
    )

    def verdicts():
        rep = validate_corpus(spark, docs, collect_metrics=False)
        return {r.url: r.passed for r in rep.verdicts.collect()}

    assert verdicts() == {"https://a.example/1": True, "https://a.example/2": False}
    monkeypatch.setitem(PAGE_SCHEMA["properties"]["lang"], "pattern", "^[a-z]{3}$")
    assert verdicts() == {"https://a.example/1": False, "https://a.example/2": True}


RELAUNCH = textwrap.dedent("""
    from pyspark import SparkContext

    from jschon_spark.operators.webtext import url_features
    from jschon_spark.pipeline import validate_corpus
    from jschon_spark.session import get_spark
    from jschon_spark.sources.webpages import generate_webpages


    def run(spark):
        docs = generate_webpages(spark, 200, partitions=1)
        verdicts = validate_corpus(spark, docs, collect_metrics=False).verdicts
        return sorted(map(tuple, verdicts.collect()), key=repr), len(url_features(docs).collect())


    spark = get_spark(cores=1, shuffle_partitions=1)
    before = run(spark)
    spark.stop()
    old = SparkContext._gateway
    SparkContext._gateway = SparkContext._jvm = None
    old.shutdown()
    old.proc.stdin.close()
    old.proc.wait(timeout=60)
    spark = get_spark(cores=1, shuffle_partitions=1)
    assert run(spark) == before
    spark.stop()
    print("relaunch ok")
""")


def test_validate_corpus_and_url_features_after_a_jvm_relaunch():
    """After a new JVM gateway is launched in the same Python process,
    validate_corpus and url_features must not reuse Columns built on
    the old one. Runs in a subprocess so the session's JVM is left
    alone."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "-c", RELAUNCH], cwd=ROOT,
        capture_output=True, text=True, timeout=300,
    )
    elapsed = time.perf_counter() - t0
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "relaunch ok" in proc.stdout
    print(f"JVM relaunch subprocess: {elapsed:.1f}s")
