"""SparkSession factory tuned for this engine.

Local-mode defaults follow the cluster-minded settings we would ship:
AQE on (skew-join splitting + partition coalescing), Arrow on for the
batch evaluator, UTC session timezone so timestamps compare cleanly
against external oracles, and shuffle partitions sized to cores rather
than the 200 default.
Also home of the session memo (:func:`memo`): a leaf module, so the
batch evaluator's Python workers import it without a cycle.
"""

from __future__ import annotations

import os
from typing import Any, Callable, Hashable

from pyspark import SparkContext
from pyspark.sql import SparkSession

_memo: dict = {}
_memo_gateway: Any = None


def memo(key: Hashable, build: Callable[[], Any]) -> Any:
    """The value cached under ``key`` (a content tuple led by a caller
    tag, never an ``id()``), calling ``build`` on a miss. Values may
    hold py4j Columns, which die with their JVM, so the memo is dropped
    whenever ``SparkContext._gateway`` changes; Python workers have no
    gateway. At 64 entries the memo starts over."""
    global _memo_gateway
    gateway = SparkContext._gateway
    if gateway is not _memo_gateway:
        _memo.clear()
        _memo_gateway = gateway
    if key in _memo:
        return _memo[key]
    value = build()
    if len(_memo) >= 64:
        _memo.clear()
    _memo[key] = value
    return value


def get_spark(
    app_name: str = "jschon_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession.

    ``cores`` is only honoured in local mode; on a real cluster the
    master comes from spark-submit and this is ignored.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", n))

    # Virtualized hosts often advertise more vCPUs than they deliver;
    # a JVM that sizes GC/ForkJoin/netty pools for the advertised count
    # then thrashes (measured here: a one-row aggregate went 2.4s ->
    # 36s from local[8] to local[32]). Cap the JVM's view of the
    # machine; task parallelism (local[N]) is unaffected.
    n_cores = (os.cpu_count() or 8) if str(cores) in ("*", "None") else int(cores)
    eff = int(os.environ.get("SPARK_EFFECTIVE_CORES", "16"))
    apc = min(n_cores, eff)
    java_opts = f"-XX:ActiveProcessorCount={apc} " + os.environ.get(
        "SPARK_DRIVER_JAVA_OPTS", ""
    )

    # Whole-stage-codegen class cache: the default (100 entries) evicts
    # constantly for a driver that runs many distinct plans (this
    # engine's production shape: one plan per schema/operator), forcing
    # Janino recompilation of plans it just compiled. Each cached entry
    # is a few KB of generated class; 4096 entries is still megabytes.
    # Scale-independent (driver JVM cache, not data-sized).
    codegen_cache = os.environ.get("SPARK_CODEGEN_CACHE_ENTRIES", "4096")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.codegen.cache.maxEntries", codegen_cache)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.driver.extraJavaOptions", java_opts.strip())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
