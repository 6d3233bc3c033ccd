"""Connect-safe partition-count estimation for CPU-bound fan-out.

Tiny single-file inputs arrive as one scan partition; CPU-bound work
(signature computation, validation) should use every core, so callers
repartition when the scan yields fewer splits than cores. The naive
proxy ``len(df.inputFiles())`` under-counts one LARGE splittable file
(Spark splits it at ``spark.sql.files.maxPartitionBytes``) and reads 0
for non-file plans — both would trigger a full repartition shuffle
that is pure waste at scale. This module estimates actual scan splits
from total input bytes instead.

``df.rdd.getNumPartitions()`` would be exact but forces plan analysis
through the RDD path and breaks on Spark Connect — hence the
driver-side stat approach.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024


def _parse_bytes(v: str) -> int:
    """Parse Spark byte-size strings: '134217728b', '128m', '1g'."""
    s = v.strip().lower()
    mult = 1
    for suffix, m in (
        ("kb", 1024), ("mb", 1024**2), ("gb", 1024**3), ("tb", 1024**4),
        ("k", 1024), ("m", 1024**2), ("g", 1024**3), ("t", 1024**4),
        ("b", 1),
    ):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    return int(float(s)) * mult


def _input_files(df: DataFrame) -> list[str]:
    try:
        return df.inputFiles()
    except Exception:
        return []


def _total_bytes(files: list[str]) -> int | None:
    """Summed size of the files, or None when one cannot be stat'ed
    from the driver (a remote store, or a vanished file)."""
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("file", ""):
            return None
        try:
            total += os.path.getsize(unquote(parsed.path))
        except OSError:
            return None
    return total


def fits_broadcast(df: DataFrame) -> bool:
    """True when ``df`` is a file-backed plan whose scanned file bytes
    are known and at most ``spark.sql.autoBroadcastJoinThreshold``
    (never when that threshold is -1)."""
    files = _input_files(df)
    total = _total_bytes(files) if files else None
    if total is None:
        return False
    limit = df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    return total <= _parse_bytes(limit)


def estimated_scan_splits(df: DataFrame) -> int | None:
    """Estimated number of scan splits for a file-backed plan, or None
    when the plan is not file-backed (in-memory relation, post-shuffle
    stage) — in which case the caller should NOT repartition: such
    plans already carry their parent's parallelism."""
    files = _input_files(df)
    if not files:
        return None
    total = _total_bytes(files)
    if total is None:
        # remote store: can't stat from the driver cheaply; the file
        # count is a lower bound on splits (splittable big files only
        # add more)
        return len(files)
    spark = df.sparkSession
    try:
        mpb = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:
        mpb = _DEFAULT_MAX_PARTITION_BYTES
    return max(len(files), -(-total // mpb))


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition a SMALL file-backed scan up to defaultParallelism so
    CPU-bound downstream work uses every core. No-op at scale (many or
    large splits) and for non-file plans (unknown split count — the old
    behavior repartitioned those, paying a full shuffle on plans that
    already inherit upstream parallelism)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n_splits = estimated_scan_splits(df)
    if n_splits is not None and n_splits < target:
        return df.repartition(target)
    return df
