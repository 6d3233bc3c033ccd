"""Lifetime tracking for operator-internal ``persist()`` handles.

Operators like ``minhash_near_duplicates`` persist an intermediate
relation that feeds several branches of one returned plan. The cache
must outlive the call (the caller materializes the result lazily), so
it cannot be unpersisted inside the operator — but without any release
repeated calls in one session accumulate cached blocks indefinitely.

Convention: each operator registers its handles under its own name;
registering generation N releases generation N-1 (by then the previous
result has been consumed — and if not, Spark just recomputes), and
``release_caches()`` drops everything.
In memory-tight sessions, call ``release_caches()`` once a result is
materialized (e.g. ``curation_pipeline_docs``'s survivor persist).
Compiled schemas and lowered Columns are not released here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: dict[str, list[DataFrame]] = {}


def track(op: str, *dfs: DataFrame) -> None:
    """Register this call's persisted handles, releasing the previous
    generation for the same operator."""
    for old in _LIVE.get(op, []):
        try:
            old.unpersist()
        except Exception:
            pass  # session already stopped
    _LIVE[op] = list(dfs)


def release_caches() -> None:
    """Unpersist every operator-internal cache registered so far."""
    for dfs in _LIVE.values():
        for df in dfs:
            try:
                df.unpersist()
            except Exception:
                pass
    _LIVE.clear()
