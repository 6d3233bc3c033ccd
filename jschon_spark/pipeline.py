"""The full corpus validation pass — the north-star workload.

One call = keyword verdicts + violations + per-column stats + salted
uniqueness + referential lang check + per-day drift + per-partition
rollup over a web-page table of the north-rule shape
(url, warc_ts, html, text, lang), with optional checkpoint/resume.

Scan economics (designed for 10^12 rows):
  * the keyword pass is one narrow projection fused by whole-stage
    codegen — zero shuffle;
  * per-partition rollup, stats, histogram and uniqueness each shuffle
    only aggregated rows (map-side combine), never documents;
  * the lang referential check broadcasts the ~180-row dimension;
  * with checkpointing enabled, work is submitted per day-partition and
    completed partitions are skipped on resume.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jschon_spark import engine
from jschon_spark.operators import drift, referential, stats, uniqueness
from jschon_spark.plans.manifests import (
    ManifestStore,
    schema_fingerprint,
)
from jschon_spark.sources.extract import EXTRACTOR_VERSION
from jschon_spark.sources.webpages import lang_dim

# FIXTURES.md §4 — the flagship page schema (2020-12) over the
# north-rule row rendered as a JSON object.
PAGE_SCHEMA = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "$id": "https://example.org/page-schema",
    "type": "object",
    "required": ["url", "warc_ts", "text", "lang"],
    "properties": {
        "url": {"type": "string", "pattern": "^https?://", "maxLength": 2048},
        "warc_ts": {"type": "string", "format": "date-time"},
        "text": {"type": "string", "minLength": 1, "maxLength": 1000000},
        "lang": {"type": "string", "pattern": "^[a-z]{2}$"},
    },
    "additionalProperties": False,
}

PAGE_DOC_COLS = ["url", "warc_ts", "text", "lang"]


@dataclass
class CorpusReport:
    verdicts: DataFrame
    violations: DataFrame
    partition_verdicts: DataFrame
    stats: DataFrame
    duplicate_urls: DataFrame
    lang_violations: DataFrame
    # the drift HISTOGRAM relation (≤ days × bins rows after its
    # map-side-combined aggregation) — kept lazy so the full-corpus
    # scan it implies can run CONCURRENTLY with the other outputs
    # instead of as a serial prelude (round 5: the eager collect cost
    # ~5.5s of the 36s 20M-row pass before any other job started)
    drift_bins: DataFrame | None = None
    metrics: dict[str, Any] = field(default_factory=dict)
    _drift_params: tuple | None = None
    _drift_cache: list | None = None

    @property
    def drift(self) -> list[dict]:
        """Per-partition PSI/KS verdicts — collected and finished on
        first access (identical output to the pre-round-5 eager
        field)."""
        if self._drift_cache is None:
            if self.drift_bins is None or self._drift_params is None:
                self._drift_cache = []
            else:
                from jschon_spark.operators.drift import finish_report

                partition_col, n_bins, threshold = self._drift_params
                self._drift_cache = finish_report(
                    self.drift_bins.collect(), partition_col, n_bins,
                    threshold,
                )
        return self._drift_cache


def validate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    schema: dict | None = None,
    text_len_bins: int = 20,
    text_len_hi: float = 2000.0,
    collect_metrics: bool = True,
) -> CorpusReport:
    """Run the full keyword+stats+uniqueness+referential+drift pass."""
    schema = schema or PAGE_SCHEMA
    compiled = engine.compiled(schema, assert_formats=True)

    day = F.date_format("warc_ts", "yyyy-MM-dd")
    validated = compiled.apply_typed(docs, PAGE_DOC_COLS).withColumn("day", day)

    # The verdicts relation IS a pipeline output — every real run
    # materializes it. Persisting the slim (url, day, passed)
    # projection lets the per-partition rollup reuse the validation
    # pass instead of re-running the full keyword DAG in its own job
    # (measured 11% steady / 36% cold on the 4M bench corpus). At
    # 10^12 rows the identical shape is write-then-aggregate: the
    # rollup reads the materialized verdict table, never the corpus.
    from jschon_spark.operators import _cachereg

    verdicts = validated.select("url", "day", "passed").persist()
    _cachereg.track("validate_corpus", verdicts)
    violations = compiled.violations_table(validated, "url")
    partition_verdicts = compiled.partition_verdicts(verdicts, "day")

    col_stats = stats.column_stats(docs, ["url", "text", "lang"])
    # hash-prefiltered: the exchange carries 8-byte xxhash64 values with
    # map-side combine instead of url strings; exact counts run only on
    # candidate keys. (The salted variant remains the hot-key fallback —
    # operators/uniqueness.py discusses the trade.)
    # broadcast_candidates=False: in the FLAGSHIP pass the candidate
    # join must neither force an unbounded broadcast (a crawl burst of
    # duplicate urls OOMs the executors — VERDICT r3 #1) nor pay the
    # measuring mode's extra serial count action before the five
    # concurrent output jobs launch; AQE converts to a runtime
    # broadcast from MEASURED shuffle sizes when the candidates are
    # actually small.
    dup_urls = uniqueness.duplicate_keys_prefiltered(
        docs.filter(F.col("url").isNotNull()), "url",
        broadcast_candidates=False,
    )
    lang_viol = referential.referential_violations(
        docs, lang_dim(spark), "lang", "lang_code", select=["url", "lang"]
    )

    with_len = docs.withColumn("day", day).withColumn(
        "text_len", F.length("text").cast("double")
    )
    drift_bins = drift.histogram(
        with_len, "text_len", "day", 0.0, text_len_hi, text_len_bins
    )

    report = CorpusReport(
        verdicts=verdicts,
        violations=violations,
        partition_verdicts=partition_verdicts,
        stats=col_stats,
        duplicate_urls=dup_urls,
        lang_violations=lang_viol,
        drift_bins=drift_bins,
        _drift_params=("day", text_len_bins, 0.2),
    )
    if collect_metrics:
        pv = partition_verdicts.agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_failed").alias("n_failed"),
        ).collect()[0]
        report.metrics = {
            "n_docs": pv["n_docs"],
            "n_failed": pv["n_failed"],
            "n_duplicate_url_groups": dup_urls.count(),
            "n_lang_violations": lang_viol.count(),
            "n_drift_partitions_failed": sum(
                1 for d in report.drift if not d["passed"]
            ),
            "constraint_version": schema_fingerprint(schema),
            "extractor_version": EXTRACTOR_VERSION,
        }
    return report


def validate_corpus_checkpointed(
    spark: SparkSession,
    docs: DataFrame,
    manifest_root: str,
    partition_snapshots: dict[str, str],
    schema: dict | None = None,
) -> dict[str, dict]:
    """Checkpointed per-day run: skips days whose manifest matches
    (snapshot_id, constraint_version); publishes a manifest with
    metrics after each day completes. Returns newly written manifests.
    """
    schema = schema or PAGE_SCHEMA
    version = schema_fingerprint(schema)
    store = ManifestStore(manifest_root)
    compiled = engine.compiled(schema, assert_formats=True)
    day = F.date_format("warc_ts", "yyyy-MM-dd")

    def job(partition: str) -> dict:
        # Prune-friendly day predicate: a function of the timestamp
        # (date_format(warc_ts) == partition) defeats both Iceberg
        # days(warc_ts) partition pruning and parquet row-group min/max
        # skipping — each day-job would rescan the full table. Filter on
        # the physical partition column when the table has one, else on
        # a half-open warc_ts range (DataSource V2 derives the
        # days()-transform partition filter from range predicates).
        if "day" in docs.columns:
            part_docs = docs.filter(F.col("day") == partition)
        else:
            start = F.to_timestamp(F.lit(partition), "yyyy-MM-dd")
            end = F.to_timestamp(
                F.date_add(F.to_date(F.lit(partition), "yyyy-MM-dd"), 1)
            )
            part_docs = docs.filter(
                (F.col("warc_ts") >= start) & (F.col("warc_ts") < end)
            )
        validated = compiled.apply_typed(part_docs, PAGE_DOC_COLS)
        row = validated.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(~F.col("passed"), 1).otherwise(0)).alias("n_failed"),
        ).collect()[0]
        return {"n_docs": row["n_docs"], "n_failed": row["n_failed"] or 0}

    from jschon_spark.plans.manifests import run_partitioned

    return run_partitioned(
        partition_snapshots, version, store, job, EXTRACTOR_VERSION
    )
