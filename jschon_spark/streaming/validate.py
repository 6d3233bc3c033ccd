"""Streaming validation: the same compiled constraint DAG applied to a
``readStream`` source, with watermarked per-window verdict rollups.

The reference is strictly batch (one document per ``evaluate`` call,
/root/reference/jschon/jsonschema.py:191-220); streaming is the Spark-
native extension the north rule's architecture implies: because the
compiled schema is pure Column algebra (or a stateless Arrow batch
UDF), the identical plan runs under Structured Streaming unchanged —
validation is row-local, so no state store is needed; only the rollup
aggregation is stateful (watermark + window). A streaming DataFrame is
validated with ``CompiledSchema.apply_typed`` (or ``apply_json``)
exactly as a batch one, then rolled up here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jschon_spark.engine import verdict_counts


def windowed_verdicts(
    validated: DataFrame,
    ts_col: str = "warc_ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-event-time-window rollup: n_docs, n_failed, passed.

    Late data beyond ``watermark`` is dropped by Spark; the watermark
    bounds the state store at (windows in flight) rows — O(1) per
    window regardless of document volume, same shape as the batch
    per-partition rollup.
    """
    return (
        validated.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"))
        .agg(*verdict_counts())
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_docs",
            "n_failed",
            (F.col("n_failed") == 0).alias("passed"),
        )
    )
