"""Structured-Streaming monitoring for the frontier.

The reference is strictly batch (bounded queues, no watermarks/state —
CCFileExtractor.java:74-114), and the engine's core loop is iterative batch
over snapshots (SURVEY §2.12). This module holds the watermarked
fetch-metrics aggregation (per-host scheduled counts over event-time
windows) as the late-data-tolerant monitoring stream; the stream it reads
comes from `dedup_stream.stream_documents`, the one file-source reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def host_rate_metrics(
    scheduled_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    ts_col: str = "discovered_ts",
) -> DataFrame:
    """Watermarked windowed per-host scheduling rate (late data tolerated
    up to the watermark) — the streaming analog of the run counters
    (CCIndexReaderCounter.java:22-25)."""
    return (
        scheduled_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col("host"))
        .agg(F.count(F.lit(1)).alias("n_scheduled"))
        .select(
            F.col("window.start").alias("window_start"),
            "host",
            "n_scheduled",
        )
    )
