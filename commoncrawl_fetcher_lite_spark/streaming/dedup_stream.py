"""Streaming exact-dedup ledger: content-digest counts as a stateful
Structured-Streaming aggregation.

Batch exact dedup is one hash-groupBy on md5(text) (the `dedup_exact`
query); continuous ingest wants the same ledger maintained as
documents ARRIVE — each micro-batch folds its digests into streaming
aggregation state, so the running (digest, n_docs) table is always the
answer batch would give over everything ingested so far. That
equivalence is the correctness story: the driver row runs the stream
with Trigger.AvailableNow over the fixture and hash-checks the final
table against the plain batch GROUP BY oracle; the pytest drains three
overlapping files one micro-batch each to prove the state actually
accumulates ACROSS batches.

Scale shape: state is keyed by the 128-bit digest — per-key state is one
long. State store partitioning follows the shuffle partitioning on
digest; HDFS/RocksDB state backends shard it executor-side, nothing sits
on the driver. For unbounded corpora pair with watermark + state TTL on
an event-time column; the fixture path is complete-mode because the
driver compares the full table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stream_documents(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
    glob_filter: str | None = None,
) -> DataFrame:
    """File-source stream of document parquet files. `path` must be a
    DIRECTORY (the file source anchors basePath there); pass
    `glob_filter` to watch only matching file names inside it."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if glob_filter:
        reader = reader.option("pathGlobFilter", glob_filter)
    return reader.parquet(path)


def streaming_digest_counts(
    docs_stream: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Stateful (digest, n_docs) aggregation over a document stream —
    the streaming twin of the batch md5(text) hash-groupBy."""
    return (
        docs_stream.select(F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def run_to_memory(agg: DataFrame, name: str) -> None:
    """Drain the stream with Trigger.AvailableNow into a complete-mode
    memory sink; returns once the final state is queryable as
    spark.table(name)."""
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
