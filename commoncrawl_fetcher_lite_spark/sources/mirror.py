"""FetchIndices — index mirroring (reference CCIndexFetcher, SURVEY §3.2).

The reference byte-copies each index .gz fetcher→emitter through the same
worker/queue plumbing (CCIndexFetcher.java:61-75, 133-142). Engine: a
distributed binaryFile read → per-partition write; one task per file
(matches worker-per-file), no driver data movement, content-addressed
skip-if-exists like the reference emitter default.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from commoncrawl_fetcher_lite_spark.sources.emitters import fs_emitter

MIRROR_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType()),
        T.StructField("dst", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("skipped", T.BooleanType()),
    ]
)


def mirror_indices(
    spark: SparkSession,
    index_paths: list[str],
    dest_dir: str,
) -> list[dict]:
    """Copy each index file to dest_dir through the fs sink (skip-if-exists).
    Returns the copy manifest (src, dst, n_bytes, skipped)."""
    os.makedirs(dest_dir, exist_ok=True)
    df = spark.read.format("binaryFile").load(index_paths)

    def copy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        emit = fs_emitter(dest_dir)
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                local_src = path.replace("file:", "")
                name = os.path.basename(local_src)
                dst = os.path.join(dest_dir, name)
                skipped = os.path.exists(dst)
                emit(name, bytes(content))
                rows.append(
                    {
                        "src": local_src,
                        "dst": dst,
                        "n_bytes": len(content),
                        "skipped": skipped,
                    }
                )
            yield pd.DataFrame(rows)

    out = df.select("path", "content").mapInPandas(copy, schema=MIRROR_SCHEMA)
    return [r.asDict() for r in out.collect()]
