"""CountMimes pipeline — engine equivalent of extractor/CCMimeCounter.java
(SURVEY §3.3): scan → parse → select → normalized-mime counts with
truncated breakdown → sorted CSV reports.

Reference emits three CSVs (total.csv / truncated.csv / non-truncated.csv,
header `mime,count`, sorted desc — CCMimeCounter.java:167-185). The engine
computes ONE aggregate (total+truncated+derived difference in a single
shuffle) and exports the three views; the reference needed two hash maps
plus a map-difference pass (:143-165).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commoncrawl_fetcher_lite_spark.config import LONG_MAX, ExtractorConfig
from commoncrawl_fetcher_lite_spark.operators.budgets import stop_at_max_records
from commoncrawl_fetcher_lite_spark.operators.mimes import count_mimes
from commoncrawl_fetcher_lite_spark.operators.selector import compile_selector
from commoncrawl_fetcher_lite_spark.sources.cdx import (
    expand_index_paths,
    parse_cdx,
    scan_cdx,
)


def run_count_mimes(spark: SparkSession, cfg: ExtractorConfig) -> DataFrame:
    """→ (mime, total, truncated, non_truncated) sorted desc by total."""
    paths = expand_index_paths(list(cfg.index_paths), cfg.max_index_files)
    has_budget = cfg.max_records < LONG_MAX
    # dense per-file line numbers cost a stats scan — only the maxRecords
    # stop needs them (and its exact per-file counts); the pure aggregation
    # path is a single scan.
    scan = scan_cdx(spark, paths, dense_line_numbers=has_budget)
    lines = scan.lines
    if has_budget:
        lines = stop_at_max_records(lines, scan.per_file_lines, cfg.max_records)
    sel = compile_selector(cfg.selector, seed=cfg.sample_seed)
    return count_mimes(parse_cdx(lines), sel)


def write_reports(agg: DataFrame, out_dir: str) -> None:
    """S13: three `mime,count` CSVs sorted desc (CCMimeCounter.java:167-185).
    coalesce(1) like the reference's single-file reports — the aggregate is
    tiny (one row per mime) so this is driver-cheap."""
    os.makedirs(out_dir, exist_ok=True)
    for name, col in (
        ("total", "total"),
        ("truncated", "truncated"),
        ("non-truncated", "non_truncated"),
    ):
        (
            agg.select(F.col("mime"), F.col(col).alias("count"))
            .where(F.col("count") > 0)
            .orderBy(F.desc("count"), F.asc("mime"))
            .coalesce(1)
            .write.mode("overwrite")
            .option("header", True)
            .csv(os.path.join(out_dir, name))
        )
