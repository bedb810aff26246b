"""The Fetch pipeline — engine equivalent of the reference's main entry
(extractor/CCFileExtractor.java, SURVEY §3.1).

seeds → scan cdx .gz → parse → select (compiled Column) → budget prefix →
  ├─ truncated branch → `truncated` log table
  └─ extract branch → (dryRun? log only : range-fetch + decode) →
       `extracted` table + `docs` (interleaved spans) table

Everything before the fetch UDF is pure Catalyst: the selector predicate
runs against the text scan, so at 100 TB only the selected minority ever
reaches Python. The budgeted rows of both branches are materialized once
(local checkpoint), so each branch's sink reads them without re-parsing
the index. Metrics are collected via observe() — the engine analog of
the reference's AtomicLong counters (CCIndexReaderCounter.java:22-25).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from commoncrawl_fetcher_lite_spark.config import ExtractorConfig
from commoncrawl_fetcher_lite_spark.operators.budgets import apply_budgets
from commoncrawl_fetcher_lite_spark.operators.selector import compile_selector
from commoncrawl_fetcher_lite_spark.sources.cdx import (
    expand_index_paths,
    parse_cdx,
    read_cdx_lines,
)
from commoncrawl_fetcher_lite_spark.sources.warc import extract_payloads


@dataclass
class FetchResult:
    extracted: DataFrame | None  # None in dry-run
    truncated_logged: DataFrame
    would_extract: DataFrame  # extract-branch rows (pre-fetch; = dryRun log)
    docs: DataFrame | None  # interleaved span docs (None in dry-run)
    metrics: dict


def run_fetch(
    spark: SparkSession,
    cfg: ExtractorConfig,
    path_resolver: Callable[[str], str] | None = None,
) -> FetchResult:
    paths = expand_index_paths(list(cfg.index_paths), cfg.max_index_files)
    lines = read_cdx_lines(spark, paths)

    # exact per-file non-blank line counts for budget offsets (cheap agg:
    # one row per index file)
    per_file_lines = {
        r["index_file_seq"]: r["n"]
        for r in lines.groupBy("index_file_seq").agg(F.count("*").alias("n")).collect()
    } if _has_budget(cfg) else None

    records = parse_cdx(lines)
    sel = compile_selector(cfg.selector, seed=cfg.sample_seed)

    budgeted = apply_budgets(
        records,
        sel,
        max_records=cfg.max_records,
        max_files_extracted=cfg.max_files_extracted,
        max_files_truncated=cfg.max_files_truncated,
        extract_truncated=cfg.extract_truncated,
        per_file_lines=per_file_lines,
    )
    # both branches below read the budgeted rows, and callers write them
    # one after the other (docs, then the truncated log): materialize the
    # rows of either branch once, so the second write does not re-scan,
    # re-parse, re-select and re-budget the index. Held like any local
    # checkpoint, O(selected rows).
    budgeted = budgeted.where(
        F.col("is_trunc_log_branch") | F.col("is_extract_branch")
    ).localCheckpoint()

    # truncated-log branch (CCFileExtractorRecordProcessor.java:101-110):
    # url + normalized mimes + warc coords. Mimes normalized as the
    # reference logs getNormalizedMime[Detected].
    from commoncrawl_fetcher_lite_spark.functions.urls import normalize_mime

    truncated_logged = budgeted.where(F.col("is_trunc_log_branch")).select(
        "url",
        normalize_mime(F.col("mime")).alias("mime"),
        normalize_mime(F.col("mime_detected")).alias("mime_detected"),
        F.col("filename").alias("warc_file"),
        F.col("offset").alias("warc_offset"),
        F.col("length").alias("warc_length"),
        "truncated",
        "index_file_seq",
        "line_no",
    )

    would_extract = budgeted.where(F.col("is_extract_branch")).select(
        "url", "mime", "mime_detected", "status", "digest", "length",
        "offset", "filename", "truncated", "index_file_seq", "line_no",
    )

    metrics: dict = {}
    if cfg.dry_run:
        return FetchResult(None, truncated_logged, would_extract, None, metrics)

    fetcher_factory = None
    if path_resolver is None:
        # no explicit resolver → build the config's transport executor-side
        # (S5/S6/S7: http backoff ladder / s3 / fs per fetcher precedence)
        fetch_cfg = cfg.fetch

        def fetcher_factory():
            from commoncrawl_fetcher_lite_spark.config import CC_HTTPS_BASE
            from commoncrawl_fetcher_lite_spark.sources.fetcher import (
                BackoffFetcher,
                transport_for,
            )

            base = CC_HTTPS_BASE if fetch_cfg.kind == "http" else ""
            return BackoffFetcher(
                transport=transport_for(fetch_cfg),
                throttle_seconds=fetch_cfg.throttle_seconds,
                url_base=base,
            )

    # T3 concurrency cap (ExtractorConfig.java:50 numThreads; README.md:
    # 169-172 operational guidance ~3 http / ~50 s3): the engine analog is
    # the fetch STAGE's task count, resolved by config.effective_fetch_cap
    # (absent numThreads + HTTP origin → the reference's courtesy cap of 2;
    # absent + S3/fs/explicit-resolver → uncapped; explicit values win).
    # The cap is passed into extract_payloads so its filename-hash
    # repartition does both jobs at once: bound the task count AND keep
    # each WARC's records in one task (the per-task handle cache). The
    # shuffle barrier keeps the upstream scan/parse at full width.
    from commoncrawl_fetcher_lite_spark.config import effective_fetch_cap

    transport_is_http = path_resolver is None and cfg.fetch.kind == "http"
    fetched = extract_payloads(
        would_extract,
        path_resolver,
        target_path_pattern=cfg.target_path_pattern or "xx/xx/xxx",
        num_partitions=effective_fetch_cap(cfg, transport_is_http),
        task_deadline_seconds=cfg.fetch_deadline_seconds,
        emit_dir=cfg.emit.base_path or None,
        fetcher_factory=fetcher_factory,
    )
    # A4 run counters (CCIndexReaderCounter.java:22-25) as an observe()
    # metric: filled in when the caller runs any action on `extracted`;
    # free (piggybacks the action, no extra job).
    obs = Observation("fetch_counters")
    fetched = fetched.observe(
        obs,
        F.count(F.lit(1)).alias("fetchable_records"),
        F.sum(F.when(F.col("empty_payload"), 1).otherwise(0)).alias("empty_payload"),
        F.sum(
            F.when(
                ~F.col("digest_ok")
                & ~F.col("empty_payload")
                & F.col("read_error").isNull(),
                1,
            ).otherwise(0)
        ).alias("digest_mismatch"),
        F.sum(F.when(F.col("read_error").isNotNull(), 1).otherwise(0)).alias(
            "read_errors"
        ),
    )
    metrics["observation"] = obs
    # F13: empty payloads are counted then skipped; unreadable records are
    # counted (read_errors) then skipped likewise
    extracted = fetched.where(
        ~F.col("empty_payload") & F.col("read_error").isNull()
    )
    docs = extracted.select(F.col("url").alias("doc_id"), "spans")
    return FetchResult(extracted, truncated_logged, would_extract, docs, metrics)


def _has_budget(cfg: ExtractorConfig) -> bool:
    from commoncrawl_fetcher_lite_spark.config import LONG_MAX

    return (
        cfg.max_records < LONG_MAX
        or cfg.max_files_extracted < LONG_MAX
        or cfg.max_files_truncated < LONG_MAX
    )
