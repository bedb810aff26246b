"""The Fetch pipeline — engine equivalent of the reference's main entry
(extractor/CCFileExtractor.java, SURVEY §3.1).

seeds → stats scan (per-file line counts) → scan cdx .gz, stop at
  maxRecords → parse → select (compiled Column) → checkpoint → budget prefix →
  ├─ truncated branch → `truncated` log table
  └─ extract branch → (dryRun? log only : range-fetch + decode) →
       `extracted` table + `docs` (interleaved spans) table

The index is read twice and parsed once. The stats pass (sources.cdx.
scan_cdx) yields the dense line numbers and each file's line count, which
place the maxRecords stop before anything is parsed. The parse pass stops
there, evaluates the selector and checkpoints only the selected rows;
the file-cap budgets and both sinks read that checkpoint, not the index.
Everything before the fetch UDF is pure Catalyst except the JSON-repair
hop, so at 100 TB only the selected minority ever reaches the fetch.
Metrics are collected via observe() — the engine analog of the
reference's AtomicLong counters (CCIndexReaderCounter.java:22-25).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from commoncrawl_fetcher_lite_spark.config import ExtractorConfig
from commoncrawl_fetcher_lite_spark.operators.budgets import (
    apply_budgets,
    stop_at_max_records,
)
from commoncrawl_fetcher_lite_spark.operators.selector import compile_selector
from commoncrawl_fetcher_lite_spark.sources.cdx import (
    expand_index_paths,
    parse_cdx,
    scan_cdx,
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
    # stats pass: one scan for the dense line numbers and the exact
    # per-file line counts the maxRecords stop needs
    scan = scan_cdx(spark, paths)
    # the maxRecords stop is arithmetic on those counts: lines at or past
    # it are never parsed
    lines = stop_at_max_records(scan.lines, scan.per_file_lines, cfg.max_records)
    # parse pass: the second and last scan. Only the selected rows are
    # materialized (local checkpoint); the file-cap partials and windows,
    # and both sinks, read them and not the index. The file caps are found
    # over the checkpoint, so when they bind and maxRecords does not, it
    # holds every selected row, not only those before the cap.
    sel = compile_selector(cfg.selector, seed=cfg.sample_seed)
    selected = parse_cdx(lines).where(sel).localCheckpoint()

    # maxRecords is not passed: it already stopped the lines above
    budgeted = apply_budgets(
        selected,
        F.lit(True),
        max_files_extracted=cfg.max_files_extracted,
        max_files_truncated=cfg.max_files_truncated,
        extract_truncated=cfg.extract_truncated,
    )

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

