"""Budget / limit operators: maxRecords, maxFilesExtracted, maxFilesTruncated.

Reference semantics (extractor/CCFileExtractorRecordProcessor.java:58-112,
numThreads=1 canonical order — SURVEY §2.4):

  * every non-blank line increments recordsRead BEFORE parse; when the
    counter reaches maxRecords the run STOPS and that line is NOT processed
    (:60-67) — i.e. exactly (maxRecords - 1) lines are fully processed.
  * every SELECTED truncated record increments `truncated` (even when
    extractTruncated=true); reaching maxFilesTruncated stops the run and
    drops that record (:81-88).
  * every selected extractable record (extractTruncated or not-truncated)
    increments `filesExtracted`; reaching maxFilesExtracted stops the run
    and drops that record (:91-96).
  * the run stops at the FIRST trip of any counter in canonical order
    (index_file_seq, line_no) ascending.

Scale design — no global sort, no giant window:
  * cum_read needs no window at all: blanks were dropped at scan, so the
    running read-count of a row is ``file_offset(seq) + line_no + 1`` where
    file_offset is the cumulative line count of earlier files — the scan's
    per-file counts (≤ hundreds of rows) cumsum'd on the driver. The read
    stop is therefore known before the parse: ``stop_at_max_records``
    applies it, to the lines (Fetch, CountMimes) or to parsed records.
  * cum_trunc / cum_extr are windows over the SELECTED subset only (a small
    fraction of the scan), two-level: per-file partial counts → driver
    cumsum → per-file window row_number, so the only shuffle is over
    selected rows partitioned by file (matches scan granularity).
  * stop position = min canonical position where any trip fires — one tiny
    aggregate — then one broadcast-compared filter. Deterministic at any
    parallelism, unlike the reference's racy multi-thread counters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from commoncrawl_fetcher_lite_spark.config import LONG_MAX

# canonical position packs (file_seq, line_no) into one sortable long;
# line_no < 2^40 per file is safe (a gz index file holds ~3M lines).
_POS_SHIFT = 40


def canonical_pos(seq: Column, line_no: Column) -> Column:
    return (seq.cast("long") * F.lit(1 << _POS_SHIFT)) + line_no


def stop_at_max_records(
    df: DataFrame, per_file_lines: dict[int, int], max_records: int
) -> DataFrame:
    """The rows of `df` (index_file_seq + line_no over the non-blank line
    stream) read before maxRecords trips; the tripping line is dropped.

    cum_read(row) = (lines of earlier files) + line_no + 1 is pure
    arithmetic on ``per_file_lines``, so the stop position is computed on
    the driver and applied as one filter — to raw lines, before any parse.
    """
    if max_records >= LONG_MAX:
        return df
    stop = _read_stop(per_file_lines, max_records)
    if stop is None:  # the run reads every line
        return df
    return df.where(canonical_pos(F.col("index_file_seq"), F.col("line_no")) < stop)


def _read_stop(per_file_lines: dict[int, int], max_records: int) -> int | None:
    """Canonical position of the line whose read trips maxRecords."""
    if max_records <= 0:
        return 0
    read = 0
    for seq in sorted(per_file_lines):
        if read + per_file_lines[seq] >= max_records:
            return (seq << _POS_SHIFT) + (max_records - read - 1)
        read += per_file_lines[seq]
    return None


def apply_budgets(
    records: DataFrame,
    selected: Column,
    max_records: int = LONG_MAX,
    max_files_extracted: int = LONG_MAX,
    max_files_truncated: int = LONG_MAX,
    extract_truncated: bool = False,
    per_file_lines: dict[int, int] | None = None,
) -> DataFrame:
    """Annotate `records` (parsed CDX rows carrying index_file_seq + line_no
    numbered over the full non-blank line stream) with branch flags and drop
    everything at/after the first budget trip.

    Returns the surviving rows with boolean columns `is_selected`,
    `is_truncated_rec`, `is_extract_branch`, `is_trunc_log_branch`.

    NOTE on cum_read: parse failures are dropped from `records` by parse_cdx
    but still counted by the reference. ``per_file_lines`` (seq -> true
    non-blank line count, from ``sources.cdx.scan_cdx``) is the authoritative
    file list: with it, read offsets are exact — a file whose trailing (or
    every) line failed to parse still counts in full. Without it, per-file
    totals are approximated by max(line_no)+1 over the files present in
    `records`. A caller that has already applied maxRecords (the Fetch
    stops its lines with ``stop_at_max_records`` before parsing) leaves
    `max_records` unset; `records` may then be only the selected rows,
    since the file-cap counts read nothing else.
    """
    is_trunc = F.coalesce(F.col("truncated"), F.lit("")) != ""  # isBlank analog
    df = records.withColumn("is_selected", selected)
    df = df.withColumn("is_truncated_rec", is_trunc)
    df = df.withColumn(
        "is_extract_branch",
        F.col("is_selected") & (F.lit(extract_truncated) | ~is_trunc),
    )
    df = df.withColumn(
        "is_trunc_log_branch",
        F.col("is_selected") & is_trunc & F.lit(not extract_truncated),
    )
    df = df.withColumn("pos", canonical_pos(F.col("index_file_seq"), F.col("line_no")))

    # read-trip first: running counts of the rows before it do not depend
    # on the rows after it, so the file-cap trips below are found over the
    # stopped frame
    if max_records < LONG_MAX:
        if per_file_lines is None:
            per_file_lines = {
                r["index_file_seq"]: r["n_lines"]
                for r in df.groupBy("index_file_seq")
                .agg((F.max("line_no") + 1).alias("n_lines"))
                .collect()
            }
        df = stop_at_max_records(df, per_file_lines, max_records)

    if max_files_truncated >= LONG_MAX and max_files_extracted >= LONG_MAX:
        return df

    # trunc/extr trips need running counts — but only over the SELECTED
    # subset (a small fraction of the scan): the full stream is never
    # shuffled, only selected rows move in the per-file window.
    # --- per-file partials (tiny result: one row per index file) ---
    per_file = sorted(
        df.groupBy("index_file_seq")
        .agg(
            F.sum(F.when(F.col("is_selected") & is_trunc, 1).otherwise(0)).alias(
                "n_trunc"
            ),
            F.sum(F.when(F.col("is_extract_branch"), 1).otherwise(0)).alias("n_extr"),
        )
        .collect(),
        key=lambda r: r["index_file_seq"],
    )
    offsets = []
    ct = ce = 0
    for r in per_file:
        offsets.append((r["index_file_seq"], ct, ce))
        ct += r["n_trunc"]
        ce += r["n_extr"]
    off_df = F.broadcast(
        records.sparkSession.createDataFrame(
            offsets, "index_file_seq int, trunc_off long, extr_off long"
        )
    )
    sel = df.where(F.col("is_selected")).join(off_df, "index_file_seq")
    w = Window.partitionBy("index_file_seq").orderBy("line_no")
    sel = sel.withColumn(
        "cum_trunc",
        F.col("trunc_off") + F.sum(F.when(is_trunc, 1).otherwise(0)).over(w),
    ).withColumn(
        "cum_extr",
        F.col("extr_off")
        + F.sum(F.when(F.col("is_extract_branch"), 1).otherwise(0)).over(w),
    )
    trip = F.lit(False)
    if max_files_truncated < LONG_MAX:
        trip = trip | (is_trunc & (F.col("cum_trunc") >= max_files_truncated))
    if max_files_extracted < LONG_MAX:
        trip = trip | (
            F.col("is_extract_branch") & (F.col("cum_extr") >= max_files_extracted)
        )
    stop = sel.where(trip).agg(F.min("pos").alias("stop")).collect()[0]["stop"]
    if stop is not None:
        df = df.where(F.col("pos") < F.lit(stop))
    return df
