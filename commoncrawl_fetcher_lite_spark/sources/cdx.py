"""CDX index source: path-list expansion, gz line scan, parse to records.

Reference pipeline (citations into /root/reference):
  S1 path-list expansion   IndexIterator.java:91-108 (skip '#', keep *.gz)
  S3 maxIndexFiles cap     IndexIterator.java:119-130 (FIFO order preserved)
  S4 gz line scan          extractor/CCFileExtractor.java:173-201 (1 worker :
                           1 file — matches Spark's 1 task per unsplittable gz)
  F10 blank-line skip      CCFileExtractor.java:187-190 (skipped BEFORE the
                           record counter — blanks never count toward budgets)
  P1 line split            CCIndexRecord.java:105-112 (two indexOf(' ');
                           missing 2nd space → warn + drop)
  P2 JSON bind             CCIndexRecord.java:113-114 (strict Jackson:
                           unknown key = parse failure)
  P3 JSON repair           CCIndexRecord.java:121-148 (retry substrings
                           ending at each '}', rightmost first; give up → drop)

Scale design: one Spark task per gzip file (gzip is unsplittable — identical
work granularity to the reference's worker-per-file, but across a cluster).
Per-file line numbers are computed WITHOUT a shuffle of the lines: each file
lives in exactly one task, so ``monotonically_increasing_id`` is contiguous
per file within its partition; ``line_no = mid - min(mid per file)`` needs
only a tiny per-file aggregate (one row per file). ``scan_cdx`` runs that
aggregate once, eagerly (the stats pass, which also yields the per-file line
counts the budgets need), and joins it back as a broadcast local relation,
so the Fetch reads every gzip twice in all: once for the stats, once for
the parse.
Canonical crawl order := ascending (index_file_seq, line_no) — the
reference's numThreads=1 order (SURVEY §2.4).
"""

from __future__ import annotations

import gzip
import json
import os
import re
from dataclasses import dataclass
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# Wire-format JSON schema: the reference binds CDX JSON into a 12-field
# POJO with all-nullable fields (CCIndexRecord.java:47-58) and the CC
# index JSON stores every value as a string, so we parse once at ingest
# against this string-typed schema and cast in the projection. Keys are
# the CC kebab-case names (CCIndexRecord.java:38 kebab binding). `offset`
# is cast to bigint where the reference uses Integer (CCIndexRecord.java:53)
# — documented divergence: int would overflow >2 GiB compound WARCs.
CDX_JSON_SCHEMA = T.StructType(
    [
        T.StructField(k, T.StringType())
        for k in (
            "url",
            "mime",
            "mime-detected",
            "status",
            "digest",
            "length",
            "offset",
            "filename",
            "charset",
            "languages",
            "truncated",
            "redirect",
        )
    ]
)

# Known CC index JSON keys — the CCIndexRecord POJO binding surface.
# Strict Jackson (default ObjectMapper, CCIndexRecord.java:45) fails on any
# other key; we reproduce that with a key-set check.
KNOWN_JSON_KEYS = frozenset(CDX_JSON_SCHEMA.fieldNames())

INDEX_PATH_RE = r"indexes/cdx-\d{5}\.gz$"  # IndexIterator.java:142


def expand_index_paths(
    paths: Iterable[str],
    max_index_files: int | None = None,
    read_bytes=None,
    validate_literal: bool = False,
) -> list[str]:
    """Driver-side expansion of index path lists (S1+S3).

    Entries ending in ``.paths.gz`` (or any non-cdx list file) are opened and
    expanded: '#'-comment lines and non-.gz lines are skipped
    (IndexIterator.java:98-100). Order is preserved (FIFO queue semantics);
    ``max_index_files`` caps the total (IndexIterator.java:125-127).
    ``read_bytes(path)->bytes`` abstracts HTTP/S3/FS (tests use local FS).
    """
    if read_bytes is None:
        def read_bytes(p: str) -> bytes:
            with open(p, "rb") as f:
                return f.read()

    out: list[str] = []
    for p in paths:
        if p.endswith(".paths.gz") or p.endswith(".paths"):
            raw = read_bytes(p)
            if p.endswith(".gz"):
                raw = gzip.decompress(raw)
            base = os.path.dirname(p)
            for line in raw.decode("utf-8").splitlines():
                line = line.strip()
                if not line or line.startswith("#") or not line.endswith(".gz"):
                    continue
                out.append(line if os.path.isabs(line) else os.path.join(base, line))
        else:
            if validate_literal and not re.search(INDEX_PATH_RE, p):
                # IndexIterator.java:133-166: literal paths must look like
                # indexes/cdx-NNNNN.gz, else the run aborts
                raise ValueError(f"invalid index path: {p}")
            out.append(p)
        if max_index_files is not None and len(out) >= max_index_files:
            out = out[:max_index_files]
            break
    return out


def discover_index_paths(base_path: str) -> list[str]:
    """S2: local index dir discovery (IndexIterator.loadLocalFiles,
    IndexIterator.java:168-175): when no paths are configured and the index
    fetcher is filesystem-based, every regular file under base_path
    registers (relative to base_path) and then flows through the normal
    dispatch — cc-index.paths.gz lists expand, literal index files must
    match indexes/cdx-NNNNN.gz (IndexIterator.java:142,151-163).

    Divergence: results are sorted for determinism (Files.walk order is
    filesystem-dependent; a distributed run must not depend on it)."""
    out: list[str] = []
    for root, _dirs, files in os.walk(base_path):
        for fn in files:
            out.append(os.path.relpath(os.path.join(root, fn), base_path))
    return sorted(out)


def index_paths_for_config(cfg) -> list[str]:
    """ExtractorConfig → expanded index path list: configured paths, or the
    dir-walk discovery when none are given and indices.basePath is set
    (IndexIterator.java:144-149)."""
    paths = list(cfg.index_paths)
    base = cfg.index_base_path
    if not paths and base:
        rel = discover_index_paths(base)

        def read_bytes(p: str) -> bytes:
            with open(p if os.path.isabs(p) else os.path.join(base, p), "rb") as f:
                return f.read()

        return expand_index_paths(
            [os.path.join(base, r) for r in rel],
            cfg.max_index_files,
            read_bytes=read_bytes,
            validate_literal=True,
        )
    return expand_index_paths(paths, cfg.max_index_files)


@dataclass(frozen=True)
class CdxScan:
    """A lazy line frame plus the per-file stats its numbering came from."""

    lines: DataFrame  # (index_file, index_file_seq, line_no, line)
    # index_file_seq -> non-blank line count, for every listed file (0 for
    # a file of blank lines only); None when line numbers are not dense
    per_file_lines: dict[int, int] | None


def scan_cdx(
    spark: SparkSession, index_paths: list[str], dense_line_numbers: bool = True
) -> CdxScan:
    """Scan index .gz files → lines numbered per file, plus per-file counts.

    line_no is 0-based over NON-BLANK lines per file (blanks dropped first,
    so budgets see the same stream the reference counts). Numbering needs
    no shuffle of the lines: a file is never split across tasks (gzip) and
    is read sequentially, so ``monotonically_increasing_id`` is contiguous
    per file, and ``line_no = mid - min(mid of the file)``. The per-file
    (min(mid), count) aggregate is collected EAGERLY here, in one scan, and
    joins back as a broadcast local relation (one row per file, carrying
    both index_file_seq and min(mid)) — every later action on ``lines``
    reads each gzip once. The counts it yields are ``per_file_lines``.

    dense_line_numbers=False skips that stats scan: line_no is then the raw
    id, order-correct within each file but not dense — fine for selection
    and aggregation without budgets (budget-free CountMimes scans once).
    """
    df = (
        spark.read.text(index_paths)
        .select(
            F.col("value").alias("line"),
            # spark returns file: URIs; normalize to the listed path
            F.regexp_replace("_metadata.file_path", "^file:(//)?", "").alias(
                "index_file"
            ),
        )
        .where(F.trim(F.col("line")) != "")  # F10: blanks skipped pre-count
        .withColumn("mid", F.monotonically_increasing_id())
    )
    per_file_lines = None
    min_mid: dict[str, int] = {}
    if dense_line_numbers:
        stats = (
            df.groupBy("index_file")
            .agg(F.min("mid").alias("min_mid"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        min_mid = {r["index_file"]: r["min_mid"] for r in stats}
        n_lines = {r["index_file"]: r["n"] for r in stats}
        per_file_lines = {i: n_lines.get(p, 0) for i, p in enumerate(index_paths)}
    # one row per listed file: its seq and its numbering base (0 = raw ids)
    files = spark.createDataFrame(
        [(p, i, min_mid.get(p, 0)) for i, p in enumerate(index_paths)],
        "index_file string, index_file_seq int, min_mid long",
    )
    lines = df.join(F.broadcast(files), "index_file").select(
        "index_file",
        "index_file_seq",
        (F.col("mid") - F.col("min_mid")).alias("line_no"),
        "line",
    )
    return CdxScan(lines, per_file_lines)


def read_cdx_lines(
    spark: SparkSession, index_paths: list[str], dense_line_numbers: bool = True
) -> DataFrame:
    """Scan index .gz files → (index_file, index_file_seq, line_no, line);
    ``scan_cdx`` without the per-file counts."""
    return scan_cdx(spark, index_paths, dense_line_numbers).lines


@pandas_udf(CDX_JSON_SCHEMA)
def _repair_json_udf(json_tail: pd.Series) -> pd.DataFrame:
    """P3 repair: try substrings ending at each '}' from the RIGHTMOST
    (CCIndexRecord.tryRepair reverses the end list). Strict key check
    reproduces Jackson FAIL_ON_UNKNOWN_PROPERTIES. Runs only on the
    parse-failure minority."""
    cols = list(CDX_JSON_SCHEMA.fieldNames())

    def one(s: str | None) -> dict:
        empty = {c: None for c in cols}
        if s is None:
            return empty
        ends = [i for i, ch in enumerate(s) if ch == "}"]
        for end in reversed(ends):
            try:
                obj = json.loads(s[: end + 1])
            except Exception:
                continue
            if not isinstance(obj, dict) or not set(obj) <= KNOWN_JSON_KEYS:
                continue
            return {c: (None if obj.get(c) is None else str(obj.get(c))) for c in cols}
        return empty

    recs = json_tail.map(one)
    return pd.DataFrame(list(recs), columns=cols)


def parse_cdx(lines: DataFrame, with_repair: bool = True) -> DataFrame:
    """P1-P3: split line → (surt_key, ts, json), strict-parse JSON, repair
    failures, drop irrecoverables. Returns the CDX record table (SURVEY §1.3)
    with provenance columns; rows that fail the split or all parses are
    dropped exactly as the reference warns-and-drops.
    """
    # P1: two indexOf(' ') splits. A line with no 2nd space is dropped.
    df = lines.withColumn("sp1", F.instr("line", " "))
    # second space = first ' ' in the substring after the first space
    df = df.withColumn(
        "rest", F.expr("substring(line, sp1 + 1)")
    ).withColumn("sp2rel", F.instr("rest", " "))
    df = df.where((F.col("sp1") > 0) & (F.col("sp2rel") > 0))  # drop: bad record
    df = df.select(
        "index_file",
        "index_file_seq",
        "line_no",
        F.expr("substring(line, 1, sp1 - 1)").alias("surt_key"),
        F.expr("substring(rest, 1, sp2rel - 1)").alias("ts"),
        F.expr("substring(rest, sp2rel + 1)").alias("json_tail"),
    )

    # P2: strict parse = from_json + unknown-key check (Jackson strictness).
    parsed = F.from_json("json_tail", CDX_JSON_SCHEMA)
    known = F.array(*[F.lit(k) for k in sorted(KNOWN_JSON_KEYS)])
    keys_ok = F.size(F.array_except(F.json_object_keys("json_tail"), known)) == 0
    strict_ok = parsed.isNotNull() & F.coalesce(keys_ok, F.lit(False))
    df = df.withColumn("rec", F.when(strict_ok, parsed))

    if with_repair:
        # P3 on the failure minority ONLY — but in ONE pass: ArrowEvalPython
        # computes pandas UDFs for every input row regardless of when()-
        # guards, and splitting ok/bad into a union re-runs the whole gzip
        # scan twice. Instead the UDF's INPUT is nulled for the well-formed
        # majority: every row takes the (cheap) Arrow hop, but Python does
        # no work for None inputs. Single scan, minority-only repair cost.
        repaired = _repair_json_udf(
            F.when(F.col("rec").isNull(), F.col("json_tail"))
        )
        df = df.withColumn("rec", F.coalesce(F.col("rec"), repaired))

    df = df.where(F.col("rec.url").isNotNull())  # give-up drops
    return df.select(
        "surt_key",
        "ts",
        F.col("rec.url").alias("url"),
        F.col("rec.mime").alias("mime"),
        F.col("rec.`mime-detected`").alias("mime_detected"),
        F.col("rec.status").cast("int").alias("status"),
        F.col("rec.digest").alias("digest"),
        F.col("rec.length").cast("long").alias("length"),
        F.col("rec.offset").cast("long").alias("offset"),
        F.col("rec.filename").alias("filename"),
        F.col("rec.charset").alias("charset"),
        F.col("rec.languages").alias("languages"),
        F.col("rec.truncated").alias("truncated"),
        F.col("rec.redirect").alias("redirect"),
        "index_file",
        "index_file_seq",
        "line_no",
    )

