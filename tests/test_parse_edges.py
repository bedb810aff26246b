"""Parse/budget edge cases pinned against the oracle: malformed lines,
trailing-line drops vs per-file counts, files that never parse, path
validation."""

from __future__ import annotations

import gzip
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from commoncrawl_fetcher_lite_spark.config import ExtractorConfig
from commoncrawl_fetcher_lite_spark.operators.budgets import apply_budgets
from commoncrawl_fetcher_lite_spark.plans.fetch_pipeline import run_fetch
from commoncrawl_fetcher_lite_spark.plans.mime_pipeline import run_count_mimes
from commoncrawl_fetcher_lite_spark.sources.cdx import (
    expand_index_paths,
    parse_cdx,
    read_cdx_lines,
    scan_cdx,
)
from tests import oracle

GOOD = (
    'com,a)/{i} 20230101120000 {{"url": "https://a.com/{i}", '
    '"mime-detected": "text/html", "status": "200", "digest": "D", '
    '"length": "10", "offset": "0", "filename": "f.warc.gz"}}'
)


def _write_gz(path: str, lines: list[str]) -> None:
    with gzip.GzipFile(path, "wb", mtime=0) as gz:
        gz.write(("\n".join(lines) + "\n").encode())


@pytest.fixture()
def edge_file(tmp_path):
    lines = [
        GOOD.format(i=0),
        "nospacesatall",  # P1 drop (no 2nd space)
        "one space_only_here",  # P1 drop (no 2nd space after first)
        GOOD.format(i=1) + " trailing garbage",  # P3 repairable
        'com,a)/x 20230101120000 {"url": "u", "unknown-key": "v"}',  # strict drop (unknown key, no repair possible)
        "   ",  # blank — skipped pre-count
        'com,a)/y 20230101120000 {broken json',  # unparseable drop
        GOOD.format(i=2),
    ]
    p = str(tmp_path / "cdx-00000.gz")
    _write_gz(p, lines)
    return p, lines


def test_parse_edge_lines(spark, edge_file):
    p, lines = edge_file
    recs = parse_cdx(read_cdx_lines(spark, [p])).collect()
    got = {(r["line_no"], r["url"]) for r in recs}
    # oracle: enumerate non-blank lines, parse each
    want = set()
    ln = -1
    for raw in lines:
        if raw.strip() == "":
            continue
        ln += 1
        rec = oracle.parse_record(raw)
        if rec is not None and rec["url"] is not None:
            want.add((ln, rec["url"]))
    assert got == want
    assert {u for _, u in got} == {
        "https://a.com/0", "https://a.com/1", "https://a.com/2"
    }


def test_budget_counts_dropped_lines(spark, edge_file):
    """maxRecords counts parse-dropped lines too (counter increments before
    parse — CCFileExtractorRecordProcessor.java:60-67)."""
    p, lines = edge_file
    recs = read_cdx_lines(spark, [p])
    n_lines = {
        r["index_file_seq"]: r["n"]
        for r in recs.groupBy("index_file_seq").agg(F.count("*").alias("n")).collect()
    }
    parsed = parse_cdx(recs)
    # max_records=5: lines 0..3 processed (5th non-blank line trips)
    out = apply_budgets(
        parsed, F.lit(True), max_records=5, per_file_lines=n_lines
    )
    got = {r["line_no"] for r in out.collect()}
    ores = oracle.process_stream([lines], selector=None, max_records=5)
    want = {ln for _, ln, _ in ores.extract_branch}
    assert got == want


UNPARSEABLE = ["nospacesatall", "one space_only_here", "com,a)/y 2023 {broken"]


def _write_files(tmp_path, files: list[list[str]]) -> list[str]:
    paths = []
    for k, lines in enumerate(files):
        paths.append(str(tmp_path / f"cdx-{k:05d}.gz"))
        _write_gz(paths[-1], lines)
    return paths


def test_budget_counts_file_that_never_parses(spark, tmp_path):
    """A file whose every line fails to parse has no parsed record, but its
    lines still count toward maxRecords: file 0 = 3 unparseable lines, so
    max_records=5 processes file 1's line 0 only."""
    files = [UNPARSEABLE, [GOOD.format(i=i) for i in range(6)]]
    paths = _write_files(tmp_path, files)
    ores = oracle.process_stream(files, selector=None, max_records=5)
    want = {(s, ln) for s, ln, _ in ores.extract_branch}
    assert want == {(1, 0)}

    scan = scan_cdx(spark, paths)
    assert scan.per_file_lines == {0: 3, 1: 6}
    out = apply_budgets(
        parse_cdx(scan.lines), F.lit(True), max_records=5,
        per_file_lines=scan.per_file_lines,
    )
    assert {(r["index_file_seq"], r["line_no"]) for r in out.collect()} == want

    res = run_fetch(
        spark, ExtractorConfig(index_paths=tuple(paths), dry_run=True, max_records=5)
    )
    got = {
        (r["index_file_seq"], r["line_no"])
        for r in res.would_extract.select("index_file_seq", "line_no").collect()
    }
    assert got == want


def test_count_mimes_budget_counts_trailing_unparseable_lines(spark, tmp_path):
    """CountMimes with maxRecords: file 0 ends in 2 unparseable lines, which
    count toward the budget, so max_records=6 stops before file 1."""
    files = [
        [GOOD.format(i=i) for i in range(3)] + UNPARSEABLE[:2],
        [GOOD.format(i=i) for i in range(3, 7)],
    ]
    paths = _write_files(tmp_path, files)
    cfg = ExtractorConfig(index_paths=tuple(paths), max_records=6)
    got = {
        r["mime"]: (r["total"], r["truncated"], r["non_truncated"])
        for r in run_count_mimes(spark, cfg).collect()
    }
    ores = oracle.process_stream(files, selector=None, max_records=6)
    assert not ores.trunc_logged
    want = Counter(
        oracle.normalize_mime(rec["mime-detected"])
        for _, _, rec in ores.extract_branch
    )
    assert want == {"text/html": 3}
    assert got == {m: (n, 0, n) for m, n in want.items()}


def test_validate_literal_paths(tmp_path):
    good = str(tmp_path / "indexes" / "cdx-00001.gz")
    os.makedirs(os.path.dirname(good), exist_ok=True)
    _write_gz(good, ["x"])
    assert expand_index_paths([good], validate_literal=True) == [good]
    bad = str(tmp_path / "indexes" / "other.gz")
    _write_gz(bad, ["x"])
    with pytest.raises(ValueError, match="invalid index path"):
        expand_index_paths([bad], validate_literal=True)
