"""CountMimes pipeline parity, index mirror, streaming host metrics, CLI."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

from commoncrawl_fetcher_lite_spark.config import ExtractorConfig
from commoncrawl_fetcher_lite_spark.plans.mime_pipeline import (
    run_count_mimes,
    write_reports,
)
from commoncrawl_fetcher_lite_spark.sources.cdx import expand_index_paths
from commoncrawl_fetcher_lite_spark.sources.mirror import mirror_indices
from tests import oracle

SELECTOR = {"must": {"status": [{"match": "200"}]}}


def test_count_mimes_parity(spark, fixture_t1, tmp_path):
    fx = fixture_t1
    cfg = ExtractorConfig(index_paths=(fx.paths_gz,), selector=SELECTOR)
    agg = run_count_mimes(spark, cfg)
    got = {
        r["mime"]: (r["total"], r["truncated"], r["non_truncated"])
        for r in agg.collect()
    }

    # oracle replay
    from collections import Counter

    tot, trunc = Counter(), Counter()
    for p in fx.index_paths:
        for raw in fx.lines_per_file[p]:
            if raw.strip() == "":
                continue
            rec = oracle.parse_record(raw)
            if rec is None or not oracle.select(rec, SELECTOR):
                continue
            m = oracle.normalize_mime(rec["mime-detected"])
            tot[m] += 1
            if (rec.get("truncated") or "").strip():
                trunc[m] += 1
    want = {m: (tot[m], trunc[m], tot[m] - trunc[m]) for m in tot}
    assert got == want

    # S13 report export
    write_reports(agg, str(tmp_path / "reports"))
    files = glob.glob(str(tmp_path / "reports/total/*.csv"))
    assert files
    lines = open(files[0]).read().strip().splitlines()
    assert lines[0] == "mime,count"
    counts = [int(l.rsplit(",", 1)[1]) for l in lines[1:]]
    assert counts == sorted(counts, reverse=True)


def test_mirror_indices(spark, fixture_t1, tmp_path):
    fx = fixture_t1
    paths = expand_index_paths([fx.paths_gz])
    dest = str(tmp_path / "mirror")
    manifest = mirror_indices(spark, paths, dest)
    assert len(manifest) == len(paths)
    assert all(not m["skipped"] for m in manifest)
    for p in paths:
        src = open(p, "rb").read()
        dst = open(os.path.join(dest, os.path.basename(p)), "rb").read()
        assert src == dst  # byte-identical copy (CCIndexFetcher.java:133-142)
    # second run skips everything (onExists=skip)
    manifest2 = mirror_indices(spark, paths, dest)
    assert all(m["skipped"] for m in manifest2)


def test_streaming_host_rate_metrics(spark, tmp_path):
    from commoncrawl_fetcher_lite_spark.streaming.dedup_stream import (
        stream_documents,
    )
    from commoncrawl_fetcher_lite_spark.streaming.frontier_stream import (
        host_rate_metrics,
    )

    from datetime import datetime

    seeds_dir = str(tmp_path / "s")
    seeds = spark.createDataFrame(
        [
            ("u1", "h1", 1.0, datetime(2024, 1, 1, 0, 0, 10), 0.0),
            ("u2", "h1", 1.0, datetime(2024, 1, 1, 0, 0, 20), 0.0),
            ("u3", "h2", 1.0, datetime(2024, 1, 1, 0, 5, 0), 0.0),
        ],
        "url string, host string, priority double, discovered_ts timestamp, recrawl_score double",
    )
    seeds.coalesce(1).write.parquet(seeds_dir)
    agg = host_rate_metrics(stream_documents(spark, seeds_dir, seeds.schema))
    q = (
        agg.writeStream.format("memory")
        .queryName("rates")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["host"], str(r["window_start"])): r["n_scheduled"]
        for r in spark.sql("select * from rates").collect()
    }
    assert rows[("h1", "2024-01-01 00:00:00")] == 2
    assert rows[("h2", "2024-01-01 00:05:00")] == 1


def test_cli_count_mimes(fixture_t1, tmp_path):
    cfg = {
        "indices": {"paths": [fixture_t1.paths_gz]},
        "recordSelector": SELECTOR,
    }
    cfg_path = str(tmp_path / "cfg.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "commoncrawl_fetcher_lite_spark.cli",
            "CountMimes",
            cfg_path,
            str(tmp_path / "reports"),
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "text/html" in proc.stdout
