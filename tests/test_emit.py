"""S9 content-addressed emit sink + redirect frontier merge."""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import os

import pytest
from pyspark.sql import functions as F

from commoncrawl_fetcher_lite_spark.config import EmitConfig, ExtractorConfig
from commoncrawl_fetcher_lite_spark.fixtures import warc_local_path
from commoncrawl_fetcher_lite_spark.plans.fetch_pipeline import run_fetch

SELECTOR = {"must": {"status": [{"match": "200"}]}}


def test_content_addressed_emit(spark, fixture_t1, tmp_path):
    fx = fixture_t1
    emit_dir = str(tmp_path / "docs")
    cfg = ExtractorConfig(
        index_paths=(fx.paths_gz,),
        selector=SELECTOR,
        target_path_pattern="xx/xx/xxx",
        emit=EmitConfig(kind="fs", base_path=emit_dir),
    )
    res = run_fetch(spark, cfg, path_resolver=lambda f: warc_local_path(fx.root, f))
    rows = res.extracted.select("path", "sha256", "length").collect()
    assert rows
    for r in rows[:25]:
        p = os.path.join(emit_dir, r["path"])
        assert os.path.exists(p), r["path"]
        data = open(p, "rb").read()
        assert hashlib.sha256(data).hexdigest() == r["sha256"]
        assert len(data) == r["length"]
    # no stray tmp files
    assert not glob.glob(emit_dir + "/**/*.tmp.*", recursive=True)
    # re-run: skip-if-exists is idempotent (same mtimes)
    mtimes = {
        r["path"]: os.path.getmtime(os.path.join(emit_dir, r["path"]))
        for r in rows[:5]
    }
    res2 = run_fetch(spark, cfg, path_resolver=lambda f: warc_local_path(fx.root, f))
    res2.extracted.count()
    for p, m in mtimes.items():
        assert os.path.getmtime(os.path.join(emit_dir, p)) == m


def test_s3_emit_config_reaches_the_fetch(spark, fixture_t1):
    """An S3 `docs` config builds its emitter in the fetch tasks, so the
    first action fails building the client instead of running and emitting
    nothing: make_s3_client's error without boto3, boto3's for the missing
    profile 'p' with it. Skipped where profile 'p' exists: the emitter
    would then reach a real S3."""
    if importlib.util.find_spec("boto3") is None:
        expected = "boto3 not available"
    else:
        import boto3

        if "p" in boto3.Session().available_profiles:
            pytest.skip("an AWS profile 'p' exists: the emitter would reach S3")
        expected = r"profile \(p\) could not be found"
    fx = fixture_t1
    cfg = ExtractorConfig(
        index_paths=(fx.paths_gz,),
        selector=SELECTOR,
        emit=EmitConfig(kind="s3", bucket="b", profile="p"),
    )
    res = run_fetch(spark, cfg, path_resolver=lambda f: warc_local_path(fx.root, f))
    with pytest.raises(Exception, match=expected):
        res.extracted.count()


def test_redirect_frontier_merge(spark, tmp_path):
    from commoncrawl_fetcher_lite_spark.config import FrontierConfig
    from commoncrawl_fetcher_lite_spark.frontier.checkpoint import SnapshotStore
    from commoncrawl_fetcher_lite_spark.frontier.scheduler import bootstrap, run_iteration

    seeds = spark.createDataFrame(
        [
            ("https://a.com/1", "a.com", 1.0, None, 0.0),
            ("https://a.com/2", "a.com", 0.9, None, 0.0),
        ],
        "url string, host string, priority double, discovered_ts timestamp, recrawl_score double",
    )
    store = SnapshotStore(str(tmp_path / "st"), spark)
    bootstrap(store, seeds)

    def fetch_fn(batch):
        return batch.withColumn(
            "redirect",
            F.when(F.col("url") == "https://a.com/1", "https://b.com/target"),
        )

    run_iteration(store, FrontierConfig(n_salt=2), fetch_fn=fetch_fn)
    frontier = {r["url"] for r in store.read("frontier").collect()}
    assert "https://b.com/target" in frontier  # redirect joined the frontier
    assert "https://a.com/1" not in frontier  # fetched urls left it


def test_emitter_for_precedence(tmp_path):
    """emitter_for mirrors newEmitter's precedence
    (ExtractorConfig.java:249-278): s3 kind → s3 emitter with the
    config's bucket/prefix; anything else → fs emitter at base_path."""
    from commoncrawl_fetcher_lite_spark.sources.emitters import emitter_for

    class FakeS3:
        def __init__(self):
            self.puts = []

        def put_object(self, Bucket, Key, Body):
            self.puts.append((Bucket, Key, Body))

    client = FakeS3()
    s3 = emitter_for(
        EmitConfig(kind="s3", bucket="b", prefix="pre", profile="p"),
        client=client,
    )
    s3("k/file.bin", b"\x01\x02")
    assert client.puts == [("b", "pre/k/file.bin", b"\x01\x02")]

    fs = emitter_for(EmitConfig(kind="fs", base_path=str(tmp_path)))
    fs("a/b.bin", b"\x03")
    assert (tmp_path / "a" / "b.bin").read_bytes() == b"\x03"
