"""HTTP/S3 transports + emitters + config-matrix parity.

Engine-side analog of the reference's FetcherConfigTest.java:36-62 (the
basic-{http,local,s3}.json resolution matrix) plus unit tests of the
transport seams with fakes — no network, no boto3, exactly like the
reference unit-tests class resolution without hitting S3.
"""

from __future__ import annotations

import io
import urllib.error

import pytest

from commoncrawl_fetcher_lite_spark.config import (
    EmitConfig,
    FetchConfig,
    from_json_dict,
)
from commoncrawl_fetcher_lite_spark.sources.emitters import fs_emitter, s3_emitter
from commoncrawl_fetcher_lite_spark.sources.fetcher import (
    BackoffFetcher,
    ThrottleException,
    http_transport,
    s3_transport,
)

SELECTOR = {
    "should": {"mime_detected": [{"match": "application/pdf", "sample": 0.8}]},
    "must": {"status": [{"match": "200"}]},
    "must_not": {"status": [{"match": "300"}]},
}

# same shapes as the reference's src/test/resources/configs/basic-*.json
BASIC_HTTP = {
    "numThreads": 3,
    "maxRecords": 1000000,
    "fetcher": {"throttleSeconds": [30, 120, 600, 1800]},
    "indices": {"paths": ["cc-index/collections/CC-MAIN-2023-06/indexes/cdx-00273.gz"]},
    "recordSelector": SELECTOR,
}
BASIC_LOCAL = {
    "numThreads": 3,
    "indices": {
        "basePath": "/data/cc",
        "paths": ["crawl-data/CC-MAIN-2023-06/cc-index.paths.gz"],
    },
    "fetcher": {"throttleSeconds": [30, 120, 600, 1800]},
    "docs": {"path": "/data/docs"},
    "recordSelector": SELECTOR,
}
BASIC_S3 = {
    "numThreads": 3,
    "indices": {"profile": "my-profile", "paths": ["crawl-data/x/cc-index.paths.gz"]},
    "fetcher": {"profile": "my-profile"},
    "docs": {
        "profile": "my-profile",
        "bucket": "my-bucket",
        "region": "us-east-1",
        "prefix": "some-docs",
    },
    "recordSelector": SELECTOR,
}


def test_config_matrix_http():
    """basic-http.json → BackoffHttpFetcher + FileSystemEmitter
    (FetcherConfigTest.java:36-43)."""
    cfg = from_json_dict(BASIC_HTTP)
    assert cfg.fetch.kind == "http"
    assert cfg.fetch.throttle_seconds == (30, 120, 600, 1800)
    assert cfg.emit.kind == "fs"
    assert cfg.num_threads == 3
    assert cfg.max_records == 1000000


def test_config_matrix_local():
    """basic-local.json → http fetcher (no basePath in 'fetcher'!) + fs
    emitter at docs.path; indices carry the local basePath
    (FetcherConfigTest.java:45-53: the reference also resolves
    BackoffHttpFetcher here — basePath lives under indices)."""
    cfg = from_json_dict(BASIC_LOCAL)
    assert cfg.fetch.kind == "http"
    assert cfg.index_base_path == "/data/cc"
    assert cfg.emit.kind == "fs" and cfg.emit.base_path == "/data/docs"


def test_config_matrix_s3():
    """basic-s3.json → S3Fetcher(bucket=commoncrawl) + S3Emitter
    (FetcherConfigTest.java:55-62)."""
    cfg = from_json_dict(BASIC_S3)
    assert cfg.fetch.kind == "s3"
    assert cfg.fetch.profile == "my-profile"
    assert cfg.fetch.bucket == "commoncrawl"  # CC_S3_BUCKET constant
    assert cfg.fetch.region == "us-east-1"
    assert cfg.emit.kind == "s3"
    assert cfg.emit.bucket == "my-bucket"
    assert cfg.emit.prefix == "some-docs"


def test_config_s3_docs_requires_bucket():
    with pytest.raises(ValueError, match="bucket"):
        EmitConfig.from_dict({"profile": "p"})


def test_fetch_config_precedence():
    """profile beats basePath beats http (ExtractorConfig.java:201-215)."""
    assert FetchConfig.from_dict({"profile": "p", "basePath": "/x"}).kind == "s3"
    assert FetchConfig.from_dict({"basePath": "/x"}).kind == "fs"
    assert FetchConfig.from_dict({}).kind == "http"
    assert FetchConfig.from_dict(None).kind == "http"


# ------------------------------------------------------------ http transport


class _FakeResponse(io.BytesIO):
    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False


def test_http_transport_url_prefixing_and_range():
    """getUrl semantics (BackoffHttpFetcher.java:63-72): http passthrough,
    '/'-keys and bare keys both get the CC base; Range header set."""
    calls = []

    def opener(req, timeout):
        calls.append((req.full_url, req.headers.get("Range")))
        return _FakeResponse(b"payload")

    t = http_transport(opener=opener)
    assert t("https://x.example/a", None, None) == b"payload"
    t("/abs/key.gz", 10, 19)
    t("rel/key.gz", 5, None)
    assert calls[0] == ("https://x.example/a", None)
    assert calls[1] == ("https://data.commoncrawl.org/abs/key.gz", "bytes=10-19")
    assert calls[2] == ("https://data.commoncrawl.org/rel/key.gz", "bytes=5-")


def test_http_transport_503_backoff_then_success():
    attempts = {"n": 0}

    def opener(req, timeout):
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise urllib.error.HTTPError(req.full_url, 503, "slow down", {}, None)
        return _FakeResponse(b"ok")

    sleeps = []
    f = BackoffFetcher(
        transport=http_transport(opener=opener), sleeper=sleeps.append
    )
    assert f.fetch("k", 0, 3) == b"ok"
    assert sleeps == [30, 120]  # ladder positions consumed (T1)


def test_http_transport_non_throttle_raises():
    def opener(req, timeout):
        raise urllib.error.HTTPError(req.full_url, 404, "nope", {}, None)

    f = BackoffFetcher(transport=http_transport(opener=opener), sleeper=lambda s: None)
    with pytest.raises(OSError, match="bad status code: 404"):
        f.fetch("missing")


# -------------------------------------------------------------- s3 transport


class _FakeS3Error(Exception):
    def __init__(self, status=None, code=None):
        super().__init__(f"s3 error {status or code}")
        self.response = {
            "ResponseMetadata": {"HTTPStatusCode": status},
            "Error": {"Code": code or ""},
        }


class _FakeS3Client:
    def __init__(self, objects=None, throttle_first=0):
        self.objects = objects or {}
        self.throttle_first = throttle_first
        self.get_calls = []
        self.put_calls = []

    def get_object(self, Bucket, Key, Range=None):
        self.get_calls.append((Bucket, Key, Range))
        if self.throttle_first > 0:
            self.throttle_first -= 1
            raise _FakeS3Error(code="SlowDown", status=503)
        data = self.objects[(Bucket, Key)]
        if Range:
            spec = Range.removeprefix("bytes=")
            a, _, b = spec.partition("-")
            data = data[int(a):] if b == "" else data[int(a): int(b) + 1]
        return {"Body": io.BytesIO(data)}

    def head_object(self, Bucket, Key):
        if (Bucket, Key) not in self.objects:
            raise _FakeS3Error(status=404)
        return {}

    def put_object(self, Bucket, Key, Body):
        self.put_calls.append(Key)
        self.objects[(Bucket, Key)] = Body


def test_s3_transport_range_and_bucket():
    c = _FakeS3Client({("commoncrawl", "crawl-data/w.warc.gz"): b"0123456789"})
    t = s3_transport(c)
    assert t("crawl-data/w.warc.gz", 2, 5) == b"2345"
    assert t("/crawl-data/w.warc.gz", None, None) == b"0123456789"  # lstrip /
    assert c.get_calls[0] == ("commoncrawl", "crawl-data/w.warc.gz", "bytes=2-5")


def test_s3_transport_slowdown_ladders_then_exhausts():
    c = _FakeS3Client({("commoncrawl", "k"): b"x"}, throttle_first=2)
    sleeps = []
    f = BackoffFetcher(transport=s3_transport(c), sleeper=sleeps.append, url_base="")
    assert f.fetch("k") == b"x"
    assert sleeps == [30, 120]
    c2 = _FakeS3Client({("commoncrawl", "k"): b"x"}, throttle_first=99)
    f2 = BackoffFetcher(transport=s3_transport(c2), sleeper=lambda s: None, url_base="")
    with pytest.raises(ThrottleException):
        f2.fetch("k")


# ------------------------------------------------------------------ emitters


def test_fs_emitter_skip_if_exists(tmp_path):
    emit = fs_emitter(str(tmp_path))
    emit("ab/cd/x", b"one")
    p = tmp_path / "ab" / "cd" / "x"
    assert p.read_bytes() == b"one"
    emit("ab/cd/x", b"two")  # onExists=skip
    assert p.read_bytes() == b"one"


def test_on_exists_overwrite_rejected_at_parse():
    """Both sinks always skip an existing target, so `"onExists":
    "overwrite"` must fail at parse time, for fs and s3 alike, instead of
    silently keeping the stale payload."""
    for docs in (
        {"path": "/docs", "onExists": "overwrite"},
        {"profile": "p", "bucket": "b", "onExists": "overwrite"},
    ):
        with pytest.raises(ValueError, match="onExists"):
            EmitConfig.from_dict(docs)
    assert EmitConfig.from_dict({"path": "/docs", "onExists": "skip"}).kind == "fs"


def test_s3_emitter_prefix_and_skip():
    c = _FakeS3Client()
    emit = s3_emitter(c, bucket="my-bucket", prefix="some-docs")
    emit("ab/cd/x", b"one")
    assert c.objects[("my-bucket", "some-docs/ab/cd/x")] == b"one"
    emit("ab/cd/x", b"two")  # HEAD hit → skip
    assert c.objects[("my-bucket", "some-docs/ab/cd/x")] == b"one"
    assert c.put_calls == ["some-docs/ab/cd/x"]


def test_config_legacy_emitter_keys_mapped():
    """Legacy {'emitter': {'basePath': ..., 'onExists': ...}} must keep its
    target dir (round-2 bug: from_dict only read 'path'/'profile', so
    legacy configs silently emitted to 'docs'), and its onExists is
    checked like the modern key's."""
    cfg = from_json_dict(
        {
            "indices": {"paths": ["x.gz"]},
            "emitter": {"kind": "fs", "basePath": "/legacy/docs", "onExists": "skip"},
        }
    )
    assert cfg.emit.kind == "fs"
    assert cfg.emit.base_path == "/legacy/docs"
    # modern 'docs' still wins when both present
    cfg2 = from_json_dict(
        {
            "indices": {"paths": ["x.gz"]},
            "docs": {"path": "/modern"},
            "emitter": {"basePath": "/legacy"},
        }
    )
    assert cfg2.emit.base_path == "/modern"
    # the sinks implement only skip: any other mode, fs or s3, is rejected
    for emitter in (
        {"basePath": "/legacy", "onExists": "overwrite"},
        {"basePath": "/legacy", "onExists": "exception"},
        {"profile": "p", "bucket": "b", "onExists": "overwrite"},
    ):
        with pytest.raises(ValueError, match="onExists"):
            from_json_dict({"indices": {"paths": ["x.gz"]}, "emitter": emitter})
