"""Byte-range fetchers with the reference's 503 backoff ladder.

Reference semantics (io/BackoffHttpFetcher.java):
  T1 :74-107 — on a throttle-status failure, sleep throttleSeconds[attempt]
     (default [30,120,600,1800] — ExtractorConfig.java:49) and retry; ladder
     exhausted → ThrottleException.
  T2 :63-72 — relative keys prefixed with https://data.commoncrawl.org.

The fetcher runs INSIDE the extraction mapInPandas partition function —
executor-side, per-partition sequential — so a throttling host slows only
its own partition (records are co-partitioned by WARC file). Tests inject a
flaky transport and a fake sleeper; real HTTP/S3 transports plug into
`transport` without touching the retry logic.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

from commoncrawl_fetcher_lite_spark.config import CC_HTTPS_BASE, DEFAULT_THROTTLE_SECONDS


class ThrottleException(Exception):
    """Backoff ladder exhausted (io/ThrottleException.java:23)."""


@dataclass
class BackoffFetcher:
    """Ranged reads with retry ladder.

    transport(key, start, end) -> bytes; raise ThrottledError-ish exceptions
    carrying .status == 503 (or message 'bad status code: 503' like the
    reference parses, BackoffHttpFetcher.java:84-92) to trigger backoff."""

    transport: Callable[[str, int | None, int | None], bytes]
    throttle_seconds: tuple[int, ...] = DEFAULT_THROTTLE_SECONDS
    url_base: str = CC_HTTPS_BASE
    sleeper: Callable[[float], None] = time.sleep
    attempts: int = field(default=0, init=False)  # metrics: total retries

    def resolve_key(self, key: str) -> str:
        """T2: relative keys get the CC base prefix. An empty base (the s3
        and fs transports) passes every key through as the index wrote it."""
        if not self.url_base or key.startswith(("http://", "https://", "s3://", "/")):
            return key
        return f"{self.url_base}/{key}"

    def fetch(self, key: str, start: int | None = None, end: int | None = None) -> bytes:
        key = self.resolve_key(key)
        last: Exception | None = None
        for i, _ in enumerate(range(len(self.throttle_seconds) + 1)):
            try:
                return self.transport(key, start, end)
            except Exception as e:  # noqa: BLE001 — classify below
                if not _is_throttle(e):
                    raise
                last = e
                if i >= len(self.throttle_seconds):
                    break
                self.attempts += 1
                self.sleeper(self.throttle_seconds[i])
        raise ThrottleException(str(last))


def _is_throttle(e: Exception) -> bool:
    """Reference parses 'bad status code: (\\d+)' from the exception message
    and backs off on 503 (BackoffHttpFetcher.java:84-92)."""
    status = getattr(e, "status", None)
    if status == 503:
        return True
    import re

    m = re.search(r"bad status code:?\s*\(?(\d+)\)?", str(e))
    return bool(m and m.group(1) == "503")


def local_fs_transport(path_resolver: Callable[[str], str]):
    """The fs reader: ranged reads from local files, key -> path by
    path_resolver. The current file stays open until the key changes, so
    the offset-sorted records of one WARC read through one handle; the
    handle closes when the transport is dropped (the end of its partition,
    which builds one transport per task)."""
    open_key, handle = None, None

    def transport(key: str, start: int | None, end: int | None) -> bytes:
        nonlocal open_key, handle
        if key != open_key:
            f = open(path_resolver(key), "rb")  # raises before any state changes
            if handle is not None:
                handle.close()
            open_key, handle = key, f
        handle.seek(start or 0)
        return handle.read(-1 if start is None or end is None else end - start + 1)

    return transport


def http_transport(
    base: str = CC_HTTPS_BASE,
    timeout: float = 120.0,
    opener: Callable | None = None,
):
    """Ranged HTTP GET transport (urllib) matching BackoffHttpFetcher:

    * key prefixing per getUrl (BackoffHttpFetcher.java:63-72): keys not
      starting with 'http' get the CC https base, with or without their own
      leading '/'.
    * byte ranges via the standard Range header (HttpFetcher range fetch,
      used by BackoffHttpFetcher.java:56-61).
    * non-2xx surfaces as an exception whose message carries
      'bad status code: <n>' — the exact string the backoff ladder parses
      (BackoffHttpFetcher.java:84-92) — plus a .status attribute.

    `opener` is the unit-test seam (defaults to urllib.request.urlopen);
    real runs need no extra dependency."""
    import urllib.error
    import urllib.request

    open_fn = opener or urllib.request.urlopen

    def transport(key: str, start: int | None, end: int | None) -> bytes:
        if key.startswith("http"):
            url = key
        elif key.startswith("/"):
            url = base + key
        else:
            url = f"{base}/{key}"
        req = urllib.request.Request(url)
        if start is not None:
            req.add_header(
                "Range", f"bytes={start}-{'' if end is None else end}"
            )
        try:
            with open_fn(req, timeout=timeout) as resp:
                return resp.read()
        except urllib.error.HTTPError as e:
            err = OSError(f"bad status code: {e.code}")
            err.status = e.code
            raise err from e

    return transport


def s3_transport(client, bucket: str = "commoncrawl"):
    """Ranged S3 GET transport over a boto3-shaped client (the reference's
    scale path: S3Fetcher with bucket=commoncrawl / region=us-east-1,
    ExtractorConfig.java:201-209; ~50 S3 threads vs ~3 HTTP per
    README.md:171-172).

    Accepts any object exposing get_object(Bucket=, Key=, Range=) returning
    {'Body': file-like} — real boto3 client or a test fake. Throttling
    (SlowDown / 503) raises with .status == 503 so BackoffFetcher ladders."""

    def transport(key: str, start: int | None, end: int | None) -> bytes:
        key = key.lstrip("/")
        kwargs = {"Bucket": bucket, "Key": key}
        if start is not None:
            kwargs["Range"] = f"bytes={start}-{'' if end is None else end}"
        try:
            resp = client.get_object(**kwargs)
        except Exception as e:  # noqa: BLE001 — classify botocore-shaped errors
            code = getattr(e, "response", {}).get("ResponseMetadata", {}).get(
                "HTTPStatusCode"
            )
            err_code = getattr(e, "response", {}).get("Error", {}).get("Code")
            if code == 503 or err_code in ("SlowDown", "503"):
                err = OSError("bad status code: 503")
                err.status = 503
                raise err from e
            raise
        return resp["Body"].read()

    return transport


def make_s3_client(profile: str, region: str = "us-east-1"):
    """Real boto3 client from a named profile (S3Fetcher.setProfile /
    setCredentialsProvider('profile'), ExtractorConfig.java:204-208).
    boto3 is not installed in this sandbox — import-gated; tests use
    s3_transport with a fake client instead."""
    try:
        import boto3  # type: ignore[import-not-found]
    except ImportError as e:  # pragma: no cover - sandbox has no boto3
        raise NotImplementedError(
            "boto3 not available in this environment; pass a client fake to "
            "s3_transport instead"
        ) from e
    session = boto3.Session(profile_name=profile, region_name=region)
    return session.client("s3")


def transport_for(cfg):
    """FetchConfig -> transport, mirroring newFetcher's precedence
    (ExtractorConfig.java:201-220): s3 (profile) / fs (basePath) / http.

    fs key rule: basePath/basename(key) — the WARC files sit flat under
    basePath, as the fixtures and perfbench write them. The reference's
    FileSystemFetcher resolves the full key (basePath/crawl-data/...), a
    mirror of the bucket's tree."""
    if cfg.kind == "s3":
        return s3_transport(make_s3_client(cfg.profile, cfg.region), cfg.bucket)
    if cfg.kind == "fs":
        import os

        base = cfg.base_path
        return local_fs_transport(lambda k: os.path.join(base, os.path.basename(k)))
    return http_transport()
