"""Content-addressed emit sinks (S9/S10) — the engine-side analog of the
reference's FileSystemEmitter / S3Emitter wiring (ExtractorConfig.java:
249-278). An emitter is a callable (rel_path, payload) -> None, executed
executor-side inside the extraction partition function; all are idempotent
under task retries (skip-if-exists), which is also what onExists=skip means
in the reference (ExtractorConfig.java:276).
"""

from __future__ import annotations

import os
from typing import Callable

Emitter = Callable[[str, bytes], None]


def fs_emitter(base_path: str) -> Emitter:
    """FileSystemEmitter twin: write-to-tmp + atomic rename, skip-if-exists."""

    def emit(rel_path: str, payload: bytes) -> None:
        dst = os.path.join(base_path, rel_path)
        if os.path.exists(dst):
            return  # onExists=skip
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tmp = f"{dst}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, dst)

    return emit


def s3_emitter(client, bucket: str, prefix: str = "") -> Emitter:
    """S3Emitter twin (ExtractorConfig.java:249-270): put_object under
    prefix/rel_path with empty file extension, skip when the key already
    exists (HEAD 200). Accepts any boto3-shaped client (head_object /
    put_object) — real boto3 or a test fake; see fetcher.make_s3_client.
    """

    def emit(rel_path: str, payload: bytes) -> None:
        key = f"{prefix.rstrip('/')}/{rel_path}" if prefix else rel_path
        try:
            client.head_object(Bucket=bucket, Key=key)
            return  # exists → skip
        except Exception as e:  # noqa: BLE001 — 404 means "emit it"
            code = getattr(e, "response", {}).get("ResponseMetadata", {}).get(
                "HTTPStatusCode"
            )
            if code not in (404, None):
                raise
        client.put_object(Bucket=bucket, Key=key, Body=payload)

    return emit


def emitter_for(cfg, client=None) -> Emitter | None:
    """EmitConfig → emitter, mirroring newEmitter's precedence
    (ExtractorConfig.java:249-278): s3 when a profile is set, else fs.
    The pathless fs config of a job without 'docs' has no sink: None."""
    if cfg.kind == "s3":
        if client is None:
            from commoncrawl_fetcher_lite_spark.sources.fetcher import (
                make_s3_client,
            )

            client = make_s3_client(cfg.profile, cfg.region)
        return s3_emitter(client, cfg.bucket, cfg.prefix)
    return fs_emitter(cfg.base_path) if cfg.base_path else None
