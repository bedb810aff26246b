"""WARC range-fetch + decode + interleaved-document assembly.

Reference semantics (extractor/FileFromCCWarcExtractor.java):
  S8 range fetch       :80-89, 207-217 — fetch [offset, offset+length-1]
  W1 gunzip member     :194
  W2 first record only :195-203 — parse exactly the FIRST WARC record
  F12 type filter      :101-104 — only WARC-Type: response with
                       Content-Type base application/http
  F13 empty payload    :106-115 — skip + counter
  W4 digest verify     :123-133 — Base32(SHA-1) vs index digest, WARN-ONLY
                       (mismatches still emitted) → we emit digest_ok=false
  W5 emit + log        :135-188 — SHA-256-hex target name rewritten by
                       targetPathPattern; success CSV row

Engine shape: a `mapInPandas` stage over the selected+budgeted record set.
Every record is read by one ranged `fetch(key, start, end)` on a fetcher
built once per partition (S5-S8: http / s3 / fs). The input is
co-partitioned by filename (one repartition — the same shuffle a cluster
needs to coalesce HTTP range requests per compound WARC) and each batch is
sorted by (filename, offset), so the fetch reads each WARC forward; the fs
transport keeps the current file open until the key changes. Payloads go
to the job's sink (S9/S10), also built per partition. All Python work is
Arrow-batched; no per-row UDF.

Interleaved doc assembly (input_hint shape, engine-defined rule mirrored by
tests/oracle.py):
  * text mimes (text/*): payload split on blank lines; `[[MEDIA:k]]`
    markers become kind='media' spans whose media_ref is the rewritten
    sha256 of '<url>#media<k>'; other segments become kind='text' spans.
  * non-text mimes: one kind='media' span, media_ref = rewritten sha256 of
    the payload bytes.
  * offset = 0-based span position (the order key of span-seq equality).
"""

from __future__ import annotations

import gzip
import hashlib
import io
import re
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commoncrawl_fetcher_lite_spark.config import EmitConfig
from commoncrawl_fetcher_lite_spark.fixtures import sha1_b32
from commoncrawl_fetcher_lite_spark.functions.paths import rewrite_target_path_py

_MEDIA_RE = re.compile(r"^\[\[MEDIA:(\d+)\]\]$")


OUT_SCHEMA = (
    "url string, mime string, mime_detected string, warc_file string, "
    "warc_offset long, warc_length long, truncated string, sha256 string, "
    "length long, path string, digest_ok boolean, empty_payload boolean, "
    "read_error string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _read_error_types() -> tuple[type, ...]:
    """Exceptions the per-record read may warn-and-continue on — the
    engine's analog of the reference catching TikaException/IOException
    (FileFromCCWarcExtractor.java fetchToPath) rather than Throwable:
    OSError covers urllib URLError/HTTPError, gzip.BadGzipFile and file-IO;
    EOFError/ValueError cover short reads and bad offsets; botocore's
    ClientError (plain Exception subclass) is added when boto3 exists.
    Anything else — a systematically broken transport or a code bug — now
    FAILS the task instead of silently producing an empty 'successful'
    job."""
    types: list[type] = [OSError, EOFError, ValueError]
    try:
        from botocore.exceptions import BotoCoreError, ClientError  # noqa: PLC0415

        types += [BotoCoreError, ClientError]
    except ImportError:
        pass
    return tuple(types)


def parse_first_warc_record(raw: bytes) -> tuple[dict, bytes] | None:
    """Gunzip + parse the FIRST WARC record; returns (warc_headers, payload)
    or None when not a processable response record (F12)."""
    try:
        data = gzip.decompress(raw)
    except Exception:
        return None
    head_end = data.find(b"\r\n\r\n")
    if head_end < 0 or not data.startswith(b"WARC/"):
        return None
    headers: dict[str, str] = {}
    for ln in data[: head_end].split(b"\r\n")[1:]:
        if b":" in ln:
            k, v = ln.split(b":", 1)
            headers[k.decode("latin-1").strip().lower()] = v.decode("latin-1").strip()
    if headers.get("warc-type") != "response":
        return None
    if not headers.get("content-type", "").startswith("application/http"):
        return None
    try:
        clen = int(headers.get("content-length", "-1"))
    except ValueError:
        return None
    block = data[head_end + 4 : head_end + 4 + clen] if clen >= 0 else data[head_end + 4 :]
    http_end = block.find(b"\r\n\r\n")
    if http_end < 0:
        return None
    payload = block[http_end + 4 :]
    return headers, payload


def assemble_spans(url: str, mime_detected: str | None, payload: bytes,
                   pattern: str) -> list[dict]:
    md = (mime_detected or "").lower()
    if md.startswith("text/"):
        text = payload.decode("utf-8", errors="replace")
        spans: list[dict] = []
        for seg in text.split("\n\n"):
            m = _MEDIA_RE.match(seg)
            if m:
                ref_digest = hashlib.sha256(
                    f"{url}#media{m.group(1)}".encode()
                ).hexdigest()
                spans.append(
                    {
                        "kind": "media",
                        "text": None,
                        "media_ref": rewrite_target_path_py(ref_digest, pattern),
                        "offset": len(spans),
                    }
                )
            else:
                spans.append(
                    {"kind": "text", "text": seg, "media_ref": None, "offset": len(spans)}
                )
        return spans
    digest = hashlib.sha256(payload).hexdigest()
    return [
        {
            "kind": "media",
            "text": None,
            "media_ref": rewrite_target_path_py(digest, pattern),
            "offset": 0,
        }
    ]


def _out_row(row, *, sha256=None, length=None, path=None, digest_ok=False,
             empty_payload=False, read_error=None, spans=None) -> dict:
    """One output row for record `row`; the defaults are a record with no
    payload (an empty one, or a read error)."""
    return {
        "url": row.url,
        "mime": row.mime,
        "mime_detected": row.mime_detected,
        "warc_file": row.filename,
        "warc_offset": int(row.offset),
        "warc_length": int(row.length),
        "truncated": row.truncated,
        "sha256": sha256,
        "length": length,
        "path": path,
        "digest_ok": digest_ok,
        "empty_payload": empty_payload,
        "read_error": read_error,
        "spans": spans,
    }


def extract_payloads(
    records: DataFrame,
    path_resolver: Callable[[str], str] | None = None,
    target_path_pattern: str = "xx/xx/xxx",
    num_partitions: int | None = None,
    task_deadline_seconds: float | None = None,
    emit: EmitConfig | None = None,
    fetcher_factory: Callable[[], object] | None = None,
) -> DataFrame:
    """records must carry url, mime, mime_detected, status, digest, length,
    offset, filename, truncated. Returns one row per FETCHABLE record with
    extraction metadata + spans; empty payloads flagged (caller filters and
    counts them — F13).

    ``fetcher_factory``: () -> an object with fetch(key, start, end), e.g.
    a BackoffFetcher over the config's transport (HTTP/S3/FS with the 503
    backoff ladder, S5/S6/S8). Built ONCE PER PARTITION executor-side
    (clients aren't picklable); rows of the same WARC stay co-partitioned
    and offset-sorted so ranged reads go forward. Without one,
    ``path_resolver`` (filename -> local path) builds the fs fetcher:
    ``local_fs_transport(path_resolver)``, which reads each file through
    one handle.

    ``emit``: the S9/S10 content-addressed sink (ExtractorConfig.java:
    249-278) — each payload lands at <rewritten sha256 path> under the fs
    base path or the s3 bucket/prefix, executor-side, skip-if-exists
    (idempotent across task retries, exactly the reference's
    onExists=skip). None, or the pathless fs config, writes no sink.

    Per-record read/parse failures (missing WARC file, bad offset, corrupt
    gzip) are skipped like the reference's warn-and-continue
    (FileFromCCWarcExtractor.fetchToPath catches TikaException/IOException
    and returns) — one bad record must not fail the task and, after
    retries, the whole job.
    """
    cols = [
        "url", "mime", "mime_detected", "digest", "length", "offset",
        "filename", "truncated",
    ]
    # co-locate reads of the same compound WARC (ranged-read coalescing).
    # num_partitions (T3 numThreads cap) bounds the stage's task count
    # while STILL hashing on filename, so one file's records stay in one
    # task and read through one handle
    df = records.select(*cols)
    if num_partitions is not None and num_partitions > 0:
        df = df.repartition(num_partitions, F.col("filename"))
    else:
        df = df.repartition(F.col("filename"))
    pattern = target_path_pattern

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from commoncrawl_fetcher_lite_spark.functions.progress import (
            ProgressTicker,
        )
        from commoncrawl_fetcher_lite_spark.sources.emitters import emitter_for
        from commoncrawl_fetcher_lite_spark.sources.fetcher import (
            BackoffFetcher,
            local_fs_transport,
        )

        import time as _time

        if fetcher_factory is not None:
            fetcher = fetcher_factory()
        else:
            fetcher = BackoffFetcher(
                transport=local_fs_transport(path_resolver), url_base=""
            )
        emitter = emitter_for(emit) if emit is not None else None
        err_types = _read_error_types()
        # A5 (CCFileExtractorRecordProcessor.java:44-54): per-task progress
        # heartbeat every 100k records, via the executor's Python logger
        ticker = ProgressTicker("extract_payloads")
        # T4 (CCFileExtractor.java:150-153): the reference worker stops
        # pulling from its queue after a poll timeout (120 min default).
        # Engine analog = a per-task fetch deadline: once exceeded, the
        # remaining records of this task are NOT fetched — each surfaces
        # as a read_error row ("deadline_exceeded") so observe() counts
        # the loss instead of the task hanging on a stalled transport.
        t_start = _time.monotonic()
        for pdf in batches:
            if pdf.empty:
                continue
            ticker.add(len(pdf))
            pdf = pdf.sort_values(["filename", "offset"])
            out_rows = []
            for row in pdf.itertuples(index=False):
                if (
                    task_deadline_seconds is not None
                    and _time.monotonic() - t_start >= task_deadline_seconds
                ):
                    out_rows.append(_out_row(row, read_error="deadline_exceeded"))
                    continue
                try:
                    raw = fetcher.fetch(
                        row.filename,
                        int(row.offset),
                        int(row.offset) + int(row.length) - 1,
                    )
                except err_types as e:  # warn-and-continue, but VISIBLY:
                    # the skip becomes an output row (read_error set) so the
                    # pipeline's observe() counter sees total loss — a
                    # systematically failing transport can't masquerade as
                    # an empty-but-successful job.
                    import warnings

                    warnings.warn(
                        f"skipping unreadable record {row.filename}@{row.offset}: {e}"
                    )
                    out_rows.append(
                        _out_row(row, read_error=f"{type(e).__name__}: {e}")
                    )
                    continue
                parsed = parse_first_warc_record(raw)
                if parsed is None:
                    continue  # F12: silently skipped
                _, payload = parsed
                if not payload:
                    out_rows.append(_out_row(row, empty_payload=True))
                    continue
                sha256 = hashlib.sha256(payload).hexdigest()
                path = rewrite_target_path_py(sha256, pattern)
                if emitter is not None:
                    emitter(path, payload)
                out_rows.append(
                    _out_row(
                        row,
                        sha256=sha256,
                        length=len(payload),
                        path=path,
                        digest_ok=sha1_b32(payload) == row.digest,
                        spans=assemble_spans(
                            row.url, row.mime_detected, payload, pattern
                        ),
                    )
                )
            if out_rows:
                yield pd.DataFrame(out_rows)

    return df.mapInPandas(run, schema=OUT_SCHEMA)
