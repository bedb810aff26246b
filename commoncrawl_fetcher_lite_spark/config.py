"""Engine configuration mirroring the reference's ExtractorConfig semantics.

Defaults match /root/reference .../extractor/ExtractorConfig.java:49-66:
  throttleSeconds = [30, 120, 600, 1800]   (:49)
  numThreads      = 2                      (:50)
  maxRecords / maxFilesExtracted / maxFilesTruncated = unbounded (:52-54)
  dryRun = False, extractTruncated = False (:55-56)
  targetPathPattern default ''             (:58)
  RecordSelector.ACCEPT_ALL when no selector (:66)

The engine adds frontier/politeness knobs the reference lacks (required by
the north rule): per-host token buckets, salting, deterministic sampling
seed, checkpoint root.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

LONG_MAX = (1 << 63) - 1

# Reference constants (ExtractorConfig.java:41-49, BackoffHttpFetcher usage)
DEFAULT_THROTTLE_SECONDS = (30, 120, 600, 1800)
CC_HTTPS_BASE = "https://data.commoncrawl.org"  # ExtractorConfig.java:41-45
CC_S3_BUCKET = "commoncrawl"
CC_REGION = "us-east-1"


DEFAULT_FS_DOCS_PATH = "docs"  # ExtractorConfig.java:47


@dataclass(frozen=True)
class FetchConfig:
    """Which byte source serves index files and WARC ranges.

    Kind resolution mirrors ExtractorConfig.FetchConfig.newFetcher
    (ExtractorConfig.java:201-220) precedence exactly:
      profile set  → 's3'  (S3Fetcher: bucket=commoncrawl, region=us-east-1)
      basePath set → 'fs'  (FileSystemFetcher)
      else         → 'http' (BackoffHttpFetcher with throttleSeconds)
    """

    kind: str = "http"
    base_path: str = ""
    profile: str = ""
    bucket: str = CC_S3_BUCKET
    region: str = CC_REGION
    throttle_seconds: tuple[int, ...] = DEFAULT_THROTTLE_SECONDS

    @staticmethod
    def from_dict(d: dict[str, Any] | None) -> "FetchConfig":
        d = d or {}
        throttle = tuple(d.get("throttleSeconds", DEFAULT_THROTTLE_SECONDS))
        if d.get("profile"):
            return FetchConfig(
                kind="s3", profile=d["profile"], throttle_seconds=throttle
            )
        if d.get("basePath"):
            return FetchConfig(
                kind="fs", base_path=d["basePath"], throttle_seconds=throttle
            )
        return FetchConfig(kind="http", throttle_seconds=throttle)


@dataclass(frozen=True)
class EmitConfig:
    """Content-addressed emit target (reference EmitConfig.newEmitter,
    ExtractorConfig.java:249-278):
      profile non-blank → 's3' (S3Emitter: bucket REQUIRED, region default
                          us-east-1, optional prefix, empty file extension)
      else              → 'fs' (FileSystemEmitter: path or 'docs',
                          onExists=skip)

    The Fetch passes this config to extract_payloads, which builds the sink
    executor-side with sources.emitters.emitter_for (an S3 client does not
    pickle); the pathless fs config (no 'docs') builds none.

    Both sinks skip an existing target, as the reference fixes them
    (ExtractorConfig.java:271-278); an 'onExists' other than 'skip' is a
    ValueError rather than a mode the sinks would silently ignore. In the
    engine this dedup is also enforced relationally (URL-seen /
    content-seen anti-join) before write; the sink-level skip stays as the
    idempotency backstop.
    """

    kind: str = "fs"
    base_path: str = ""
    profile: str = ""
    region: str = CC_REGION
    bucket: str = ""
    prefix: str = ""

    @staticmethod
    def from_dict(d: dict[str, Any] | None) -> "EmitConfig":
        """Absent 'docs' → fs sink with NO base path (the engine's fetch
        pipeline then skips the sink write; its outputs are the relational
        tables). This diverges from the reference, which always emits and
        defaults the path to 'docs' (ExtractorConfig.java:271-273) — a
        present-but-pathless docs dict keeps that default."""
        if d is None:
            return EmitConfig()
        if d.get("onExists", "skip") != "skip":
            raise ValueError(
                f"docs.onExists must be 'skip': {d['onExists']!r}"
            )
        if d.get("profile"):
            bucket = d.get("bucket", "")
            if not bucket:
                # reference: TikaConfigException("Must specify a bucket for
                # docs"), ExtractorConfig.java:255-257
                raise ValueError("Must specify a bucket for docs")
            return EmitConfig(
                kind="s3",
                profile=d["profile"],
                region=d.get("region") or CC_REGION,
                bucket=bucket,
                prefix=d.get("prefix", ""),
            )
        return EmitConfig(
            kind="fs",
            base_path=d.get("path") or DEFAULT_FS_DOCS_PATH,
        )


@dataclass(frozen=True)
class ExtractorConfig:
    """Top-level job config (reference ExtractorConfig.java:49-66)."""

    index_paths: tuple[str, ...] = ()
    # indices.basePath (IndexIterator.java:66-78): the directory the
    # index files are discovered in when no paths are listed
    index_base_path: str = ""
    # numThreads (ExtractorConfig.java:50, reference default 2): the engine
    # analog is the fetch STAGE's task count. -1 = absent from the config;
    # resolution (effective_fetch_cap, ADVICE r4): absent + HTTP transport
    # -> cap 2, matching the reference's external-load behavior toward the
    # Common Crawl origin (its README advises ~3 http connections); absent
    # + S3/fs transport -> uncapped (those scale with the cluster and the
    # reference's "2" merely sized one box's worker pool). 0 = explicit
    # uncapped opt-in for HTTP too. >0 = that cap, any transport.
    num_threads: int = -1
    selector: dict[str, Any] | None = None
    max_records: int = LONG_MAX
    max_files_extracted: int = LONG_MAX
    max_files_truncated: int = LONG_MAX
    max_index_files: int = LONG_MAX
    dry_run: bool = False
    extract_truncated: bool = False
    target_path_pattern: str = ""
    fetch: FetchConfig = field(default_factory=FetchConfig)
    emit: EmitConfig = field(default_factory=EmitConfig)
    # Engine-only: deterministic sampling seed (reference sampling is
    # unseeded java.util.Random — AbstractSamplingSelector.java:40-55 —
    # and cannot reproduce its own runs; we fix that).
    sample_seed: int = 42
    # T4 (CCFileExtractor.java:150-153): the reference's worker loop gives
    # up after a 120-minute queue-poll timeout. Engine analog: a per-task
    # fetch deadline — past it, remaining records surface as
    # read_error='deadline_exceeded' rows instead of hanging the task.
    fetch_deadline_seconds: float = 7200.0


@dataclass(frozen=True)
class FrontierConfig:
    """Net-new frontier knobs (north rule; no reference analog)."""

    n_salt: int = 16  # salt buckets per hot host
    default_tokens_per_sec: float = 1.0
    default_burst: int = 10
    default_max_per_batch: int = 100
    # Weight of the link-graph centrality prior: when a `host_rank`
    # snapshot table exists (frontier/hostrank.py host_pagerank over the
    # outlink graph), candidate priority becomes
    # priority + host_rank_weight * rank(host). Inert without the table.
    host_rank_weight: float = 1.0


def _normalize_emit_dict(cfg: dict[str, Any]) -> dict[str, Any] | None:
    """Resolve the emit sink dict: modern 'docs' (reference key,
    ExtractorConfig.java:249) wins; the legacy 'emitter' fallback is
    TRANSLATED to the modern keys (basePath → path; onExists carried, so
    EmitConfig.from_dict checks it) so old configs keep their target dir
    instead of silently emitting to the default 'docs' dir."""
    if cfg.get("docs") is not None:
        return cfg["docs"]
    legacy = cfg.get("emitter")
    if legacy is None:
        return None
    d = dict(legacy)
    if "basePath" in d and "path" not in d:
        d["path"] = d.pop("basePath")
    return d


def effective_fetch_cap(cfg: "ExtractorConfig", transport_is_http: bool) -> int | None:
    """Resolve numThreads into the fetch stage's task cap (None = uncapped).

    ADVICE r4 policy: a config that OMITS numThreads keeps the reference's
    modest courtesy cap (2, ExtractorConfig.java:50) when the bytes come
    from the HTTP origin — existing reference configs then produce the
    same external load they always did — while S3/fs transports run at
    cluster width (the reference's "2" only sized one box's worker pool).
    Explicit numThreads=0 opts HTTP out of the cap; explicit >0 caps any
    transport."""
    if cfg.num_threads > 0:
        return cfg.num_threads
    if cfg.num_threads == 0:
        return None
    return 2 if transport_is_http else None


def from_json_dict(cfg: dict[str, Any]) -> ExtractorConfig:
    """Parse a reference-style config JSON dict (README.md:97-126 shape;
    fetcher/docs resolution per ExtractorConfig.java:157-278 — see the
    reference's own three test resources configs/basic-{http,local,s3}.json
    exercised by FetcherConfigTest.java:36-62).

    'indices.profile' and 'indexFetcher' (ExtractorConfig.java:164-169)
    are accepted and not used: the engine reads index files through
    Spark's own filesystem layer (sources.cdx.scan_cdx), whichever
    store they live in."""
    indices = cfg.get("indices", {})
    fetch = FetchConfig.from_dict(cfg.get("fetcher"))
    emit = EmitConfig.from_dict(_normalize_emit_dict(cfg))
    return ExtractorConfig(
        index_paths=tuple(indices.get("paths", ())),
        index_base_path=indices.get("basePath", ""),
        num_threads=int(cfg.get("numThreads", -1)),  # absent = sentinel -1
        selector=cfg.get("recordSelector"),
        max_records=int(cfg.get("maxRecords", LONG_MAX)),
        max_files_extracted=int(cfg.get("maxFilesExtracted", LONG_MAX)),
        max_files_truncated=int(cfg.get("maxFilesTruncated", LONG_MAX)),
        max_index_files=int(cfg.get("maxIndexFiles", LONG_MAX)),
        dry_run=bool(cfg.get("dryRun", False)),
        extract_truncated=bool(cfg.get("extractTruncated", False)),
        target_path_pattern=str(cfg.get("targetPathPattern", "")),
        fetch=fetch,
        emit=emit,
        sample_seed=int(cfg.get("sampleSeed", 42)),
        fetch_deadline_seconds=float(cfg.get("fetchDeadlineSeconds", 7200.0)),
    )
