"""Bucketed URL-seen table: Spark table bucketing so the steady-state
anti-join never re-shuffles the seen set.

At crawl steady state the seen set (10^10-row target) dwarfs every
candidate batch, yet a plain hash anti-join shuffles BOTH sides on the
join key every iteration — the dominant recurring shuffle of the whole
loop is the state side that never changes between compactions. Writing
the seen set ONCE as a bucketed table (``bucketBy(n, url_hash) .sortBy
(url_hash) .saveAsTable``) records the hash-distribution in the catalog;
every subsequent anti-join then plans an Exchange ONLY for the candidate
side, and each seen bucket's files feed their join task directly
(plan-audited in tests/test_plan_audits.py: zero Exchange above the
bucketed scan, exactly one above the candidates).

Cost model: one bucketed rewrite of the compacted seen set, amortized
over every anti-join until the next compaction — the break-even is ~1
iteration, since the rewrite costs one shuffle of the state and saves
one per iteration thereafter.

Production mapping: the identical property comes from an Iceberg
``bucket(n, url_hash)`` partition transform with storage-partitioned
joins. The local session catalog (in-memory/derby) loses table metadata
across restarts, so SnapshotStore keeps plain parquet as the durable
format and this module is the per-run read-side accelerator.

Reference parity note: behaviorally identical to urlseen.filter_unseen
(UrlCache semantics in the reference's ExtractRecordProcessor — see
sources/warc.py citations); only the physical plan differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def pick_n_buckets(
    n_rows: int, bytes_per_row: int = 80, target_bucket_bytes: int = 1 << 30
) -> int:
    """Computed default for write_seen_bucketed (VERDICT r4 #8): size each
    bucket at ~`target_bucket_bytes` (1 GiB — comfortably in-memory for a
    sort-merge join task and large enough that parquet compression works),
    assuming ~80 B/row for (url_hash int64, url string ~60 chars parquet-
    encoded). Rounded UP to a power of two so a later 2x-grown rewrite is
    a clean bucket split, min 8 (below that the bucketed plan saves
    nothing over a broadcast). 10^10 rows -> 1024 GiB-sized buckets; the
    module docstring's historical hand-picked 4096 sized them at ~200 MB
    (target_bucket_bytes=200<<20 reproduces it) — both workable, 1 GiB
    is the better parquet/scan-granularity trade."""
    want = max(1, (n_rows * bytes_per_row) // target_bucket_bytes)
    n = 8
    while n < want:
        n *= 2
    return n


def write_seen_bucketed(
    spark: SparkSession,
    seen: DataFrame,
    table: str = "urlseen_bucketed",
    n_buckets: int | None = None,
    path: str | None = None,
    key: str = "url_hash",
) -> str:
    """Materialize `seen` as a bucketed+sorted parquet table and return the
    table name. Overwrites an existing table of the same name. `path` makes
    it external (data under path, metadata in the session catalog).
    n_buckets=None computes one from the seen row count via pick_n_buckets
    (costs a count() — pass explicitly when the caller already knows it)."""
    if n_buckets is None:
        n_buckets = pick_n_buckets(seen.count())
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    writer = (
        seen.repartition(n_buckets, F.col(key))  # one file per bucket
        .write.format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .mode("overwrite")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
    return table


def filter_unseen_bucketed(
    spark: SparkSession,
    candidates: DataFrame,
    table: str = "urlseen_bucketed",
    key: str = "url_hash",
) -> DataFrame:
    """candidates minus the bucketed seen table (left_anti on `key`).

    The seen side scans bucket-aligned (no Exchange, no Sort when the
    table was written sortBy(key) with one file per bucket); only the
    candidate side shuffles, into n_buckets partitions matching the
    table's hash distribution.

    Hash-only membership: a candidate whose 64-bit hash collides with a
    DIFFERENT seen url is wrongly dropped (~n²/2^65 — a few million
    expected at the 10^10 target). Use filter_unseen_bucketed_exact when
    that matters."""
    seen = spark.table(table).select(key)
    return candidates.join(seen, key, "left_anti")


def filter_unseen_bucketed_exact(
    spark: SparkSession,
    candidates: DataFrame,
    table: str = "urlseen_bucketed",
    key: str = "url_hash",
    url_col: str = "url",
) -> DataFrame:
    """Collision-exact bucketed anti-join — semantics identical to
    urlseen.filter_unseen's (url_hash, url) composite key, still without
    ever shuffling the seen table.

    Spark only reuses a table's bucket distribution when the join keys
    equal the bucket key, so a direct (url_hash, url) anti-join would
    re-shuffle the state. Instead: (1) inner-probe on url_hash alone —
    the bucketed side stays exchange-free, output is batch-sized (true
    matches + ~0 collisions); (2) keep only probes whose url string
    really matches; (3) anti-join the candidates against that verified,
    batch-sized seen subset. Both remaining shuffles move O(batch) rows.

    The probe output is materialized (localCheckpoint) BEFORE the string
    verify: left in one plan, Catalyst recognizes the post-join equality
    as an equi-join condition, rewrites the join keys to (url, url_hash),
    and disables the bucketed scan — i.e. the optimizer would silently
    reintroduce the full state shuffle this function exists to avoid. The
    checkpoint costs one O(batch) materialization; the plan audit pins
    the resulting shape."""
    seen = spark.table(table).select(
        key, F.col(url_col).alias("_seen_url")
    )
    probe = (
        candidates.select(key, url_col).join(seen, key).localCheckpoint()
    )
    verified = (
        probe.where(F.col(url_col) == F.col("_seen_url"))
        .select(key, url_col)
        .distinct()
    )
    return candidates.join(verified, [key, url_col], "left_anti")
