"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[N]``; the same configs are what we would
submit with ``spark-submit --py-files`` on a real cluster (AQE on, Arrow on,
shuffle partitions sized to cores). Nothing here is environment-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """A quarter of physical memory (MemTotal), at most 48g. In local mode
    this one JVM heap holds every executor's data; a heap larger than the
    box lets the JVM grow past free memory and get OOM-killed instead of
    collecting."""
    try:
        total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, OSError, ValueError):
        return "48g"
    return f"{min(48 * 1024, max(1024, total // 4 // 2**20))}m"


def get_spark(
    app_name: str = "commoncrawl_fetcher_lite_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    tmpfs_local_dir: bool | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or 32. Shuffle partitions default
    to the core count — on a real cluster this would be ~2-3x total executor
    cores; AQE coalesces at runtime either way.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Shuffle/spill dir. tmpfs is an explicit OPT-IN (ADVICE r4): it's the
    # right call for this box's bench/scaling runs — the shared-disk tmp
    # adds multi-second stalls under other tenants' I/O (measured: shuffle-
    # heavy queries 2-3x slower, CPU-pure ones unchanged) — but it is the
    # WRONG library default: /dev/shm is RAM-backed (capped ~50% RAM), so
    # workloads that spill precisely because memory is short would hit
    # ENOSPC where plain disk tmp worked. Bench entry points pass
    # tmpfs_local_dir=True (or set SPARK_GRAFT_TMPFS=1); library consumers
    # keep Spark's default. SPARK_LOCAL_DIRS overrides everything.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if tmpfs_local_dir is None:
        tmpfs_local_dir = os.environ.get("SPARK_GRAFT_TMPFS", "") == "1"
    if not local_dir and tmpfs_local_dir and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-tmp"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
