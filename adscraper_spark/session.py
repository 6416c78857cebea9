"""SparkSession factory with the engine's pinned configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Ceiling of the derived driver heap (the old fixed default).
MAX_DRIVER_MEM_MB = 48 * 1024


def driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` when set; otherwise a quarter of
    physical memory, capped at 48g. A heap sized past physical memory
    lets the JVM grow until the kernel OOM killer takes it; a quarter
    leaves room for the Python workers and for a second local JVM (a
    crawl CLI subprocess beside the calling process)."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 4 // 2**20, MAX_DRIVER_MEM_MB)}m"


def build_session(app: str = "adscraper_spark", cpus: int | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cpus)
    builder = (
        SparkSession.builder
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # A bucketed pages corpus is thousands of hive partition dirs;
        # the default threshold (32) pushes their discovery into a
        # distributed listing job whose fixed latency dwarfs the
        # driver-side stat() loop on any local/posix store. Real
        # clusters with object-store corpora use Iceberg manifests and
        # never list at all (store.py module docstring).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "100000")
    )
    # Under spark-submit the JVM gateway already exists and carries the
    # --master / --driver-memory the operator chose (cluster deploys:
    # spark-submit --py-files adscraper_spark.zip); only a standalone
    # python process pins local[N] + driver memory itself.
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = (builder
                   .master(f"local[{cpus}]")
                   .config("spark.driver.memory", driver_memory()))
    return builder.getOrCreate()
