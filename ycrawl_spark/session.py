"""SparkSession builder tuned for this engine.

Local mode is a stand-in for a multi-executor cluster: we still set
shuffle partitioning, AQE, and Arrow exactly as we would on a 1000-
executor deployment; only master/memory differ.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Half of physical RAM, in MiB: a local-mode driver heap shares the
    host with the JVM's off-heap memory, the Python workers and the OS,
    so it stays well below the RAM it is derived from."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys_bytes // 2 // 2**20}m"


def get_spark(
    cores: int | None = None,
    app_name: str = "ycrawl_spark",
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession.

    On a real cluster the same conf applies, with ``master`` supplied by
    spark-submit; locally ``cores`` picks ``local[N]``. Unset ``cores``
    and ``driver_memory`` come from the host (``default_cores``,
    ``default_driver_memory``).
    """
    if cores is None:
        cores = default_cores()
    if driver_memory is None:
        driver_memory = default_driver_memory()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
