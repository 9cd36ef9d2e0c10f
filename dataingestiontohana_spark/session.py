"""SparkSession bootstrap tuned for both local testing and cluster scale.

Local mode is a single JVM with N threads; on a real cluster the same
configs hold (AQE handles runtime re-planning, skew joins, partition
coalescing). Shuffle partitions default to the local core count but are
meant to be overridden (`spark.sql.shuffle.partitions`) at cluster scale
to ~2-3x total executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """`SPARK_GRAFT_DRIVER_MEM` if set, else half of physical memory
    capped at 24g: a fixed 24g heap would let a local driver JVM grow
    past what a small host has, and be killed by the kernel instead of
    failing with an OutOfMemoryError."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 * 1024, total // 2 // 2**20)}m"


def get_spark(
    app_name: str = "dataingestiontohana_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switching survive a 100x scale-up where a
      static plan would not.
    - UTC session timezone: required for oracle (DuckDB) comparability.
    - Arrow on: fast pandas interchange for the Pandas-UDF slow path.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # files.maxPartitionBytes default 128MB is right for the 100TB
        # target; local parquet is far smaller than one partition anyway.
        .config("spark.ui.enabled", "false")
        # PySpark's DataFrame-debugging hook (default on) walks the
        # Python stack and makes two extra py4j calls on EVERY
        # DataFrame operation, purely to enrich error messages with
        # the user call site. This package issues tens of thousands of
        # DataFrame ops per suite pass — measured 68 s -> 42 s of
        # driver-side plan-construction time at sf0.1 with it off
        # (guide §5: keep the driver out of the hot path). Purely
        # diagnostic metadata; no plan or result changes.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
