"""SparkSession factory with scale-appropriate defaults.

The reference's performance story is JVM flags + a fixed 8-thread pool
(reference: runbenchmarks.sh:1, Duwamish.java:97,153). Here the equivalent
knobs are shuffle partitioning, AQE (runtime coalescing + skew-join
splitting), and Arrow for the pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """3/8 of this machine's physical memory as a Spark size (48g on a
    128 GiB host). Local-mode executors share the driver JVM, so the heap
    has to feed every task slot; 3/8 leaves room for off-heap buffers,
    Python workers and the OS. -Xmx is a cap, not a commit."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys * 3 // 8 >> 20}m"


def get_spark(
    app_name: str = "duwamish_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: the
    machine's core count). ``shuffle_partitions`` defaults to the local
    core count — on a real cluster you would set this to ~2-3x total
    executor cores instead. The driver heap is ``$SPARK_DRIVER_MEM`` (env,
    default :func:`default_driver_memory`).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism of the chosen master when it is local[N]
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = int(master[6:-1])
        else:
            shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # iterative workloads: keep plans from exploding and UI memory low
        .config("spark.ui.enabled", "false")
        # progress bars interleave with stdout and have truncated the
        # bench harness's final JSON line when its tail was captured
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
