"""SparkSession factory with scale-aware defaults.

The reference builds its session in SparkSessionWrapper.scala:13-19
(`local[*]`, no tuning). Here every conf is chosen for the 100 TB
target and merely *scaled down* for local testing:

- AQE on (runtime join re-selection, skew-join splitting, partition
  coalescing) — the knob that makes one logical plan survive a 1000×
  scale-up.
- ``spark.sql.shuffle.partitions`` ≈ cores locally; on a real cluster
  this should be 2-3× total executor cores (AQE coalesces down).
- Session timezone pinned to UTC so timestamps compare bit-for-bit
  against UTC-naive parquet readers (DuckDB oracle).
- Arrow enabled: every Pandas-UDF hop is vectorized batch transfer.
- A read of up to 256 paths (a state read names one directory per
  bucket) is listed on the driver, not by a Spark listing job.
- Driver heap: half the host's physical memory unless
  ``SPARK_GRAFT_DRIVER_MEM`` says otherwise.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_SHUFFLE_PARTITIONS = max(8, os.cpu_count() or 8)
#: Manifest stores are read by naming their directories: a 64-bucket
#: state read is 64 paths. At Spark's default threshold of 32 such a
#: read schedules a listing job with one task per path (~400 ms at two
#: cores, paid by every merge and scan); up to this count the driver
#: lists them itself (~1 ms a directory locally). Above it a listing
#: job spreads the per-directory round trips of a remote store over
#: the executors, where serial listing on the driver would cost more.
#: Only the session conf takes effect: a per-read option is ignored.
_DRIVER_LISTING_PATHS = 256


def _default_driver_memory() -> str:
    """Half the host's physical memory: the local driver JVM holds the
    executors too, and a larger heap lets it grow until the kernel
    kills it."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // 2 // 2**20}m"


def get_spark(
    app_name: str = "spark_streaming_with_debezium_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster, leave it unset and let spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", _DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(_DRIVER_LISTING_PATHS),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
