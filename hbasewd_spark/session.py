"""SparkSession factory for the engine.

Local-mode defaults sized from the host: all local cores and a driver
heap of ``DRIVER_HEAP_SHARE`` of physical RAM. On a real cluster these
settings are owned by the deploy; the only engine-required invariants
are UTC session timezone (oracle comparability), AQE on (runtime
re-planning, skew-join handling at scale) and Arrow enabled (fast
pandas-UDF boundary).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# share of physical RAM given to the local-mode driver JVM heap; the
# rest is left to the Python workers, Arrow buffers and the OS, so a
# host without swap is never asked for more heap than it holds
DRIVER_HEAP_SHARE = 0.6


def driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` for a local-mode session:
    ``$SPARK_DRIVER_MEMORY`` when set, else ``DRIVER_HEAP_SHARE`` of
    physical RAM in whole GiB, at least ``1g``."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, int(DRIVER_HEAP_SHARE * phys_bytes / 2**30))}g"


def get_spark(app_name: str = "hbasewd_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores.
    ``spark.sql.shuffle.partitions`` is pinned to the core count: at
    100 TB this would instead be sized so post-shuffle partitions are
    ~128-256 MB (AQE coalescing handles the downward direction).
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        # Throughput collector for batch analytics: the default G1 on a
        # large single-JVM heap showed frequent ~500ms young-gen pauses
        # under allocation-heavy explode/HOF stages (measured at sf1:
        # same plans ran 3-7x slower purely from GC). On a real cluster
        # this maps to executor JVM opts; override via $SPARK_GC_OPTS.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the driver-generated events table stores ts as parquet
        # TIMESTAMP(NANOS); Spark has no nanos timestamp type, so read as
        # long and convert at the loader (sources/loaders.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # INT96 (Spark's legacy default) carries NO parquet statistics:
        # footer-based zone maps (SaltedTable._footer_zone_map) and
        # row-group pruning on timestamp keys both need the modern
        # annotated INT64 — which is also the cross-engine-readable
        # production choice (INT96 is deprecated in the format spec)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/hbasewd_warehouse"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
