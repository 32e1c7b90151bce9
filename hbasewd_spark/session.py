"""SparkSession factory for the engine.

Local-mode defaults tuned for the test/bench container (local[32],
128 GiB). On a real cluster these settings are owned by the deploy; the
only engine-required invariants are UTC session timezone (oracle
comparability), AQE on (runtime re-planning, skew-join handling at
scale) and Arrow enabled (fast pandas-UDF boundary).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical memory, capped at 48 GiB, at least 1 GiB. In
    local mode the driver JVM is the whole engine, and ParallelGC grows
    its heap toward the cap under a high allocation rate: a cap above
    the host's memory ends with the kernel's OOM killer taking the JVM
    (a 16 GB host lost the test session that way with a fixed 48 GiB
    cap). The 128 GiB bench container keeps its 48 GiB."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "48g"
    return f"{max(1, min(48, (total >> 30) // 2))}g"


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
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
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
        # footer-based zone maps (SaltedTable._footer_stats_local) and
        # row-group pruning on timestamp keys both need the modern
        # annotated INT64 — which is also the cross-engine-readable
        # production choice (INT96 is deprecated in the format spec)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/hbasewd_warehouse"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
