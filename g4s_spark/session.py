"""SparkSession construction tuned for the test/bench environment.

Local mode is one JVM; on a real cluster the same knobs apply per-executor.
AQE is on so runtime stats re-plan joins (skew, broadcast thresholds) — the
dynamic upgrade of the reference's static cost model (SURVEY §4.2).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_mem() -> str:
    """The driver heap when ``G4S_DRIVER_MEM`` is unset: half of physical
    RAM (``MemTotal`` in /proc/meminfo), so the heap can never outgrow
    the machine — in local mode the driver is the whole engine, and a
    fixed cap above physical RAM lets the heap grow until the OS kills
    the JVM. The other half is left to Python workers, off-heap buffers
    and the OS. 4g where /proc/meminfo is unreadable. A container's
    cgroup limit is not read: set ``G4S_DRIVER_MEM`` there."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}m"  # KiB / 2, in MiB
    except OSError:
        pass
    return "4g"


def get_spark(app_name: str = "g4s_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # hub vertices skew the expand join's shuffle keys (power-law
        # degree); AQE splits oversized partitions at runtime instead of
        # one straggler task owning the hub (SCALE.md skew strategy)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
        # 64MB advisory partitions over-coalesce the small-but-CPU-heavy
        # shuffles of a 32-thread local node (mxm join stages ran 3-wide);
        # 8m keeps them parallel. These AQE sizes are runtime SQL confs: a
        # cluster deployment raises them with spark.conf.set.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # with coalescePartitions.parallelismFirst the coalesce target is
        # max(totalSize/parallelism, minPartitionSize) — the 1m default
        # floor collapsed CPU-heavy small-COMPRESSED-byte shuffles (the
        # per-iteration PageRank aggregations, cypher expand joins) to
        # 3-4 tasks with one straggler. 64k keeps them ~parallelism-wide:
        # pagerank 4.8->3.2 s warm at sf0.1. Same compressed-size pitfall
        # as SCALE.md's skew note; cluster deployments with genuinely
        # large shuffles can raise this back with spark.conf.set.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("G4S_DRIVER_MEM") or default_driver_mem())
        .config("spark.ui.enabled", "false")
        # driver testdata parquet carries TIMESTAMP(NANOS); read as long,
        # sources.tables converts to TimestampType (micros)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
