"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-planning, skew-join splitting, partition coalescing), shuffle
partitions sized to cores (not the 200 default), Arrow enabled for the
Pandas-UDF slow path, and UTC session time so results are oracle-comparable.

At 100 TB the same code runs unchanged; only ``master`` and the memory knobs
move into spark-submit / cluster config.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: where the driver-heap default reads the memory this process may use
MEMINFO = "/proc/meminfo"
CGROUP_MEMORY_MAX = "/sys/fs/cgroup/memory.max"
#: the driver-heap default never exceeds this (MiB)
MAX_DRIVER_MEM_MB = 48 * 1024


def default_driver_memory() -> str:
    """About half the memory this process may use — ``MemTotal``, or the
    cgroup v2 ``memory.max`` when that is lower — capped at 48g.  A
    fixed 48g heap on a smaller machine lets the JVM grow past physical
    memory and be OOM-killed mid-run.  ``SPARK_DRIVER_MEM`` overrides."""
    limits = []
    try:
        with open(MEMINFO) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    limits.append(int(line.split()[1]) * 1024)  # kB
                    break
    except (OSError, ValueError, IndexError):
        pass
    try:
        with open(CGROUP_MEMORY_MAX) as f:
            limits.append(int(f.read().strip()))  # "max" = no limit
    except (OSError, ValueError):
        pass
    if not limits:
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(min(limits) // 2 // 2**20, MAX_DRIVER_MEM_MB)}m"


def get_spark(
    app_name: str = "chainweb-data-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver testdata stores TIMESTAMP(NANOS) which Spark has no type
        # for; read as long and convert in the loader (values are µs-aligned)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # list a read's paths on the driver: with a local[N] master a
        # "parallel" listing job runs on the same disks, one task per path.
        # Above the default threshold (32) a transaction-log read's
        # explicit file list paid that job: 120 / 1200 / 5900 files took
        # 0.7-1.3 / 7.6 / 26.9 s as a job, 0.07-0.18 / 0.36 / 1.2 s on the
        # driver (4 vCPUs)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
        # Spark creates the session catalog's warehouse directory on first
        # catalog use; keep it out of the working tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/cds-warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
