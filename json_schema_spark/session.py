"""SparkSession factory with engine defaults.

Local-mode testing config tuned per the public Spark tuning guide: AQE on
(runtime re-plan + skew-join splitting), shuffle partitions sized to cores
(not the 200 default), Arrow enabled for the pandas-UDF slow path, UTC
session timezone so results compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half the host's physical memory, in whole GiB, capped at 16g."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, phys // 2**31))}g"


def get_spark(
    app_name: str = "json_schema_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``cores`` may be an int (local[N]) or "*" (all). On a real cluster this
    module is not used — the engine is master-agnostic; spark-submit owns the
    session config and callers pass their own SparkSession everywhere.
    The driver heap is ``SPARK_DRIVER_MEM`` when set, else half the host's
    physical memory capped at 16g: a heap past the host's memory gets the
    JVM (or a neighbour) OOM-killed instead of spilling.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else int(cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
