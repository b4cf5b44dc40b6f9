"""SparkSession factory with the engine's scale-oriented defaults.

Local sandbox runs on local[N]; on a real cluster the same config applies —
AQE for runtime re-planning (skew joins, partition coalescing) and Arrow for
the pandas-UDF boundary (no per-row Python, per BASELINE.json input_hint).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run on
    (its affinity mask, which taskset and container CPU sets narrow)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API off Linux
        return os.cpu_count() or 1


def get_spark(
    app_name: str = "img2table-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Payload rows are heavy (base64 pages ~MBs): bound Arrow batch size
        # so batch × decoded-planes fits executor memory (SURVEY.md §4).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
