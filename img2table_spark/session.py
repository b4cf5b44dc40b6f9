"""SparkSession factory with the engine's scale-oriented defaults.

Local sandbox runs on local[N]; on a real cluster the same config applies —
AQE for runtime re-planning (skew joins, partition coalescing) and Arrow for
the pandas-UDF boundary (no per-row Python, per BASELINE.json input_hint).

Also home of the one session-artifact cache (``session_artifact``) and the
session's staging dir (``staging_dir``).
"""

from __future__ import annotations

import functools
import inspect
import os
import tempfile
from pathlib import Path

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


# ------------------------------------------------- session-artifact cache
#
# A materialized artifact (band index, IVF index, trained codebook, staged
# corpus, ...) is built once per SparkSession and read by every consumer.
# PySpark runs one active SparkContext per process, so a new applicationId
# means the previous context was stopped and its cached blocks went with
# it: the cache then drops the old session's entries (nothing left to
# unpersist) and removes its staging dir.

_cache: dict = {}
_app_id: str | None = None
_staging: tempfile.TemporaryDirectory | None = None


def _enter(spark: SparkSession) -> str:
    """The session's applicationId, first dropping a previous session's
    entries and staging dir."""
    global _app_id, _staging
    app_id = spark.sparkContext.applicationId
    if app_id != _app_id:
        _cache.clear()
        if _staging is not None:
            _staging.cleanup()
            _staging = None
        _app_id = app_id
    return app_id


def staging_dir(spark: SparkSession) -> Path:
    """A scratch directory owned by the current session: created on first
    use, removed when a new session starts or, by the TemporaryDirectory
    finalizer, when the interpreter exits."""
    global _staging
    _enter(spark)
    if _staging is None:
        _staging = tempfile.TemporaryDirectory(
            prefix="img2table_spark_session_", ignore_cleanup_errors=True
        )
    return Path(_staging.name)


def session_artifact(fn):
    """Build ``fn(spark, ...)`` once per session and argument set; later
    calls return the same object. The key is (applicationId, fn, the bound
    arguments after ``spark`` with defaults applied), so positional,
    keyword and defaulted spellings of one call share an entry."""
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, *args, **kwargs):
        bound = sig.bind(spark, *args, **kwargs)
        bound.apply_defaults()
        key = (_enter(spark), fn, tuple(bound.arguments.items())[1:])
        if key not in _cache:
            _cache[key] = fn(spark, *args, **kwargs)
        return _cache[key]

    return wrapper
