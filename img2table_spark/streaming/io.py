"""The one streaming source and sink for every twin in this package.

A twin is the streaming version of a batch query. Each one reads a file
stream (``read_files``), derives its rows, and hands them to one sink.
``start_sink`` is the only exactly-once path: parquet files, a checkpoint,
append mode and the ``availableNow`` trigger, so a run drains the backlog
present at start, commits, and stops; a restart on the same checkpoint
reads only files that arrived since. ``start_memory_sink`` is the bounded
in-memory test harness under the same trigger.

Event-time streams rebuild their event time with ``with_event_time``; the
batch twins call it too, so stream and batch derive identical columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

EVENTS_STREAM_SCHEMA = (
    "event_id LONG, ts TIMESTAMP_NTZ, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)

# same anchor as queries._EV_US_SPARK (duplicated to keep streaming modules
# import-light; pinned equal in tests/test_streaming_funnel.py)
_EV_US = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
_ANCHOR_EPOCH_MS = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC


def read_files(
    spark: SparkSession,
    schema: str,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet file stream over ``input_dir``. ``max_files_per_trigger``
    caps how many files one micro-batch ingests, which bounds per-batch
    work and state at any backlog size."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def start_sink(df: DataFrame, output_dir: str, checkpoint_dir: str) -> StreamingQuery:
    """Start the exactly-once parquet sink: append mode, progress and sink
    commits under ``checkpoint_dir``, drain what is available now, stop."""
    return (
        df.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_memory_sink(df: DataFrame, query_name: str, output_mode: str) -> StreamingQuery:
    """Start an in-memory sink readable as table ``query_name``, under the
    same trigger as ``start_sink``. For bounded test harnesses only: it
    keeps no checkpoint, so it is not restartable."""
    return (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def with_event_time(df: DataFrame, *cols: str) -> DataFrame:
    """Select ``cols`` plus the event time of ``ts``: ``us`` (integer
    micros since 2024-01-01) and ``wm_ts`` (a TIMESTAMP for watermarks
    and windows).

    ``ts`` is TIMESTAMP_NTZ, which Spark refuses as an event-time column
    and whose epoch extraction is banned. An anchored ``timestampdiff``
    gives the micros portably (the same expression batch queries use), and
    ``timestamp_micros`` rebuilds a real TIMESTAMP from them. Both are
    epoch-defined, so neither depends on the session time zone, unlike a
    cast."""
    return df.select(*cols, F.expr(_EV_US).alias("us")).withColumn(
        "wm_ts", F.expr(f"timestamp_micros(us + {_ANCHOR_EPOCH_MS} * 1000)")
    )
