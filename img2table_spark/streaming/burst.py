"""Streaming sliding-window burst detection — streaming twin of batch q52.

The one canonical Structured Streaming window shape the suite didn't yet
exercise: a SLIDING event-time window (``F.window(ts, window, slide)``).
Each event lands in window/slide overlapping windows; a (user, window)
whose event count reaches the threshold is a rate-limit breach, emitted
exactly once in append mode when the watermark passes the window end.

State is bounded by construction: live state is (active windows × users
seen within them), and the watermark retires windows as event time
advances — the production shape for abuse/rate-limit detection at any
ingest rate.

Event time: ``io.with_event_time``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from img2table_spark.streaming.io import (
    EVENTS_STREAM_SCHEMA,
    read_files,
    start_sink,
    with_event_time,
)


def _breaches(ev: DataFrame, window: str, slide: str, threshold: int) -> DataFrame:
    return (
        ev.groupBy("user_id", F.window("wm_ts", window, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .filter(F.col("n_events") >= threshold)
        .select(
            "user_id",
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "n_events",
        )
    )


def stream_burst(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    slide: str = "30 minutes",
    threshold: int = 5,
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Emit (user_id, w_start, w_end, n_events) for every sliding window in
    which a user's event count reached ``threshold`` — append mode, parquet
    sink, exactly-once via the sink commit log."""
    ev = with_event_time(
        read_files(spark, EVENTS_STREAM_SCHEMA, input_dir, max_files_per_trigger),
        "user_id",
    ).withWatermark("wm_ts", watermark)
    return start_sink(_breaches(ev, window, slide, threshold), output_dir, checkpoint_dir)


def batch_burst_twin(
    spark: SparkSession,
    input_dir: str,
    window: str = "1 hour",
    slide: str = "30 minutes",
    threshold: int = 5,
) -> DataFrame:
    """The identical aggregation on the static table — the stream must
    equal this on finalized windows (equality pinned in tests)."""
    ev = with_event_time(
        spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(input_dir), "user_id"
    )
    return _breaches(ev, window, slide, threshold)
