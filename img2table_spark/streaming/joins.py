"""Watermarked stream-stream interval join — streaming twin of batch q30.

The one Structured Streaming capability the suite didn't yet exercise:
joining TWO live streams on a key + event-time range (click attribution —
each click joined to the error it follows within one hour for the same
user). Both sides carry watermarks and the join condition bounds the
event-time distance, so Spark can evict buffered rows once the watermark
passes: state per side is the watermark horizon's worth of rows, never the
full history — the production shape for funnels/attribution at any ingest
rate. Append mode emits each matched pair exactly once.

Batch q30 buckets the same semantics for bounded fan-out at rest; the
streaming side leans on the state store's symmetric hash join instead —
same answer, different engine strategy, equality pinned in tests on
closed (watermark-finalized) intervals.

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


def _sides(ev: DataFrame, watermark: str) -> tuple[DataFrame, DataFrame]:
    ev = with_event_time(ev, "event_id", "user_id", "event_type")
    err = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("err_user"),
            F.col("wm_ts").alias("err_ts"),
        )
        .withWatermark("err_ts", watermark)
    )
    clk = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("clk_user"),
            F.col("wm_ts").alias("clk_ts"),
        )
        .withWatermark("clk_ts", watermark)
    )
    return err, clk


_JOIN_COND = (
    "err_user = clk_user AND clk_ts > err_ts "
    "AND clk_ts <= err_ts + INTERVAL 1 HOUR"
)


def stream_attribution_join(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Emit (error_id, user_id, click_id, err_ts, clk_ts) for every click
    within one hour after an error by the same user — stream-stream inner
    join, append mode, parquet sink."""
    ev = read_files(spark, EVENTS_STREAM_SCHEMA, input_dir, max_files_per_trigger)
    err, clk = _sides(ev, watermark)
    pairs = err.join(clk, F.expr(_JOIN_COND), "inner").select(
        "error_id",
        F.col("err_user").alias("user_id"),
        "click_id",
        "err_ts",
        "clk_ts",
    )
    return start_sink(pairs, output_dir, checkpoint_dir)


def batch_attribution_twin(spark: SparkSession, input_dir: str) -> DataFrame:
    """The identical interval join on the static table — the stream must
    equal this on closed intervals (withWatermark is a no-op in batch)."""
    ev = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(input_dir)
    err, clk = _sides(ev, "30 minutes")
    return err.join(clk, F.expr(_JOIN_COND), "inner").select(
        "error_id",
        F.col("err_user").alias("user_id"),
        "click_id",
        "err_ts",
        "clk_ts",
    )
