"""Streaming histogram quantiles — streaming twin of batch q59.

Unit-width value bins as a WATERMARKED TUMBLING-WINDOW streaming
aggregation: each micro-batch folds its events into per-(window,
event_type, bin) COUNT rows. Count is commutative/associative, so the
state per live window is bounded by the number of DISTINCT occupied bins
(the value range), never by the event count — the streaming replacement
for "sort every event to rank a percentile", exactly as batch q59 is the
scale replacement for batch q57's exact sort. Append mode emits each
finalized window's bin file exactly once when the watermark passes; the
bins land in the lake and any percentile is a cheap batch fold
(``quantiles_from_bins``) that walks the CDF with q57's integer rank
arithmetic ((p·n + 99) div 100) — so a quantile read over the stream's
output equals batch q59 on the same closed window (pinned in tests), and
histograms from different windows/streams merge by adding counts.

Event time: ``io.with_event_time``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.streaming import StreamingQuery

from img2table_spark.streaming.io import (
    EVENTS_STREAM_SCHEMA,
    read_files,
    start_sink,
    with_event_time,
)


def _windowed_bins(ev: DataFrame, window: str) -> DataFrame:
    return (
        ev.select("event_type", "value", "wm_ts")
        .groupBy(
            F.window("wm_ts", window).alias("w"),
            "event_type",
            F.floor("value").cast("long").alias("bin"),
        )
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "bin",
            "cnt",
        )
    )


def stream_histogram_bins(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Emit (w_start, w_end, event_type, bin, cnt) finalized unit-bin
    histogram rows — append mode, parquet sink, exactly-once via the sink
    commit log; state per live window is one small row per occupied bin."""
    ev = with_event_time(
        read_files(spark, EVENTS_STREAM_SCHEMA, input_dir, max_files_per_trigger),
        "event_type",
        "value",
    ).withWatermark("wm_ts", watermark)
    return start_sink(_windowed_bins(ev, window), output_dir, checkpoint_dir)


def batch_bins_twin(
    spark: SparkSession, input_dir: str, window: str = "1 hour"
) -> DataFrame:
    """The identical bin derivation on the static table — the stream must
    equal this on finalized windows (pinned in tests)."""
    ev = with_event_time(
        spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(input_dir), "event_type", "value"
    )
    return _windowed_bins(ev, window)


def quantiles_from_bins(
    bins: DataFrame, pcts: tuple = (50, 90, 99)
) -> DataFrame:
    """Walk each (window, event_type) histogram's CDF with q57/q59's exact
    integer rank arithmetic: p-th percentile = first bin whose cumulative
    count reaches (p·n + 99) div 100. The cumulative window runs over the
    bounded per-group bin table (one row per occupied unit bin), never
    over events; merged histograms (same key from several streams) fold
    with a prior SUM(cnt) GROUP BY without changing this read."""
    keys = ["w_start", "w_end", "event_type"]
    w = Window.partitionBy(*keys).orderBy("bin")
    wall = Window.partitionBy(*keys)
    cum = bins.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(wall)
    )
    aggs = [
        F.min(
            F.when(F.expr(f"cum >= ({p} * n + 99) div 100"), F.col("bin"))
        ).alias(f"p{p}_bin")
        for p in pcts
    ]
    return cum.groupBy(*keys).agg(
        F.max("n").cast("long").alias("n_events"), *aggs
    )
