"""Streaming event-rate anomaly detection — streaming twin of batch q103.

Hourly per-event_type counts as a WATERMARKED TUMBLING-WINDOW streaming
aggregation: each micro-batch folds its events into per-(hour, type)
COUNT rows, so state per live window is one small row per active event
type — never per event (the q59→histo.py discipline applied to the
telemetry screen). Append mode emits each finalized hour's count row
exactly once when the watermark passes; the counts land in the lake and
the robust median ± 3·MAD flag evaluation is a cheap batch fold at read
time over the bounded hourly table — the SAME fold batch q103 runs
(``img2table_spark.queries._rate_flags``, shared by import so the flag
arithmetic cannot drift), pinned stream ≡ batch in tests.

Splitting count emission from flag evaluation is the production shape:
the median/MAD of a type's rate distribution is only meaningful over a
trailing population of closed hours, so the stream maintains the cheap
mergeable state (counts from different streams or restarts fold with a
SUM — ``anomalies_from_counts`` pre-folds exactly that way) and the
detector re-reads the bounded count table at whatever cadence ops wants.

Event time: ``io.with_event_time``. The emitted hour_bucket is the SAME
integer hour index batch q103 derives (micros-since-anchor div
3600000000), so streamed counts join/compare against batch tables
directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from img2table_spark.streaming.io import (
    _ANCHOR_EPOCH_MS,
    EVENTS_STREAM_SCHEMA,
    read_files,
    start_sink,
    with_event_time,
)


def _windowed_counts(ev: DataFrame) -> DataFrame:
    return (
        ev.groupBy(F.window("wm_ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            F.expr(
                f"(unix_micros(w.start) - {_ANCHOR_EPOCH_MS} * 1000)"
                " div 3600000000"
            ).alias("hb"),
            "event_type",
            "n",
        )
    )


def stream_hour_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Emit (hb, event_type, n) finalized hourly count rows — append mode,
    parquet sink, exactly-once via the sink commit log; state per live
    hour is one row per active event type."""
    ev = with_event_time(
        read_files(spark, EVENTS_STREAM_SCHEMA, input_dir, max_files_per_trigger),
        "event_type",
    ).withWatermark("wm_ts", watermark)
    return start_sink(_windowed_counts(ev), output_dir, checkpoint_dir)


def anomalies_from_counts(counts: DataFrame) -> DataFrame:
    """Run batch q103's EXACT flag fold (shared ``_rate_flags``) over the
    stream's emitted count table. The pre-fold SUM makes the read
    merge-safe: counts for the same (event_type, hb) key arriving from
    several streams/shards fold by addition before the median/MAD
    windows, which then run over the bounded hourly table only."""
    from img2table_spark.queries import _rate_flags

    cnt = (
        counts.groupBy("event_type", "hb")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    return _rate_flags(cnt)
