"""Streaming distinct-count sketch — streaming twin of batch q56.

LogLog registers as a WATERMARKED TUMBLING-WINDOW streaming aggregation:
each micro-batch folds its users into per-(window, event_type, register)
MAX(rho) rows — max is commutative/associative, so the streaming state per
group is exactly 64 small integers no matter how many events or distinct
users flow through, and append mode emits each finalized window's register
file exactly once when the watermark passes. The registers land in the
lake; the cardinality ESTIMATE is a cheap batch fold over ≤ 64 rows per
group (``fold_registers``) using the same integer-only Durand–Flajolet +
linear-counting arithmetic as batch q56 — the production "sketch now,
estimate at query time" shape, and the streaming replacement for
COUNT(DISTINCT) (which Structured Streaming cannot express incrementally
without unbounded state).

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

# Mirrors queries.q56 (imported lazily there to keep this module
# import-light; equality of the derivations is pinned in
# tests/test_streaming_sketch.py against an independent Python md5).
_HLL_M = 64
_HLL_RHO = (
    "cast(55 - length(bin(h div 64)) as int)"
)
_HLL_H = (
    "cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) "
    "as bigint)"
)


def _registers(ev: DataFrame, window: str) -> DataFrame:
    return (
        ev.withColumn("h", F.expr(_HLL_H))
        .select(
            ev["*"],
            (F.col("h") % _HLL_M).alias("idx"),
            F.expr(_HLL_RHO).alias("rho"),
        )
        .groupBy(F.window("wm_ts", window).alias("w"), "event_type", "idx")
        .agg(F.max("rho").alias("m"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "idx",
            "m",
        )
    )


def stream_distinct_sketch(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Emit (w_start, w_end, event_type, idx, m) finalized LogLog register
    rows — append mode, parquet sink, exactly-once via the sink commit
    log; state is ≤ 64 registers per live (window, event_type)."""
    ev = with_event_time(
        read_files(spark, EVENTS_STREAM_SCHEMA, input_dir, max_files_per_trigger),
        "event_type",
        "user_id",
    ).withWatermark("wm_ts", watermark)
    return start_sink(_registers(ev, window), output_dir, checkpoint_dir)


def batch_registers_twin(
    spark: SparkSession, input_dir: str, window: str = "1 hour"
) -> DataFrame:
    """The identical register derivation on the static table — the stream
    must equal this on finalized windows (pinned in tests)."""
    ev = with_event_time(
        spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(input_dir),
        "event_type",
        "user_id",
    )
    return _registers(ev, window)


def fold_registers(regs: DataFrame) -> DataFrame:
    """Fold register rows into the per-(window, event_type) cardinality
    estimate with q56's integer-only arithmetic (raw LogLog + precomputed
    linear-counting table for the small range)."""
    from img2table_spark.queries import _HLL_LC_CASE, _HLL_TWO55

    sk = regs.groupBy("w_start", "w_end", "event_type").agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), cast(55 - m as int))"))
        .cast("decimal(38,0)")
        .alias("s_present"),
        F.count("*").alias("n_regs"),
    )
    return sk.select(
        "w_start",
        "w_end",
        "event_type",
        F.expr(
            f"cast(cast(709 as decimal(38,0)) * {_HLL_M * _HLL_M} * "
            f"{_HLL_TWO55} div (1000 * (s_present + "
            f"({_HLL_M} - n_regs) * cast({_HLL_TWO55} as decimal(38,0)))) "
            "as bigint)"
        ).alias("raw_est"),
        (F.lit(_HLL_M) - F.col("n_regs")).cast("long").alias("n_zero"),
    ).select(
        "w_start",
        "w_end",
        "event_type",
        F.expr(
            f"cast(CASE WHEN n_zero > 0 AND raw_est < {5 * _HLL_M // 2} "
            f"THEN {_HLL_LC_CASE} ELSE raw_est END as bigint)"
        ).alias("est_distinct"),
    )
