"""Streaming count-min sketch — streaming twin of batch q55.

Count-min cells as a WATERMARKED TUMBLING-WINDOW streaming aggregation:
each micro-batch folds its events into per-(window, r, bucket) COUNT rows —
count is commutative/associative, so the streaming state per live window is
at most d×w = 4096 small integers no matter how many events or distinct
users flow through, and append mode emits each finalized window's cell file
exactly once when the watermark passes. The cells land in the lake; any
key's frequency ESTIMATE is a cheap batch fold (min over its d cells,
``estimate_keys``) using exactly q55's md5 + affine bucket family — the
production "sketch now, query heavy hitters later" shape, and the streaming
replacement for a per-user COUNT(*) GROUP BY (whose state grows with the
number of distinct users; the sketch's does not).

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

_CMS_KEY = "cast(user_id as string)"


def _cell_cols() -> list:
    """q55's bucket family over the stream key (ONE md5 + affine picks)."""
    from img2table_spark.queries import _CMS_D, _cms_bucket_cols

    bucket_exprs = _cms_bucket_cols(_CMS_KEY)
    return [
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("r"),
                        bucket_exprs[r].alias("bucket"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("cell")
    ]


def _windowed_cells(ev: DataFrame, window: str) -> DataFrame:
    return (
        ev.select("user_id", "wm_ts")
        .select("wm_ts", *_cell_cols())
        .groupBy(F.window("wm_ts", window).alias("w"), "cell.r", "cell.bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "r",
            "bucket",
            "cnt",
        )
    )


def stream_cms_cells(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Emit (w_start, w_end, r, bucket, cnt) finalized count-min cells —
    append mode, parquet sink, exactly-once via the sink commit log;
    state is ≤ d·w = 4096 cells per live window."""
    ev = with_event_time(
        read_files(spark, EVENTS_STREAM_SCHEMA, input_dir, max_files_per_trigger),
        "user_id",
    ).withWatermark("wm_ts", watermark)
    return start_sink(_windowed_cells(ev, window), output_dir, checkpoint_dir)


def batch_cells_twin(
    spark: SparkSession, input_dir: str, window: str = "1 hour"
) -> DataFrame:
    """The identical cell derivation on the static table — the stream must
    equal this on finalized windows (pinned in tests)."""
    ev = with_event_time(
        spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(input_dir), "user_id"
    )
    return _windowed_cells(ev, window)


def estimate_keys(cells: DataFrame, keys: DataFrame) -> DataFrame:
    """Estimate each key's per-window event count from the sketch: min over
    its d cells (CMS guarantee: est ≥ exact, equality unless buckets
    collide). ``keys`` carries one ``user_id`` column; the probe side is
    small by construction and broadcasts against the ≤ 4096-row cell table."""
    from img2table_spark.queries import _CMS_D, _cms_bucket_cols

    bucket_exprs = _cms_bucket_cols(_CMS_KEY)
    probe = keys.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("r"),
                        bucket_exprs[r].alias("bucket"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("cell"),
    ).select("user_id", "cell.r", "cell.bucket")
    return (
        F.broadcast(probe)
        .join(cells, ["r", "bucket"])
        .groupBy("w_start", "w_end", "user_id")
        .agg(F.min("cnt").alias("est"))
    )
