"""Streaming training-data ops: exact dedup and windowed stats over a
transcript/document stream.

Three shapes, matching the batch queries they mirror (q07/q19):

- ``stream_dedup_exact``  — built-in ``dropDuplicatesWithinWatermark`` on
  the payload hash: state is bounded by the watermark (at 10^12-turn scale
  unbounded dedup state is not an option; the watermark IS the dedup
  horizon, which is how production near-line dedup works).
- ``stream_first_seen``   — the same semantic as a CUSTOM stateful operator
  via ``applyInPandasWithState`` (the escape hatch for operators Spark
  lacks): keyed by hash, state = "seen", emits only a key's first row.
  Unbounded state variant for when the horizon must be exact.
- ``stream_token_window`` — watermarked tumbling-window token statistics
  (the per-window corpus telemetry a training pipeline tracks).
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from img2table_spark.schema import TRANSCRIPT_SCHEMA
from img2table_spark.streaming.io import read_files, start_memory_sink, start_sink


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
) -> StreamingQuery:
    """Keep the first turn per exact payload hash within the watermark
    horizon; duplicates arriving later than the watermark are not tracked
    (bounded state by design)."""
    tr = read_files(spark, TRANSCRIPT_SCHEMA, input_dir)
    deduped = (
        tr.withColumn("text_hash", F.md5(F.coalesce("text", F.lit(""))))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )
    return start_sink(deduped, output_dir, checkpoint_dir)


_FIRST_SEEN_SCHEMA = StructType(
    [
        StructField("text_hash", StringType()),
        StructField("conv_id", StringType()),
        StructField("turn_idx", LongType()),
        StructField("ts", TimestampType()),
    ]
)
_FIRST_SEEN_STATE = StructType([StructField("seen", LongType())])


def _first_seen_fn(
    key: Tuple[str], batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        return
    best = None
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "conv_id", "turn_idx"]).head(1)
        if best is None or (
            pdf.iloc[0]["ts"],
            pdf.iloc[0]["conv_id"],
            int(pdf.iloc[0]["turn_idx"]),
        ) < (best.iloc[0]["ts"], best.iloc[0]["conv_id"], int(best.iloc[0]["turn_idx"])):
            best = pdf
    state.update((1,))
    if best is not None:
        yield pd.DataFrame(
            {
                "text_hash": [key[0]],
                "conv_id": [best.iloc[0]["conv_id"]],
                "turn_idx": [int(best.iloc[0]["turn_idx"])],
                "ts": [best.iloc[0]["ts"]],
            }
        )


def stream_first_seen(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Custom stateful exact-dedup: applyInPandasWithState keyed by payload
    hash; per key the state records "seen" and only the first (ts, conv_id,
    turn_idx)-ordered row is emitted. Exact horizon, state grows with
    distinct keys — the trade the built-in watermark variant avoids."""
    tr = read_files(spark, TRANSCRIPT_SCHEMA, input_dir)
    keyed = tr.withColumn("text_hash", F.md5(F.coalesce("text", F.lit("")))).select(
        "text_hash", "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"), "ts"
    )
    firsts = keyed.groupBy("text_hash").applyInPandasWithState(
        _first_seen_fn,
        outputStructType=_FIRST_SEEN_SCHEMA,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return start_sink(firsts, output_dir, checkpoint_dir)


def stream_token_window(
    spark: SparkSession,
    input_dir: str,
    query_name: str,
    watermark: str = "10 minutes",
    window: str = "10 minutes",
) -> StreamingQuery:
    """Tumbling-window corpus telemetry (rows, whitespace tokens, chars) to
    an in-memory sink (update mode) — the windowed-agg + watermark shape for
    late data the north brief asks for."""
    tr = read_files(spark, TRANSCRIPT_SCHEMA, input_dir)
    agg = (
        tr.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.size(F.split(F.coalesce("text", F.lit("")), " "))).alias("n_ws_tokens"),
            F.sum(F.length(F.coalesce("text", F.lit("")))).alias("n_chars"),
        )
        .select(F.col("w.start").alias("w_start"), "n_turns", "n_ws_tokens", "n_chars")
    )
    return start_memory_sink(agg, query_name, "update")
