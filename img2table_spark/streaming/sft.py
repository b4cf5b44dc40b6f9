"""Streaming SFT-pair assembly — the stateful streaming twin of batch q44.

Transcript turns arrive as a stream (north-rule input shape: conv_id,
turn_idx, role, text, tool, ts); each final-answer assistant turn
(turn_idx % 4 == 3, the corpus's agent-loop convention — batch twin
`queries.q44_sft_pairs`) is emitted as a (prompt, response) training sample
whose prompt is the preceding ≤3 turns rendered "role: text". Turns of one
conversation may land in DIFFERENT micro-batches, so the preceding-turn
buffer must live in keyed state: ``applyInPandasWithState`` keyed by
conv_id.

In-order contract: per-conversation arrival is in turn order (each batch
additionally re-sorts by turn_idx) — the same incremental semantics as the
streaming funnel, matching a time-partitioned ingest.

Bounded state: the buffer NEVER holds more than ``_SFT_CTX`` turns (older
turns are dropped on append — exactly the batch window frame), and whole
conversations are evicted by EventTimeTimeout once the stream watermark
passes their last activity + horizon. State per key is O(ctx · turn size),
independent of conversation length or stream duration.

Event time: ``io.with_event_time``.
"""

from __future__ import annotations

import json
from typing import Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

from img2table_spark.queries import _SFT_CTX  # context turns per prompt
from img2table_spark.streaming.io import (
    _ANCHOR_EPOCH_MS,
    read_files,
    start_sink,
    with_event_time,
)

TRANSCRIPT_STREAM_SCHEMA = (
    "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, "
    "ts TIMESTAMP_NTZ"
)

_HORIZON_US = 24 * 3_600 * 1_000_000  # conversation eviction horizon

_SFT_OUT = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", LongType()),
        StructField("n_ctx_turns", LongType()),
        StructField("prompt", StringType()),
        StructField("response", StringType()),
    ]
)
# buf: JSON [[turn_idx, "role: text"], ...] (≤ _SFT_CTX entries);
# last_us: latest event time seen for the timeout arm
_SFT_STATE = StructType(
    [StructField("buf", StringType()), StructField("last_us", LongType())]
)


def _sft_fn(
    key: Tuple[str], batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        state.remove()
        return
    buf_json, last_us = state.get if state.exists else ("[]", 0)
    buf = json.loads(buf_json)
    out: list[dict] = []
    for pdf in batches:
        pdf = pdf.sort_values("turn_idx")
        for ti, role, text, us in zip(
            pdf["turn_idx"], pdf["role"], pdf["text"], pdf["us"]
        ):
            ti, us = int(ti), int(us)
            last_us = max(last_us, us)
            if role == "assistant" and ti % 4 == 3:
                ctx = [line for _, line in buf]
                out.append(
                    {
                        "conv_id": key[0],
                        "turn_idx": ti,
                        "n_ctx_turns": len(ctx),
                        "prompt": "\n".join(ctx),
                        "response": text,
                    }
                )
            buf.append((ti, f"{role}: {text}"))
            if len(buf) > _SFT_CTX:
                buf = buf[-_SFT_CTX:]
    if out:
        yield pd.DataFrame(out)
    state.update((json.dumps(buf), last_us))
    state.setTimeoutTimestamp(_ANCHOR_EPOCH_MS + (last_us + _HORIZON_US) // 1000)


def stream_sft_pairs(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """(prompt, response) SFT samples from a transcript stream; parquet
    sink, append mode. See module docstring for semantics."""
    tr = with_event_time(
        read_files(spark, TRANSCRIPT_STREAM_SCHEMA, input_dir, max_files_per_trigger),
        "conv_id",
        "turn_idx",
        "role",
        "text",
    ).withWatermark("wm_ts", watermark)
    pairs = tr.groupBy("conv_id").applyInPandasWithState(
        _sft_fn,
        outputStructType=_SFT_OUT,
        stateStructType=_SFT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return start_sink(pairs, output_dir, checkpoint_dir)
