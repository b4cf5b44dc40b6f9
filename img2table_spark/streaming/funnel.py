"""Streaming sequential-funnel state machine — the custom stateful operator
showcase (``applyInPandasWithState``), streaming twin of batch q36.

Keyed by user_id; state = the earliest (view, click-after-view,
purchase-after-click) transition times in integer microseconds. A user's
row is emitted EXACTLY ONCE, in the micro-batch where the purchase
transition completes; transitions may span any number of micro-batches
(that is the point of keeping state).

Event time: ``io.with_event_time``.

In-order contract: each batch's rows replay sorted by event time, and
cross-batch arrival is assumed per-user in-order — the standard incremental
funnel semantics (a view arriving after a later click was consumed cannot
retroactively reorder committed transitions). The equality-vs-batch test
feeds time-ordered files, matching a production time-partitioned ingest.

Bounded state: EventTimeTimeout + the stream watermark — every update arms
a timeout at (user's last event time + horizon); once the watermark passes
it the user's state is evicted, complete or not. Incomplete users therefore
occupy state only for `horizon` of event time, never forever.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from img2table_spark.streaming.io import (
    _ANCHOR_EPOCH_MS,
    EVENTS_STREAM_SCHEMA,
    read_files,
    start_sink,
    with_event_time,
)

_FUNNEL_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("t_view", LongType()),
        StructField("t_click", LongType()),
        StructField("t_purchase", LongType()),
    ]
)
# (t_view, t_click, t_purchase, emitted) — -1 = transition not reached
_FUNNEL_STATE = StructType(
    [
        StructField("v", LongType()),
        StructField("c", LongType()),
        StructField("p", LongType()),
        StructField("emitted", LongType()),
    ]
)

_HORIZON_US = 24 * 3_600 * 1_000_000  # state eviction horizon (1 day)


def _funnel_fn(
    key: Tuple[int], batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        state.remove()
        return
    v, c, p, emitted = state.get if state.exists else (-1, -1, -1, 0)
    last_us = max(v, c, p)
    for pdf in batches:
        pdf = pdf.sort_values("us")
        for et, us in zip(pdf["event_type"], pdf["us"]):
            us = int(us)
            last_us = max(last_us, us)
            if v < 0:
                if et == "view":
                    v = us
            elif c < 0:
                if et == "click" and us > v:
                    c = us
            elif p < 0:
                if et == "purchase" and us > c:
                    p = us
    if p >= 0 and not emitted:
        emitted = 1
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "t_view": [v],
                "t_click": [c],
                "t_purchase": [p],
            }
        )
    state.update((v, c, p, emitted))
    # evict once the watermark passes the user's last activity + horizon
    state.setTimeoutTimestamp(
        _ANCHOR_EPOCH_MS + (last_us + _HORIZON_US) // 1000
    )


def stream_funnel(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> StreamingQuery:
    """view → click → purchase funnel over an event stream; one output row
    per user, at completion time. See module docstring for semantics."""
    ev = (
        with_event_time(
            read_files(spark, EVENTS_STREAM_SCHEMA, input_dir), "user_id", "event_type"
        )
        .withWatermark("wm_ts", watermark)
        .filter(F.col("event_type").isin("view", "click", "purchase"))
    )
    completed = ev.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=_FUNNEL_OUT,
        stateStructType=_FUNNEL_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return start_sink(completed, output_dir, checkpoint_dir)
