"""Streaming CDC → SCD2 compaction — stateful twin of batch q90.

A change-data-capture feed of per-key attribute observations
(doc_id, ver, val) is compacted online: consecutive repeats are dropped
and every attribute CHANGE closes the previous effective-dated interval.
Closed SCD2 rows (doc_id, val, valid_from, valid_to, is_current=0) are
emitted in append mode the moment the closing observation arrives; the
OPEN (current) interval is exactly the per-key state — which is the same
thing a warehouse CDC merge holds as "the current dimension row", so
state is inherently one tuple per live key, never growing with stream
length. Stream ≡ batch q90 on closed intervals (the joins.py
closed-interval discipline); the open rows are reconstructable from
state at any cutoff and are pinned against the batch is_current=1 rows
in the test by replaying the full log.

In-order contract: per-key versions arrive in version order (the CDC log
property — a log that can reorder versions of one key is not a log).
Batches replay sorted by ver, and cross-batch arrival is per-key ordered;
the equality test feeds version-sliced files sequentially, matching a
time-partitioned CDC ingest.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from img2table_spark.streaming.io import read_files, start_sink

CHANGELOG_STREAM_SCHEMA = "doc_id LONG, ver LONG, val LONG"

_SCD_OUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("val", LongType()),
        StructField("valid_from", LongType()),
        StructField("valid_to", LongType()),
        StructField("is_current", LongType()),
    ]
)
# the current dimension row: (cur_val, cur_from)
_SCD_STATE = StructType(
    [StructField("cur_val", LongType()), StructField("cur_from", LongType())]
)


def _scd_fn(
    key: Tuple[int], batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    cur_val, cur_from = state.get if state.exists else (None, None)
    out: list = []
    for pdf in batches:
        pdf = pdf.sort_values("ver")
        for ver, val in zip(pdf["ver"], pdf["val"]):
            ver, val = int(ver), int(val)
            if cur_val is None:
                cur_val, cur_from = val, ver
            elif val != cur_val:
                out.append((int(key[0]), cur_val, cur_from, ver - 1, 0))
                cur_val, cur_from = val, ver
            # val == cur_val → consecutive repeat, compacted away
    state.update((cur_val, cur_from))
    if out:
        yield pd.DataFrame(
            out,
            columns=["doc_id", "val", "valid_from", "valid_to", "is_current"],
        )


def stream_scd2(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Compact a CDC changelog stream into closed SCD2 interval rows.

    See module docstring; open intervals live in the per-key state."""
    log = read_files(spark, CHANGELOG_STREAM_SCHEMA, input_dir)
    closed = log.groupBy("doc_id").applyInPandasWithState(
        _scd_fn,
        outputStructType=_SCD_OUT,
        stateStructType=_SCD_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return start_sink(closed, output_dir, checkpoint_dir)
