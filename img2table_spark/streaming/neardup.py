"""Streaming MinHash near-dup dedup — the stateful twin of batch q58
(queries.q58_incremental_dedup), closing the r4 verdict gap that
streaming/dedup.py covered exact hashes only.

Shape, in the order the stream executes it:

1. **Per-row band signatures** — a 0-exchange pure map. MinHash is
   duplicate-insensitive (min over a multiset equals min over its set),
   so the batch path's explode → distinct → groupBy collapses to one
   ``array_min`` over the shingle ``transform`` per row, using the SAME
   affine family and md5 base as queries._minhash_bands (the constants
   are imported, not copied — parity can't drift).
2. **Corpus probe (dup_corpus)** — a stream-static LEFT join of the
   row's exploded band keys against the persisted corpus band index
   (the same materialized table batch q58 probes). Static side is
   dimension-shaped per band bucket and broadcast by Catalyst/AQE;
   stateless, so it composes with the stateful stage below.
3. **First-claim registry (dup_batch)** — ``applyInPandasWithState``
   keyed by (band, sig): the lowest doc_id to arrive claims the
   signature; later arrivals on the same key report hit_b = 1. Within a
   micro-batch rows replay sorted by doc_id, matching batch q58's
   min-doc-id-wins rule; across batches the in-order contract is the
   same as streaming/funnel.py (doc ids arrive non-decreasing, the
   production time-partitioned-ingest shape). State per key is ONE long
   and is evicted by EventTimeTimeout once the watermark passes the
   key's last activity + horizon — bounded, never forever.

Per-sig hit rows land in parquet; the per-doc verdict folds at READ time
with q58's precedence (dup_corpus > dup_batch > new) via
``neardup_verdicts`` — the streaming/sketch.py discipline: keep stream
state minimal, fold the final shape at query time. Stream ≡ batch q58 is
pinned by tests/test_streaming_neardup.py.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from img2table_spark.queries import (
    _BAND_ROWS,
    _MH_AB,
    _N_HASHES,
    _mh_affine_long,
)
from img2table_spark.streaming.io import read_files, start_sink

DOC_STREAM_SCHEMA = "doc_id LONG, ts TIMESTAMP, text STRING"

_HORIZON_US = 24 * 3_600 * 1_000_000  # first-claim state eviction horizon

_OUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("in_c", LongType()),
        StructField("hit_b", LongType()),
    ]
)
_STATE = StructType([StructField("first_doc", LongType())])


def _with_bands(df: DataFrame) -> DataFrame:
    """(doc_id, ts, text) → exploded (doc_id, ts, band, sig) via the batch
    affine family, computed entirely per-row: array_min over the shingle
    transform — no explode-then-groupBy, no shuffle."""
    # long-only affine chain shared with the batch index (bit-equal to the
    # old decimal path — see queries._mh_affine_long and its pinned test)
    base = "(cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint))"
    mins = [
        f"array_min(transform(shs, s -> "
        f"{_mh_affine_long(a, b, base_col=base)})) as m{k}"
        for k, (a, b) in enumerate(_MH_AB)
    ]
    structs = ", ".join(
        f"struct(cast({bb} as long) as band, "
        f"concat_ws(',', m{2 * bb}, m{2 * bb + 1}) as sig)"
        for bb in range(_N_HASHES // _BAND_ROWS)
    )
    return (
        df.filter(F.expr("size(split(text, ' ')) >= 3"))
        .withColumn("t", F.split("text", " "))
        .withColumn(
            "shs",
            F.expr(
                "transform(sequence(0, size(t) - 3),"
                " i -> array_join(slice(t, i + 1, 3), ' '))"
            ),
        )
        .selectExpr("doc_id", "ts", *mins)
        .selectExpr("doc_id", "ts", f"explode(array({structs})) as bs")
        .select(
            "doc_id",
            "ts",
            F.col("bs.band").alias("band"),
            F.col("bs.sig").alias("sig"),
        )
    )


def _claim_fn(
    key: Tuple[int, str], batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        state.remove()
        return
    first = state.get[0] if state.exists else None
    out_doc, out_inc, out_hit = [], [], []
    last_us = 0
    for pdf in batches:
        pdf = pdf.sort_values("doc_id")
        for doc_id, in_c, us in zip(pdf["doc_id"], pdf["in_c"], pdf["us"]):
            doc_id = int(doc_id)
            last_us = max(last_us, int(us))
            hit = 1 if (first is not None and first < doc_id) else 0
            if first is None:
                first = doc_id
            out_doc.append(doc_id)
            out_inc.append(int(in_c))
            out_hit.append(hit)
    if out_doc:
        yield pd.DataFrame({"doc_id": out_doc, "in_c": out_inc, "hit_b": out_hit})
    state.update((int(first),))
    state.setTimeoutTimestamp((last_us + _HORIZON_US) // 1000)


def stream_neardup_dedup(
    spark: SparkSession,
    input_dir: str,
    corpus_bands: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    max_files_per_trigger: "int | None" = None,
) -> StreamingQuery:
    """Incremental near-dup verdicts over a document stream: probe the
    static corpus band index, then claim band signatures first-come
    within the stream. Per-sig rows land in parquet; fold per-doc
    verdicts with ``neardup_verdicts``. See module docstring."""
    docs = read_files(spark, DOC_STREAM_SCHEMA, input_dir, max_files_per_trigger)
    banded = _with_bands(docs).withColumn("us", F.unix_micros("ts"))
    corpus_keys = corpus_bands.select("band", "sig").distinct().withColumn(
        "in_corpus", F.lit(1)
    )
    probed = banded.join(corpus_keys, ["band", "sig"], "left_outer").select(
        "band",
        "sig",
        "doc_id",
        "ts",
        "us",
        F.coalesce("in_corpus", F.lit(0)).alias("in_c"),
    )
    # the watermark is declared on the column as it reaches the stateful
    # operator — declaring it at the source gets dropped across the
    # stream-static join and EventTimeTimeout then refuses to bind
    claimed = probed.withWatermark("ts", watermark).groupBy(
        "band", "sig"
    ).applyInPandasWithState(
        _claim_fn,
        outputStructType=_OUT,
        stateStructType=_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return start_sink(claimed, output_dir, checkpoint_dir)


def neardup_verdicts(spark: SparkSession, output_dir: str) -> DataFrame:
    """Fold the per-sig hit rows into per-doc verdicts with batch q58's
    precedence: any corpus hit → dup_corpus, else any earlier stream
    claim → dup_batch, else new."""
    rows = spark.read.parquet(output_dir)
    return (
        rows.groupBy("doc_id")
        .agg(F.max("in_c").alias("hit_c"), F.max("hit_b").alias("hit_b"))
        .select(
            "doc_id",
            F.when(F.col("hit_c") == 1, F.lit("dup_corpus"))
            .when(F.col("hit_b") == 1, F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
        )
    )
