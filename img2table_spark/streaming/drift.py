"""Streaming token-distribution drift monitor — streaming twin of batch
q108's TVD audit.

Arriving documents explode into hashed-bucket token rows
(``queries._drift_buckets`` — the SAME bucketing batch q108 uses, shared
by import so the feature space cannot drift) and fold into per-(window,
bucket) COUNT rows under a watermarked tumbling window: state per live
window is one row per occupied bucket (≤ 256), never per token — the
q59/histo.py bounded-state class applied to distribution monitoring.
Append mode lands each finalized window's histogram in the lake;
drift evaluation is a batch fold at read time (``tvd_from_bins``):
each window's bucket shares against a REFERENCE distribution (the
training corpus's bucket counts, computed once by batch q108's fold),
total variation distance in ppm with q108's exact integer arithmetic —
so a drift alarm reads one bounded table per window and histograms
from restarts/shards merge by adding counts first.

Documents here carry an event-time column (DOCS_STREAM_SCHEMA, shared
with the lang-ID serve path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.streaming import StreamingQuery

from img2table_spark.streaming.classify import DOCS_STREAM_SCHEMA
from img2table_spark.streaming.io import read_files, start_sink


def _windowed_bins(docs: DataFrame, window: str) -> DataFrame:
    from img2table_spark.queries import _drift_buckets

    return (
        _drift_buckets(docs.select("ts", "text"))
        .groupBy(F.window("ts", window).alias("w"), "bkt")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "bkt",
            "cnt",
        )
    )


def stream_drift_bins(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "5 minutes",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Emit (w_start, w_end, bkt, cnt) finalized token-bucket histogram
    rows — append mode, parquet sink, exactly-once via the sink commit
    log; state per live window is ≤ 256 small rows."""
    docs = read_files(
        spark, DOCS_STREAM_SCHEMA, input_dir, max_files_per_trigger
    ).withWatermark("ts", watermark)
    return start_sink(_windowed_bins(docs, window), output_dir, checkpoint_dir)


def batch_bins_twin(
    spark: SparkSession, input_dir: str, window: str = "10 minutes"
) -> DataFrame:
    """The identical bin derivation on a static read — the stream must
    equal this on closed windows (pinned in tests)."""
    docs = spark.read.schema(DOCS_STREAM_SCHEMA).parquet(input_dir)
    return _windowed_bins(docs, window)


def tvd_from_bins(bins: DataFrame, reference: DataFrame) -> DataFrame:
    """Per-window total variation distance against a reference (bkt,
    cref) distribution, with q108's exact integer arithmetic: shares in
    ppm by floor division, TVD_ppm = Σ|Δshare| div 2. The reference is
    dimension-sized (≤ 256 rows) and every window's fold runs over the
    bounded (windows × 256) grid — merge-safe: same-key bins from
    several streams pre-fold with a SUM."""
    keys = ["w_start", "w_end"]
    folded = bins.groupBy(*keys, "bkt").agg(F.sum("cnt").alias("cnt"))
    # full outer vs the (windows × reference-buckets) grid: reference
    # buckets a window never saw contribute |0 − sr|, window buckets the
    # reference lacks contribute |sw − 0| — q108's full-join semantics
    grid = (
        folded.select(*keys)
        .distinct()
        .crossJoin(F.broadcast(reference.select("bkt", "cref")))
    )
    j = grid.join(folded, [*keys, "bkt"], "full").select(
        *keys,
        "bkt",
        F.coalesce("cref", F.lit(0)).cast("long").alias("cref"),
        F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"),
    )
    w = Window.partitionBy(*keys)
    shares = (
        j.withColumn("tw", F.sum("cnt").over(w))
        .withColumn("tr", F.sum("cref").over(w))
        .select(
            *keys,
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * cnt"
                " div greatest(tw, 1) AS LONG)"
            ).alias("sw"),
            F.expr(
                # greatest(tr, 1): a degenerate empty reference yields 0
                # shares instead of a divide-by-zero NULL, symmetric with
                # the sw arm (ADVICE r5)
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * cref"
                " div greatest(tr, 1) AS LONG)"
            ).alias("sr"),
            "cnt",
        )
    )
    return shares.groupBy(*keys).agg(
        F.sum("cnt").cast("long").alias("n_toks"),
        F.expr("CAST(sum(abs(sw - sr)) div 2 AS LONG)").alias("tvd_ppm"),
    )
