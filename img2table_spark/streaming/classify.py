"""Streaming language classification — the SERVE path of batch q101.

Train-batch → serve-stream, the production lang-ID shape: the bounded
(≤ 256-row) hashed-trigram Naive-Bayes profile table is trained once by
the batch job (``queries._lid_profiles``) and handed to the stream as a
static DataFrame; arriving documents explode into trigram rows
(``queries._lid_trigrams`` — the SAME derivation batch q101 runs, shared
by import so the hashing/scoring arithmetic cannot drift), join the
BROADCAST profile statelessly, and fold to one integer-ppm score row per
document inside a watermarked tumbling window. Append mode emits each
document's argmax language exactly once when its window closes — state
per live window is one score row per document in flight (bounded by the
watermark horizon × arrival rate), never per trigram.

Documents shorter than 3 characters produce no trigrams and are not
classified (batch q101 scores them 0 and predicts the first label;
a serve path has no business labelling empty strings — documented
carve-out, the twin test streams only classifiable docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from img2table_spark.streaming.io import read_files, start_sink

DOCS_STREAM_SCHEMA = "doc_id LONG, ts TIMESTAMP, lang STRING, text STRING"


def _classified(docs: DataFrame, profiles: DataFrame, window: str) -> DataFrame:
    from img2table_spark.queries import (
        _lid_pred_case,
        _lid_scores,
        _lid_trigrams,
    )

    tri = _lid_trigrams(docs)
    sc = _lid_scores(
        tri, profiles, [F.window("ts", window).alias("w"), "doc_id", "lang"]
    )
    return sc.select(
        F.col("w.start").alias("w_start"),
        F.col("w.end").alias("w_end"),
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.expr(_lid_pred_case()).alias("pred_lang"),
    )


def stream_classify_langs(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    profiles: DataFrame,
    window: str = "10 minutes",
    watermark: str = "5 minutes",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Classify a document stream against the batch-trained profile table;
    emit (w_start, w_end, doc_id, true_lang, pred_lang) rows append-mode,
    exactly-once via the parquet sink commit log."""
    docs = read_files(
        spark, DOCS_STREAM_SCHEMA, input_dir, max_files_per_trigger
    ).withWatermark("ts", watermark)
    return start_sink(_classified(docs, profiles, window), output_dir, checkpoint_dir)


def batch_classify_twin(
    spark: SparkSession,
    input_dir: str,
    profiles: DataFrame,
    window: str = "10 minutes",
) -> DataFrame:
    """The identical classification on a static read — the stream must
    equal this on closed windows (pinned in tests)."""
    docs = spark.read.schema(DOCS_STREAM_SCHEMA).parquet(input_dir)
    return _classified(docs, profiles, window)
