"""The FLAGSHIP extraction operator as a Structured Stream.

The batch operator (operators/extract.py) is deliberately stateless — one
salted exchange + one Arrow-batched mapInArrow — so it lifts onto
a file stream unchanged: same kernels, same salting, same error tolerance,
exactly-once output via the parquet sink commit log. This is the
near-line ingestion shape for the north rule's 10¹²-turn table: transcripts
land as files, each micro-batch extracts its slice, ``maxFilesPerTrigger``
bounds per-batch work at any backlog size, and a restart resumes from the
checkpoint with no duplicate output. No watermark is needed because the
operator keeps no state — any arrival order produces the same rows.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from img2table_spark.operators.extract import extract_tables
from img2table_spark.schema import TRANSCRIPT_SCHEMA
from img2table_spark.streaming.io import read_files, start_sink


def stream_extract_tables(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    num_partitions: int | None = None,
) -> StreamingQuery:
    """transcript file stream → extracted-table rows (EXTRACTED_SCHEMA) in an
    exactly-once parquet sink. See module docstring."""
    tr = read_files(spark, TRANSCRIPT_SCHEMA, input_dir, max_files_per_trigger)
    ext = extract_tables(tr, salt=True, num_partitions=num_partitions)
    return start_sink(ext, output_dir, checkpoint_dir)
