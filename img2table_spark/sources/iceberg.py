"""Iceberg-aware table IO (north_rule: "Iceberg tables of multi-turn
transcripts").

The engine addresses tables by REFERENCE: a dotted identifier
(``catalog.db.transcripts``) resolves through the session catalog — on a
cluster with the Iceberg runtime configured that IS an Iceberg table, and
every reader/writer below uses the catalog API (`spark.read.table`,
`df.writeTo(...).overwritePartitions()`), which maps to Iceberg's atomic
snapshot commits. A path-like reference falls back to parquet files — the
only mode this sandbox can execute (no Iceberg jars baked in), and the mode
all tests run. The pipeline's own manifests/resume layer is format-agnostic
either way.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_PATH_MARKERS = ("/", "\\")
_URI_SCHEMES = ("s3://", "s3a://", "hdfs://", "file:", "abfss://", "gs://")


def is_table_ref(ref: str) -> bool:
    """True for catalog identifiers (``db.tbl``/``cat.db.tbl``), False for
    filesystem paths or URIs."""
    if ref.startswith(_URI_SCHEMES):
        return False
    return not any(m in ref for m in _PATH_MARKERS)


def read_table(spark: SparkSession, ref: str, schema: StructType | None = None) -> DataFrame:
    """The table behind ``ref``. A known ``schema`` spares a parquet path
    the footer read that infers it, and reads a directory holding no parquet
    file as empty instead of failing; a catalog table carries its own."""
    if is_table_ref(ref):
        return spark.read.table(ref)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(ref)


def overwrite_partitions(df: DataFrame, ref: str, partition_col: str) -> None:
    """Dynamic partition overwrite: Iceberg's atomic ``overwritePartitions``
    for catalog tables; parquet dynamic partitionOverwriteMode for paths
    (the caller sets ``spark.sql.sources.partitionOverwriteMode=dynamic``)."""
    if is_table_ref(ref):
        # partition column last: both the v2 API and v1 insertInto resolve
        # the partition positionally
        cols = [c for c in df.columns if c != partition_col] + [partition_col]
        d = df.select(*cols)
        try:
            d.writeTo(ref).overwritePartitions()  # v2 (Iceberg): atomic snapshot
        except AnalysisException as exc:
            if "v1 table" not in str(exc):
                raise
            # v1 catalog table (sandbox): dynamic overwrite via insertInto
            d.write.insertInto(ref, overwrite=True)
    else:
        df.write.mode("overwrite").partitionBy(partition_col).parquet(ref)
