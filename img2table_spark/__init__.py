"""img2table_spark — a from-scratch PySpark-native table identification and
extraction engine with the capabilities of xavctn/img2table.

Architecture (Spark-first, NOT a port):
  Iceberg/parquet scan of multi-turn transcripts
    -> salted repartition on conv_id (skew defusal)
    -> Arrow-batched pandas UDFs wrapping vectorized NumPy kernels
       (payload decode -> geometry -> text assembly)
    -> extracted-table sink + per-partition checkpoint manifests.

The reference (/root/reference, read-only) defines WHAT is computed; every
kernel docstring cites the reference file:line whose behavior it matches.

Importing the package installs ``zipcache``: every Python worker that
unpickles an engine UDF imports it, and PySpark's per-task
``importlib.invalidate_caches()`` would otherwise re-parse the directory of
``pyspark.zip`` once per cached importer on every task (~0.4 s of fixed
cost per Python task on CPython 3.11). Reused workers keep it for their
later tasks.
"""

from img2table_spark import zipcache

zipcache.install()

__version__ = "0.1.0"
