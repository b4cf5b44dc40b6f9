"""The extraction operator: transcript rows → extracted-table rows.

Spark-first design (SURVEY.md §3.4): the whole reference pipeline is the body
of ONE Arrow-batched ``mapInArrow`` UDF. Payloads are turn-local, so no
geometry ever crosses the Spark boundary; the only shuffle in the job is the
optional salted repartition that defuses long-conversation skew.

Payload dispatch by the ``tool`` column (FIXTURES.md §1):
  - text/html        → HTML-table grammar parser (kernels.html_io)
  - image/*          → decode + bordered/borderless CV pipeline
                       (kernels.image — pure NumPy; PNG via stdlib zlib)
  - application/pdf  → native-text path (kernels.pdf) when available
  - text/plain, null → no tables (negative payload)

Malformed payloads never fail the job: the UDF emits zero rows and the
per-partition manifest records the error count (FIXTURES.md §6).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from img2table_spark.kernels.html_io import parse_html_tables, table_to_html
from img2table_spark.kernels.objects import Table
from img2table_spark.kernels.text import is_relevant_table
from img2table_spark.schema import EXTRACTED_SCHEMA

_HTML_TOOLS = {"text/html", "html"}
_IMAGE_PREFIX = "image/"
_PDF_TOOLS = {"application/pdf", "pdf"}
# consecutive turns per salt key (with_salt)
_TURN_BUCKET = 8


class PayloadError(Exception):
    """Raised by decoders on malformed payloads; mapped to 0 output rows."""


def extract_payload(text: str | None, tool: str | None) -> list[Table]:
    """Dispatch one turn's payload to the matching kernel pipeline."""
    if text is None:
        return []
    tool = (tool or "").lower()
    if tool in _HTML_TOOLS:
        return parse_html_tables(text)
    if tool.startswith(_IMAGE_PREFIX):
        from img2table_spark.kernels.image_doc import extract_image_payload

        return extract_image_payload(text)
    if tool in _PDF_TOOLS:
        from img2table_spark.kernels.pdf_doc import extract_pdf_payload

        return extract_pdf_payload(text)
    # text/plain or unknown: not a table payload
    return []


_ARROW_SCHEMA = to_arrow_schema(EXTRACTED_SCHEMA)
_CELLS_TYPE = _ARROW_SCHEMA.field("cells").type


class _TableRows:
    """Column builders for one output batch of EXTRACTED_SCHEMA rows: the one
    place a ``Table`` becomes an extracted row, for the batch and streaming
    extractor and for ``assign_text``. Values go into flat Python lists
    converted once per batch into Arrow arrays (offsets + struct children
    for ``cells``): per-cell dicts plus a pandas→Arrow conversion of the
    nested column measured ~35% of the per-turn cost at full throughput."""

    def __init__(self) -> None:
        self.conv: list = []
        self.turn: list = []
        self.tidx: list = []
        self.x1: list = []
        self.y1: list = []
        self.x2: list = []
        self.y2: list = []
        self.titles: list = []
        self.htmls: list = []
        self.nrows: list = []
        self.ncols: list = []
        self.offsets: list = [0]
        self.c_row: list = []
        self.c_col: list = []
        self.c_x1: list = []
        self.c_y1: list = []
        self.c_x2: list = []
        self.c_y2: list = []
        self.c_val: list = []

    def add(self, conv_id: str, turn_idx: int, table_idx: int, table: Table) -> None:
        """Append one table row; its bbox is the union of its cells' boxes."""
        # locals: the per-cell appends are the hot loop
        c_row, c_col, c_val = self.c_row, self.c_col, self.c_val
        c_x1, c_y1, c_x2, c_y2 = self.c_x1, self.c_y1, self.c_x2, self.c_y2
        x1 = y1 = x2 = y2 = None
        n_cells = 0
        for r, row in enumerate(table.rows):
            for c, cell in enumerate(row):
                cx1, cy1, cx2, cy2 = cell.x1, cell.y1, cell.x2, cell.y2
                c_row.append(r)
                c_col.append(c)
                c_x1.append(cx1)
                c_y1.append(cy1)
                c_x2.append(cx2)
                c_y2.append(cy2)
                c_val.append(cell.content)
                n_cells += 1
                if x1 is None:
                    x1, y1, x2, y2 = cx1, cy1, cx2, cy2
                else:
                    if cx1 < x1:
                        x1 = cx1
                    if cy1 < y1:
                        y1 = cy1
                    if cx2 > x2:
                        x2 = cx2
                    if cy2 > y2:
                        y2 = cy2
        if table.rows and n_cells == 0:  # rows of zero width: match min()'s error
            raise ValueError("min() arg is an empty sequence")
        self.conv.append(conv_id)
        self.turn.append(turn_idx)
        self.tidx.append(table_idx)
        self.x1.append(x1)
        self.y1.append(y1)
        self.x2.append(x2)
        self.y2.append(y2)
        self.titles.append(table.title)
        self.htmls.append(table_to_html(table))
        self.nrows.append(table.nb_rows)
        self.ncols.append(table.nb_columns)
        self.offsets.append(self.offsets[-1] + n_cells)

    def add_error(self, conv_id: str, turn_idx: int, exc: Exception) -> None:
        """Append an error-marker row (table_idx = -1) that the pipeline
        counts into the partition manifest, then drops."""
        self.conv.append(conv_id)
        self.turn.append(turn_idx)
        self.tidx.append(-1)
        self.x1.append(None)
        self.y1.append(None)
        self.x2.append(None)
        self.y2.append(None)
        self.titles.append(repr(exc)[:200])
        self.htmls.append(None)
        self.nrows.append(0)
        self.ncols.append(0)
        self.offsets.append(self.offsets[-1])

    def batch(self) -> pa.RecordBatch:
        i32, s = pa.int32(), pa.string()
        cells = pa.ListArray.from_arrays(
            pa.array(self.offsets, i32),
            pa.StructArray.from_arrays(
                [
                    pa.array(self.c_row, i32),
                    pa.array(self.c_col, i32),
                    pa.array(self.c_x1, i32),
                    pa.array(self.c_y1, i32),
                    pa.array(self.c_x2, i32),
                    pa.array(self.c_y2, i32),
                    pa.array(self.c_val, s),
                ],
                fields=list(_CELLS_TYPE.value_type),
            ),
            type=_CELLS_TYPE,
        )
        return pa.RecordBatch.from_arrays(
            [
                pa.array(self.conv, s),
                pa.array(self.turn, i32),
                pa.array(self.tidx, i32),
                pa.array(self.x1, i32),
                pa.array(self.y1, i32),
                pa.array(self.x2, i32),
                pa.array(self.y2, i32),
                pa.array(self.titles, s),
                cells,
                pa.array(self.htmls, s),
                pa.array(self.nrows, i32),
                pa.array(self.ncols, i32),
            ],
            schema=_ARROW_SCHEMA,
        )


def _make_batch_extract_arrow(emit_errors: bool = False):
    """The mapInArrow body: transcript batches → EXTRACTED_SCHEMA batches.
    A malformed payload never fails the task: it yields zero rows, or with
    ``emit_errors`` one error-marker row."""

    def _batch_extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            out = _TableRows()
            for conv_id, turn_idx, text, tool in zip(
                b.column("conv_id").to_pylist(),
                b.column("turn_idx").to_pylist(),
                b.column("text").to_pylist(),
                b.column("tool").to_pylist(),
            ):
                try:
                    tables = [t for t in extract_payload(text, tool) if is_relevant_table(t)]
                except Exception as exc:
                    if emit_errors:
                        out.add_error(conv_id, turn_idx, exc)
                    continue
                for i, t in enumerate(tables):
                    out.add(conv_id, turn_idx, i, t)
            yield out.batch()

    return _batch_extract


def with_salt(df: DataFrame) -> "F.Column":
    """Skew-defusing salt: hash(conv_id, turn_idx // _TURN_BUCKET) so a single
    heavy conversation spreads over many partitions (north_rule)."""
    return F.xxhash64(F.col("conv_id"), F.floor(F.col("turn_idx") / F.lit(_TURN_BUCKET)))


def extract_tables(
    df: DataFrame,
    salt: bool = True,
    num_partitions: int | None = None,
    emit_errors: bool = False,
    balance: bool = False,
) -> DataFrame:
    """Transcript DataFrame → one row per extracted table (EXTRACTED_SCHEMA).

    Column pruning is explicit: only (conv_id, turn_idx, text, tool) reach the
    scan, so the parquet reader never materializes unused columns.

    ``balance=True`` swaps the hash salt for ROUND-ROBIN repartitioning —
    still exactly one exchange, but rows spread uniformly instead of by
    hash bucket. Use it for small / heavy-tailed batch corpora where two
    expensive payloads hash-colliding into one task sets the wall clock
    (measured: q14's 9.6 s + 6.9 s PDFs landed in one partition of 64).
    The hash salt stays the default for 10^12-turn runs: placement is
    deterministic with no pre-shuffle local sort (round-robin pays
    sortBeforeRepartition on every input partition), and at millions of
    rows per partition the law of large numbers balances payload cost.
    """
    slim = df.select("conv_id", "turn_idx", "text", "tool")
    if salt:
        if num_partitions is None:
            # Python-CPU-bound stage: size parallelism by cores, NOT by bytes.
            # A bare repartition(col) would let AQE coalesce the (byte-small,
            # CPU-heavy) exchange down to one partition and serialize the UDF.
            num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
        if balance:
            slim = slim.repartition(num_partitions)
        else:
            slim = slim.repartition(num_partitions, with_salt(slim))
    return slim.mapInArrow(_make_batch_extract_arrow(emit_errors), EXTRACTED_SCHEMA)


def extract_cells_flat(df: DataFrame, **kwargs) -> DataFrame:
    """Flat per-cell variant: one row per (turn, table, row, col) with
    primitive columns only — the shape used by oracle-checked queries."""
    ext = extract_tables(df, **kwargs)
    return ext.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("table_idx").cast("long").alias("table_idx"),
        F.explode("cells").alias("cell"),
    ).select(
        "conv_id",
        "turn_idx",
        "table_idx",
        F.col("cell.row").cast("long").alias("row_idx"),
        F.col("cell.col").cast("long").alias("col_idx"),
        F.col("cell.value").alias("value"),
    )
