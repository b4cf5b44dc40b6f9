"""The extraction operator: transcript rows → extracted-table rows.

Spark-first design (SURVEY.md §3.4): the whole reference pipeline is the body
of ONE Arrow-batched ``mapInArrow`` UDF. Payloads are turn-local, so no
geometry ever crosses the Spark boundary; the only shuffle in the job is the
optional salted repartition that defuses long-conversation skew.

Payload dispatch by the ``tool`` column (FIXTURES.md §1):
  - text/html        → HTML-table grammar parser (kernels.html_io). A batch's
                       HTML turns that fully match the compact grammar
                       (``html_io.COMPACT_TABLE_RE2``: one ``<table>`` of
                       rows of ``<td>``/``<th>`` cells, bare or with
                       ``colspan="k"`` and an optional ``rowspan="1"``,
                       every row covering the same columns; whitespace-
                       normalized text without ``<>&``, ``<br>`` runs
                       between words) are parsed together by
                       ``compact_html_tables``, in Arrow and NumPy; the rest
                       (rowspans, entities, prettified markup) one at a
                       time by ``parse_html_tables``, on the stdlib
                       ``HTMLParser``. The two routes give the same rows.
  - image/*          → decode + bordered/borderless CV pipeline
                       (kernels.image — pure NumPy; PNG via stdlib zlib)
  - application/pdf  → native-text path (kernels.pdf) when available
  - text/plain, null → no tables (negative payload); ``salted`` drops
                       these turns before its exchange

Malformed payloads never fail the job: the UDF emits zero rows and the
per-partition manifest records the error count (FIXTURES.md §6).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from img2table_spark.kernels.html_io import CompactTables, compact_html_tables, parse_html_tables, table_to_html
from img2table_spark.kernels.objects import Table
from img2table_spark.kernels.payload import PayloadError  # noqa: F401 — raised by the kernels, re-exported here
from img2table_spark.kernels.text import is_relevant_table
from img2table_spark.schema import EXTRACTED_SCHEMA

_HTML_TOOLS = {"text/html", "html"}
_IMAGE_PREFIX = "image/"
_PDF_TOOLS = {"application/pdf", "pdf"}
# consecutive turns per salt key (with_salt)
_TURN_BUCKET = 8


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
    nested column measured ~35% of the per-turn cost at full throughput.
    ``compact_batch`` builds the same rows from ``compact_html_tables``'
    arrays, with no ``Table`` in between."""

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
        return _record_batch(
            [pa.array(v, t) for v, t in ((self.conv, s), (self.turn, i32), (self.tidx, i32))]
            + [pa.array(v, i32) for v in (self.x1, self.y1, self.x2, self.y2)]
            + [pa.array(self.titles, s)],
            pa.array(self.offsets, i32),
            [pa.array(v, i32) for v in (self.c_row, self.c_col, self.c_x1, self.c_y1, self.c_x2, self.c_y2)]
            + [pa.array(self.c_val, s)],
            [pa.array(self.htmls, s), pa.array(self.nrows, i32), pa.array(self.ncols, i32)],
        )

    @staticmethod
    def compact_batch(conv_id: pa.Array, turn_idx: pa.Array, t: CompactTables) -> pa.RecordBatch:
        """The rows of ``compact_html_tables``' tables, ``conv_id`` and
        ``turn_idx`` given per table: each is its turn's table 0, untitled."""
        n, i32, s = len(t.src), pa.int32(), pa.string()
        zeros = pa.array(np.zeros(n, np.int32))
        return _record_batch(
            [conv_id.cast(s), turn_idx.cast(i32), zeros, zeros, zeros, pa.array(t.x2), pa.array(t.y2), pa.nulls(n, s)],
            pa.array(t.offsets),
            [pa.array(v) for v in (t.row, t.col, t.cell_x1, t.cell_y1, t.cell_x2, t.cell_y2)] + [t.values.cast(s)],
            [t.html.cast(s), pa.array(t.n_rows), pa.array(t.n_cols)],
        )


def _record_batch(head: list, offsets: pa.Array, cell_fields: list, tail: list) -> pa.RecordBatch:
    """EXTRACTED_SCHEMA batch from its columns before ``cells``, the cells'
    list offsets and struct children, and the columns after ``cells``."""
    cells = pa.ListArray.from_arrays(
        offsets, pa.StructArray.from_arrays(cell_fields, fields=list(_CELLS_TYPE.value_type)), type=_CELLS_TYPE
    )
    return pa.RecordBatch.from_arrays(head + [cells] + tail, schema=_ARROW_SCHEMA)


_HTML_TOOL_SET = pa.array(sorted(_HTML_TOOLS))


def _html_turns(text: pa.Array, tool: pa.Array) -> np.ndarray:
    """Positions of the turns ``extract_payload`` hands to the HTML parser:
    text is not null and the lowercased tool is an HTML tool."""
    if tool.null_count == len(tool):  # also a null-typed array, which utf8_lower rejects
        return np.zeros(0, np.intp)
    is_html = pc.and_(pc.is_in(pc.utf8_lower(tool), value_set=_HTML_TOOL_SET), pc.is_valid(text))
    return np.flatnonzero(is_html.to_numpy(zero_copy_only=False))


def _extract_batch(b: pa.RecordBatch, emit_errors: bool) -> pa.RecordBatch:
    """One transcript batch → its EXTRACTED_SCHEMA rows, in input order.

    HTML turns in the compact grammar are parsed together by
    ``compact_html_tables``; every other turn goes through
    ``extract_payload`` one at a time. A malformed payload never fails the
    task: it yields zero rows, or with ``emit_errors`` one error-marker
    row."""
    texts = b.column("text")
    html = _html_turns(texts, b.column("tool"))
    compact = compact_html_tables(texts.take(pa.array(html))) if len(html) else None
    owned = np.zeros(b.num_rows, bool)  # turns whose rows compact_batch builds
    if compact is not None:
        owned[html[compact.owned]] = True
    looped = np.flatnonzero(~owned)
    at = pa.array(looped)
    out = _TableRows()
    ends = []  # rows in ``out`` after each looped turn
    for k, conv_id, turn_idx, tool in zip(
        looped.tolist(),
        b.column("conv_id").take(at).to_pylist(),
        b.column("turn_idx").take(at).to_pylist(),
        b.column("tool").take(at).to_pylist(),
    ):
        # the text read in place, one turn at a time: a take would copy
        # every looped payload, multi-MB images included
        text = texts[k].as_py()
        try:
            tables = [t for t in extract_payload(text, tool) if is_relevant_table(t)]
        except Exception as exc:
            if emit_errors:
                out.add_error(conv_id, turn_idx, exc)
        else:
            for i, t in enumerate(tables):
                out.add(conv_id, turn_idx, i, t)
        ends.append(len(out.tidx))
    rows = out.batch()
    if compact is None or not len(compact.src):
        return rows
    src = html[compact.src]
    grids = _TableRows.compact_batch(b.column("conv_id").take(src), b.column("turn_idx").take(src), compact)
    if not rows.num_rows:
        return grids
    # both kinds: put every row back at its turn's place
    looped_src = np.repeat(looped, np.diff(ends, prepend=0))
    order = np.argsort(np.concatenate([looped_src, src]), kind="stable")
    return pa.Table.from_batches([rows, grids]).take(order).combine_chunks().to_batches()[0]


def _make_batch_extract_arrow(emit_errors: bool = False):
    """The mapInArrow body: transcript batches → EXTRACTED_SCHEMA batches
    (``_extract_batch``)."""

    def _batch_extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            yield _extract_batch(b, emit_errors)

    return _batch_extract


# payload_tool and with_salt as SQL: one call into the JVM builds either,
# where the same Column chain costs dozens
# The tool lowercased in ASCII only. Spark's lower() sets up collation
# support on its first call in a JVM, ~1.7 s on 4 CPUs. On the ASCII tool
# names above, ASCII lowercasing picks the same tools as str.lower(): the
# only non-ASCII characters it lowers into ASCII are U+0130 (to "i" plus
# U+0307) and U+212A (to "k"), and neither can spell one of the names.
_TOOL_LOWER = "translate(tool, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')"
PAYLOAD_TOOL_SQL = (
    f"{_TOOL_LOWER} IN ({', '.join(repr(t) for t in sorted(_HTML_TOOLS | _PDF_TOOLS))})"
    f" OR startswith({_TOOL_LOWER}, '{_IMAGE_PREFIX}')"
)
SALT_SQL = f"xxhash64(conv_id, floor(turn_idx / {_TURN_BUCKET}))"


def payload_tool() -> "F.Column":
    """True where ``extract_payload`` dispatches the row's ``tool`` to a
    kernel: the lowercased tool is an HTML or PDF tool or starts with
    ``image/``. Null and unknown tools are false."""
    return F.expr(PAYLOAD_TOOL_SQL)


def with_salt(df: DataFrame) -> "F.Column":
    """Skew-defusing salt: hash(conv_id, turn_idx // _TURN_BUCKET) so a single
    heavy conversation spreads over many partitions (north_rule)."""
    return F.expr(SALT_SQL)


def salted(df: DataFrame, num_partitions: int | None = None, balance: bool = False) -> DataFrame:
    """The extractor's input columns behind its one exchange.

    Column pruning is explicit: only (conv_id, turn_idx, text, tool) reach the
    scan, so the parquet reader never materializes unused columns. Turns
    that ``extract_payload`` answers with no rows at all (null text, or a
    tool outside ``PAYLOAD_TOOL_SQL``) are filtered out before the exchange,
    so they are never shuffled nor sent to Python.

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
    slim = df.select("conv_id", "turn_idx", "text", "tool").where(f"text IS NOT NULL AND ({PAYLOAD_TOOL_SQL})")
    if num_partitions is None:
        # Python-CPU-bound stage: size parallelism by cores, NOT by bytes.
        # A bare repartition(col) would let AQE coalesce the (byte-small,
        # CPU-heavy) exchange down to one partition and serialize the UDF.
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    if balance:
        return slim.repartition(num_partitions)
    return slim.repartition(num_partitions, with_salt(slim))


def extract_tables(
    df: DataFrame,
    salt: bool = True,
    num_partitions: int | None = None,
    emit_errors: bool = False,
    balance: bool = False,
) -> DataFrame:
    """Transcript DataFrame → one row per extracted table (EXTRACTED_SCHEMA).

    ``salt=True`` runs the input through ``salted`` (one exchange, see there
    for ``num_partitions`` and ``balance``); ``salt=False`` maps the input's
    partitions as they are, for a caller that already salted it.
    """
    slim = salted(df, num_partitions, balance) if salt else df.select("conv_id", "turn_idx", "text", "tool")
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
