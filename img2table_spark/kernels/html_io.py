"""HTML table render (K2) and its inverse parser (the HTML-payload path).

Render parity target: ``ExtractedTable.html``
(reference: src/img2table/tables/objects/extraction.py:144-174) including the
bs4 ``prettify`` line format of the golden fixture
(reference: tests/tables/objects/test_data/table.html). The parser inverts
that grammar — ``<table>/<tr>/<td colspan rowspan>`` with ``<br>`` for
newlines — so HTML payloads embedded in transcript turns land in the same
output schema as image/PDF payloads.

Two parse routes give the same tables. ``parse_html_tables`` parses one
payload with the stdlib ``HTMLParser``; it is the one per-payload parser.
``compact_html_tables`` takes a whole Arrow array of payloads at
once with ``pyarrow.compute`` and NumPy, but answers only for the compact
grammar (``COMPACT_TABLE_RE2``): one ``<table>`` of ``<tr>`` rows of
``<td>``/``<th>`` cells, each bare or carrying ``colspan="k"`` (k from 1
to 99, no leading zero) with or without a following ``rowspan="1"``, every
row covering the same number of columns, with nothing between the tags.
A cell's text is words split by single spaces or by runs of ``<br>``,
already whitespace-normalized, holding no ``<``, ``>`` or ``&``. That
covers ``table_to_html``'s own output for tables whose merged cells span
one row. Every other payload (rowspans, entities, prettified whitespace)
is left to ``parse_html_tables``.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from img2table_spark.kernels.objects import Cell, Table
from img2table_spark.kernels.spans import CellSpan, create_all_rectangles

# Synthetic pixel geometry for payloads with no physical coordinates.
HTML_COL_W = 100
HTML_ROW_H = 20


# ---------------------------------------------------------------- rendering

def _group_spans(table: Table) -> list[CellSpan]:
    """Group grid positions by cell value-identity, decompose into rectangles
    (reference: extraction.py:150-160)."""
    groups: dict[tuple, list[tuple[int, int]]] = {}
    values: dict[tuple, str | None] = {}
    for r, row in enumerate(table.rows):
        for c, cell in enumerate(row):
            k = cell.key()
            groups.setdefault(k, []).append((r, c))
            values[k] = cell.content
    spans: list[CellSpan] = []
    for k, positions in groups.items():
        spans.extend(create_all_rectangles(positions, values[k]))
    return [s for span in spans for s in span.html_cell_span()]


def table_to_html(table: Table) -> str:
    """Compact single-line HTML (reference: extraction.py:162-172 before
    prettify)."""
    by_row: dict[int, list[CellSpan]] = {}
    for s in _group_spans(table):
        by_row.setdefault(s.top_row, []).append(s)
    rows_html = []
    for r in range(table.nb_rows):
        tds = []
        for s in sorted(by_row.get(r, ()), key=lambda s: s.col_left):
            val = "" if s.value is None else s.value.replace("\n", "<br>")
            tds.append(f'<td colspan="{s.colspan}" rowspan="{s.rowspan}">{val}</td>')
        rows_html.append("<tr>" + "".join(tds) + "</tr>")
    return "<table>" + "".join(rows_html) + "</table>"


def prettify_table_html(compact: str) -> str:
    """bs4 ``prettify``-equivalent for the restricted grammar the renderer
    emits (one space per depth, every tag and text segment on its own line,
    void ``<br>`` rendered ``<br/>``) — validated against the reference golden
    tests/tables/objects/test_data/table.html."""
    out: list[str] = []
    depth = 0
    i = 0
    n = len(compact)
    while i < n:
        if compact[i] == "<":
            j = compact.index(">", i)
            tag = compact[i : j + 1]
            if tag.startswith("</"):
                depth -= 1
                out.append(" " * depth + tag)
            elif tag == "<br>":
                out.append(" " * depth + "<br/>")
            else:
                out.append(" " * depth + tag)
                depth += 1
            i = j + 1
        else:
            j = compact.index("<", i)
            text = compact[i:j]
            if text:
                out.append(" " * depth + text)
            i = j
    return "\n".join(out)


def extracted_table_html(table: Table) -> str:
    """Prettified HTML, byte-equal to the reference's ``ExtractedTable.html``."""
    return prettify_table_html(table_to_html(table)).strip()


# ------------------------------------------------------------------ parsing

_BR = object()  # newline sentinel inside a cell


class _TableParser(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.tables: list[list[list[tuple[str | None, int, int]]]] = []
        self._depth = 0          # <table> nesting depth
        self._rows = None        # rows of current depth-1 table
        self._row = None
        self._cell_parts = None
        self._colspan = 1
        self._rowspan = 1

    def handle_starttag(self, tag, attrs):
        if tag == "table":
            self._depth += 1
            if self._depth == 1:
                self._rows = []
        elif self._depth != 1:
            return
        elif tag == "td" or tag == "th":
            self._colspan = self._rowspan = 1
            for k, v in attrs:
                if k == "colspan":
                    self._colspan = _span_val(v)
                elif k == "rowspan":
                    self._rowspan = _span_val(v)
            self._cell_parts = []
        elif tag == "tr":
            self._row = []
        elif tag == "br" and self._cell_parts is not None:
            self._cell_parts.append(_BR)

    def handle_endtag(self, tag):
        if self._depth != 1:
            if tag == "table":
                self._depth = max(0, self._depth - 1)
            return
        if tag == "td" or tag == "th":
            if self._cell_parts is not None:
                value = _assemble_value(self._cell_parts)
                if self._row is None:
                    self._row = []
                self._row.append((value, self._colspan, self._rowspan))
                self._cell_parts = None
            return
        if tag == "tr":
            if self._row is not None:
                self._rows.append(self._row)
                self._row = None
            return
        if tag == "table":
            if self._rows is not None:
                self.tables.append(self._rows)
                self._rows = None
            self._depth = 0

    def handle_data(self, data):
        if self._depth == 1 and self._cell_parts is not None:
            self._cell_parts.append(data)


def _span_val(v) -> int:
    try:
        return max(1, int(v))
    except (TypeError, ValueError):
        return 1


def _assemble_value(parts: list) -> str | None:
    """Collapse whitespace within each line; ``<br>`` separates lines."""
    lines: list[list[str]] = [[]]
    for p in parts:
        if p is _BR:
            lines.append([])
        else:
            lines[-1].append(p)
    norm = [" ".join("".join(seg).split()) for seg in lines]
    value = "\n".join(norm).strip()
    return value or None


def parse_html_tables(html: str) -> list[Table]:
    """Parse every top-level ``<table>`` into a Table grid.

    Span semantics invert the reference renderer (extraction.py:58-78):
    a td spanning (R rows × C cols) produces ONE Cell object duplicated over
    all covered grid positions. Geometry is synthetic
    (col width 100, row height 20) since HTML has no pixel space.
    """
    parser = _TableParser()
    parser.feed(html)
    parser.close()

    out: list[Table] = []
    for raw_rows in parser.tables:
        if not raw_rows:
            continue
        occupied: dict[tuple[int, int], Cell] = {}
        # (cell, (r1, c1, r2, c2)) — a list, not a dict keyed by Cell: until
        # its box is set, a cell hashes and compares by its content alone
        pending: list[tuple[Cell, tuple[int, int, int, int]]] = []
        for r, raw_row in enumerate(raw_rows):
            c = 0
            for value, colspan, rowspan in raw_row:
                while (r, c) in occupied:
                    c += 1
                cell = Cell(0, 0, 0, 0, content=value)
                r2 = r + rowspan - 1
                c2 = c + colspan - 1
                pending.append((cell, (r, c, r2, c2)))
                for rr in range(r, r2 + 1):
                    for cc in range(c, c2 + 1):
                        occupied[(rr, cc)] = cell
                c = c2 + 1
        if not occupied:
            continue
        n_rows = max(rc[0] for rc in occupied) + 1
        n_cols = max(rc[1] for rc in occupied) + 1
        # Assign synthetic geometry now that span extents are known.
        for cell, (r1, c1, r2, c2) in pending:
            cell.x1 = c1 * HTML_COL_W
            cell.y1 = r1 * HTML_ROW_H
            cell.x2 = (c2 + 1) * HTML_COL_W
            cell.y2 = (r2 + 1) * HTML_ROW_H
        rows: list[list[Cell]] = []
        for r in range(n_rows):
            row: list[Cell] = []
            for c in range(n_cols):
                cell = occupied.get((r, c))
                if cell is None:
                    cell = Cell(
                        c * HTML_COL_W, r * HTML_ROW_H, (c + 1) * HTML_COL_W, (r + 1) * HTML_ROW_H, None
                    )
                row.append(cell)
            rows.append(row)
        out.append(Table(rows=rows))
    return out


# ------------------------------------------------- compact batch parsing

# The 29 code points str.split() splits on (str.isspace), as an RE2 class
# body; RE2's \s is ASCII-only. Spelled out rather than scanned from all
# 0x110000 code points, which costs ~0.1 s at every worker's import;
# tests/test_html_batch.py checks the two agree.
SPACES_RE2 = r"\x{9}-\x{d}\x{1c}-\x{20}\x{85}\x{a0}\x{1680}\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}"
_WORD = f"[^<>&{SPACES_RE2}]+"
# a cell text that parse_html_tables leaves as it is: lines that
# " ".join(v.split()) keeps, split by runs of <br>, nothing to unescape
_LINE = f"{_WORD}(?: {_WORD})*"
_VALUE = f"(?:{_LINE}(?:(?:<br>)+{_LINE})*)?"
# a colspan of 1 to 99 as table_to_html writes it, its unit rowspan optional
_SPAN = '(?: colspan="[1-9][0-9]?"(?: rowspan="1")?)?'
_CELL = f"(?:<td{_SPAN}>{_VALUE}</td>|<th{_SPAN}>{_VALUE}</th>)"
COMPACT_TABLE_RE2 = f"^<table>(?:<tr>{_CELL}+</tr>)+</table>$"


class CompactTables(NamedTuple):
    """The tables ``compact_html_tables`` found: at most one per payload,
    grid positions flattened row-major (a merged cell once per position it
    covers, with its whole box), boxes in the synthetic HTML geometry."""

    owned: np.ndarray  # bool per payload: the table (or its absence) is settled here
    src: np.ndarray  # the payload position of each table
    n_rows: np.ndarray
    n_cols: np.ndarray
    x2: np.ndarray  # table box; x1 = y1 = 0
    y2: np.ndarray
    offsets: np.ndarray  # positions of table i: offsets[i]:offsets[i + 1]
    row: np.ndarray
    col: np.ndarray
    cell_x1: np.ndarray
    cell_y1: np.ndarray
    cell_x2: np.ndarray
    cell_y2: np.ndarray
    values: pa.Array  # cell texts, "\n" for <br>, null for an empty cell
    html: pa.Array  # table_to_html of each table


def compact_html_tables(payloads: pa.Array) -> CompactTables:
    """``parse_html_tables`` plus ``is_relevant_table`` over a string array
    of non-null payloads, for those that fully match ``COMPACT_TABLE_RE2``.

    A cell of colspan k covers k positions of its row, each with the cell's
    value and box. A matching payload whose rows cover unequal numbers of
    columns (which the per-payload parser pads) is not owned; one whose
    table has ``max(n_rows, n_cols) < 2`` is owned and yields no table.
    Each table's HTML is ``table_to_html``'s: every cell written as
    ``<td colspan="k" rowspan="1">``, ``<th>`` as ``<td>``."""
    i32 = np.int32
    matched = np.flatnonzero(pc.match_substring_regex(payloads, COMPACT_TABLE_RE2).to_numpy(zero_copy_only=False))
    owned = np.zeros(len(payloads), bool)
    # one cell tag, <td colspan="k">, by literal replaces (a regex replace
    # costs ~3x). Values hold no "<" or ">", so these texts are only tags.
    html = pc.replace_substring(payloads.take(pa.array(matched)), "<th", "<td")
    html = pc.replace_substring(html, "</th>", "</td>")
    html = pc.replace_substring(html, ' rowspan="1">', ">")
    html = pc.replace_substring(html, "<td>", '<td colspan="1">')
    # strip '<table><tr><td colspan="' and '</td></tr></table>', split rows
    # and cells on what is between them, then each cell 'k">value' on '">'
    rows = pc.split_pattern(pc.utf8_slice_codeunits(html, 24, -18), '</td></tr><tr><td colspan="')
    cells = pc.split_pattern(rows.flatten(), '</td><td colspan="')
    span_value = pc.split_pattern(cells.flatten(), '">', max_splits=1)
    spans = pc.list_element(span_value, 0).cast(pa.int32()).to_numpy()
    n_rows = pc.list_value_length(rows).to_numpy().astype(i32)
    width = pc.list_value_length(cells).to_numpy().astype(i32)  # cells in each row
    before = np.cumsum(spans, dtype=i32) - spans  # columns before each cell, all rows
    row_first = np.cumsum(width) - width
    start = before - np.repeat(before[row_first], width)  # each cell's column
    if len(matched):
        first = np.cumsum(n_rows) - n_rows
        row_cols = np.add.reduceat(spans, row_first, dtype=i32)
        n_cols = row_cols[first]
        uniform = np.minimum.reduceat(row_cols, first) == np.maximum.reduceat(row_cols, first)
        n_cells = np.add.reduceat(width, first)
    else:
        n_cols = n_cells = width
        uniform = np.zeros(0, bool)
    owned[matched[uniform]] = True
    keep = uniform & (np.maximum(n_rows, n_cols) >= 2)
    kept = np.repeat(keep, n_cells)
    spans, start = spans[kept], start[kept]
    values = pc.list_element(span_value, 1).filter(pa.array(kept))
    lines = pc.replace_substring(values, "<br>", "\n")
    values = pc.if_else(pc.equal(values, ""), pa.scalar(None, values.type), lines)
    n_rows, n_cols = n_rows[keep], n_cols[keep]
    size = n_rows * n_cols
    offsets = np.zeros(len(size) + 1, i32)
    np.cumsum(size, out=offsets[1:])
    row, col = np.divmod(np.arange(offsets[-1], dtype=i32) - np.repeat(offsets[:-1], size), np.repeat(n_cols, size))
    # each position's cell: the rows of a kept table cover n_cols columns each
    cell = np.repeat(np.arange(len(spans), dtype=i32), spans)
    html = pc.replace_substring(html.filter(pa.array(keep)), '">', '" rowspan="1">')
    return CompactTables(
        owned=owned,
        src=matched[keep],
        n_rows=n_rows,
        n_cols=n_cols,
        x2=n_cols * HTML_COL_W,
        y2=n_rows * HTML_ROW_H,
        offsets=offsets,
        row=row,
        col=col,
        cell_x1=start[cell] * HTML_COL_W,
        cell_y1=row * HTML_ROW_H,
        cell_x2=(start + spans)[cell] * HTML_COL_W,
        cell_y2=(row + 1) * HTML_ROW_H,
        values=values.take(pa.array(cell)),
        html=html,
    )
