"""HTML table render (K2) and its inverse parser (the HTML-payload fast path).

Render parity target: ``ExtractedTable.html``
(reference: src/img2table/tables/objects/extraction.py:144-174) including the
bs4 ``prettify`` line format of the golden fixture
(reference: tests/tables/objects/test_data/table.html). The parser inverts
that grammar — ``<table>/<tr>/<td colspan rowspan>`` with ``<br>`` for
newlines — so HTML payloads embedded in transcript turns land in the same
output schema as image/PDF payloads.

Two parse routes give the same tables. ``parse_html_tables`` parses one
payload. ``compact_html_tables`` takes a whole Arrow array of payloads at
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

import re
from html import unescape
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
    # Fast path: no two grid positions share a value-identity key → every
    # span is a 1×1 rectangle at its own position, so the general grouping /
    # rectangle decomposition / per-row sort below reduces to emitting the
    # grid row-major. Identical output by construction (each group of size
    # one yields CellSpan(r, r, c, c, value); sorting by col_left preserves
    # column order). Merged cells (repeated keys) take the general path.
    seen: set = set()
    fast = True
    for row in table.rows:
        for cell in row:
            k = (cell.x1, cell.y1, cell.x2, cell.y2, cell.content)
            if k in seen:
                fast = False
                break
            seen.add(k)
        if not fast:
            break
    if fast:
        parts = ["<table>"]
        for row in table.rows:
            parts.append("<tr>")
            for cell in row:
                val = cell.content
                val = "" if val is None else val.replace("\n", "<br>")
                parts.append(f'<td colspan="1" rowspan="1">{val}</td>')
            parts.append("</tr>")
        parts.append("</table>")
        return "".join(parts)
    spans = _group_spans(table)
    rows_html = []
    for r in range(table.nb_rows):
        row_spans = sorted((s for s in spans if s.top_row == r), key=lambda s: s.col_left)
        tds = []
        for s in row_spans:
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
        # tag-frequency order (td ≫ tr ≫ table) — this is the per-turn hot
        # loop; semantics identical to the original table-first chain.
        if self._depth == 1:
            if tag == "td" or tag == "th":
                cs = rs = 1
                for k, v in attrs:
                    if k == "colspan":
                        cs = _span_val(v)
                    elif k == "rowspan":
                        rs = _span_val(v)
                self._colspan = cs
                self._rowspan = rs
                self._cell_parts = []
                return
            if tag == "tr":
                self._row = []
                return
            if tag == "br":
                if self._cell_parts is not None:
                    self._cell_parts.append(_BR)
                return
            if tag != "table":
                return
            self._depth = 2
        elif tag == "table":
            self._depth += 1
            if self._depth == 1:
                self._rows = []

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
    if len(parts) == 1 and parts[0] is not _BR:
        # common case: one data chunk, no <br> — same normalization,
        # no line assembly (" ".join(split) has no edge whitespace)
        return " ".join(parts[0].split()) or None
    lines: list[list[str]] = [[]]
    for p in parts:
        if p is _BR:
            lines.append([])
        else:
            lines[-1].append(p)
    norm = [" ".join("".join(seg).split()) for seg in lines]
    value = "\n".join(norm).strip()
    return value or None


# Fast path: a single regex pass over tags driving the SAME handler object —
# identical state-machine semantics to HTMLParser.feed without goahead()'s
# per-character scanning (the UDF hot path: ~60% of per-turn CPU was inside
# html.parser). Inputs with constructs the scanner does not model fall back
# to HTMLParser: comments/doctype/PI are sniffed up front (_NEEDS_SLOW);
# anything the scanner leaves unmatched mid-stream — a '<' + letter-or-slash
# sequence surviving into character data (e.g. '</ td>', unterminated tags)
# or a <script>/<style> CDATA element whose raw content must not be
# tag-parsed — aborts the fast pass (_FastFallback) and the caller replays
# the input through a FRESH HTMLParser.
_FAST_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][-.a-zA-Z0-9:_]*)\s*((?:[^>\"']|\"[^\"]*\"|'[^']*')*?)(/?)>"
)
_ATTR_RE = re.compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*(\"[^\"]*\"|'[^']*'|[^\s\"'=<>`]+))?"
)
_NEEDS_SLOW = ("<!", "<?")
_UNMATCHED_LT_RE = re.compile(r"<[a-zA-Z/]")


class _FastFallback(Exception):
    """Fast scanner met a construct only HTMLParser models; replay slow."""


def _feed_fast(parser: "_TableParser", html: str) -> None:
    """One regex pass with the _TableParser state machine INLINED into local
    variables — the per-tag handler method dispatch was the dominant
    remaining cost of the UDF hot path. Semantics are identical to driving
    parser.handle_* per match: same fallback triggers, same state
    transitions, same completed tables. Results land in parser.tables only
    at the very end, so an aborted pass leaves the caller's fresh-parser
    replay untouched (data outside an open cell is discarded unexamined,
    exactly as handle_data would)."""
    tables: list = []
    depth = 0
    rows = row = cell_parts = None
    colspan = rowspan = 1
    pos = 0
    for m in _FAST_TAG_RE.finditer(html):
        start = m.start()
        if start > pos:
            data = html[pos:start]
            if "<" in data and _UNMATCHED_LT_RE.search(data):
                raise _FastFallback
            if cell_parts is not None and depth == 1:
                if "&" in data:
                    data = unescape(data)
                cell_parts.append(data)
        pos = m.end()
        closing, name, attrtext, selfclose = m.groups()
        name = name.lower()
        if name == "script" or name == "style":
            # HTMLParser switches to CDATA mode here (raw content up to the
            # matching end tag); the regex scanner cannot
            raise _FastFallback
        if closing:
            if depth != 1:
                if name == "table" and depth > 0:
                    depth -= 1
            elif name == "td" or name == "th":
                if cell_parts is not None:
                    value = _assemble_value(cell_parts)
                    if row is None:
                        row = []
                    row.append((value, colspan, rowspan))
                    cell_parts = None
            elif name == "tr":
                if row is not None:
                    rows.append(row)
                    row = None
            elif name == "table":
                if rows is not None:
                    tables.append(rows)
                    rows = None
                depth = 0
            continue
        # start tag
        if depth == 1:
            if name == "td" or name == "th":
                cs = rs = 1
                if attrtext:
                    for am in _ATTR_RE.finditer(attrtext):
                        k = am.group(1).lower()
                        if k == "colspan" or k == "rowspan":
                            v = am.group(2)
                            if v is not None:
                                if v[0] in "\"'":
                                    v = v[1:-1]
                                if "&" in v:
                                    v = unescape(v)
                            if k == "colspan":
                                cs = _span_val(v)
                            else:
                                rs = _span_val(v)
                colspan = cs
                rowspan = rs
                cell_parts = []
            elif name == "tr":
                row = []
            elif name == "br":
                if cell_parts is not None:
                    cell_parts.append(_BR)
            elif name == "table":
                depth = 2
        elif name == "table":
            depth += 1
            if depth == 1:
                rows = []
        if selfclose and (
            name == "td" or name == "th" or name == "tr" or name == "table"
        ):
            # replay the end-tag transition for self-closed structural tags
            if depth != 1:
                if name == "table" and depth > 0:
                    depth -= 1
            elif name == "td" or name == "th":
                if cell_parts is not None:
                    value = _assemble_value(cell_parts)
                    if row is None:
                        row = []
                    row.append((value, colspan, rowspan))
                    cell_parts = None
            elif name == "tr":
                if row is not None:
                    rows.append(row)
                    row = None
            elif name == "table":
                if rows is not None:
                    tables.append(rows)
                    rows = None
                depth = 0
    if pos < len(html):
        data = html[pos:]
        if "<" in data and _UNMATCHED_LT_RE.search(data):
            raise _FastFallback
    parser.tables.extend(tables)


def parse_html_tables(html: str) -> list[Table]:
    """Parse every top-level ``<table>`` into a Table grid.

    Span semantics invert the reference renderer (extraction.py:58-78):
    a td spanning (R rows × C cols) produces ONE Cell object duplicated over
    all covered grid positions. Geometry is synthetic
    (col width 100, row height 20) since HTML has no pixel space.
    """
    parser = _TableParser()
    if any(tok in html for tok in _NEEDS_SLOW):
        parser.feed(html)
        parser.close()
    else:
        try:
            _feed_fast(parser, html)
        except _FastFallback:
            # the aborted fast pass mutated parser state — replay fresh
            parser = _TableParser()
            parser.feed(html)
            parser.close()

    out: list[Table] = []
    for raw_rows in parser.tables:
        if not raw_rows:
            continue
        # Fast path: every cell is 1×1 (no colspan/rowspan) — the occupied/
        # pending bookkeeping below degenerates to "cell c of raw row r sits
        # at grid (r, c)". Replicates the general path exactly: trailing
        # all-empty raw rows are dropped (they contribute no occupied
        # position), interior empty rows become filler rows, short rows are
        # right-padded with None-content filler cells.
        if all(cs == 1 and rs == 1 for raw_row in raw_rows for (_v, cs, rs) in raw_row):
            n_rows = len(raw_rows)
            while n_rows and not raw_rows[n_rows - 1]:
                n_rows -= 1
            if n_rows == 0:
                continue
            n_cols = max(len(raw_row) for raw_row in raw_rows[:n_rows])
            rows = []
            for r in range(n_rows):
                raw_row = raw_rows[r]
                y1 = r * HTML_ROW_H
                y2 = y1 + HTML_ROW_H
                row = [
                    Cell(c * HTML_COL_W, y1, (c + 1) * HTML_COL_W, y2, content=v)
                    for c, (v, _cs, _rs) in enumerate(raw_row)
                ]
                for c in range(len(raw_row), n_cols):
                    row.append(Cell(c * HTML_COL_W, y1, (c + 1) * HTML_COL_W, y2, None))
                rows.append(row)
            out.append(Table(rows=rows))
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
