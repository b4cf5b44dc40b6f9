"""K2 HTML render + T9 span decomposition parity vs reference goldens
(tests/tables/objects/test_data/{table.html,expected_tables.json}; oracle:
tests/tables/objects/test_extraction.py), plus inverse-parser round trips."""

import json
import signal

from img2table_spark.kernels.html_io import (
    extracted_table_html,
    parse_html_tables,
    table_to_html,
)
from img2table_spark.kernels.objects import Cell, Table
from img2table_spark.kernels.spans import CellSpan, create_all_rectangles


def _load_tables(ref_tests):
    with open(ref_tests / "tables/objects/test_data/expected_tables.json") as f:
        raw = json.load(f)
    tables = []
    for tb in raw:
        # Merged cells: identical (bbox, content) dicts → one shared Cell.
        pool = {}
        rows = []
        for row in tb:
            cells = []
            for el in row:
                k = (el["x1"], el["y1"], el["x2"], el["y2"], el.get("content"))
                if k not in pool:
                    pool[k] = Cell(**el)
                cells.append(pool[k])
            rows.append(cells)
        tables.append(Table(rows=rows))
    return tables


def test_create_all_rectangles():
    """Oracle: tests/tables/objects/test_extraction.py:13-26."""
    positions = [
        (0, 0), (1, 0), (2, 0), (3, 0),
        (0, 1), (1, 1), (2, 1), (3, 1),
        (2, 2), (3, 2), (2, 3), (3, 3),
    ]
    result = create_all_rectangles(positions, "Test")
    assert result == [
        CellSpan(top_row=0, bottom_row=3, col_left=0, col_right=1, value="Test"),
        CellSpan(top_row=2, bottom_row=3, col_left=2, col_right=3, value="Test"),
    ]


def test_table_html_golden(ref_tests):
    """Byte-equal prettified HTML vs the reference golden
    (oracle: tests/tables/objects/test_extraction.py:29-37)."""
    table = _load_tables(ref_tests)[-1]
    with open(ref_tests / "tables/objects/test_data/table.html") as f:
        expected = f.read()
    assert extracted_table_html(table) == expected


def test_html_round_trip_golden(ref_tests):
    """parse(render(t)) reproduces the merged-cell grid values of every
    golden table."""
    for table in _load_tables(ref_tests):
        html = table_to_html(table)
        [parsed] = parse_html_tables(html)
        assert parsed.nb_rows == table.nb_rows
        assert parsed.nb_columns == table.nb_columns
        got = [[c.content for c in row] for row in parsed.rows]
        want = [[c.content for c in row] for row in table.rows]
        assert got == want
        # Merged-cell identity is preserved: same span groups re-render equal.
        assert table_to_html(parsed) == html


def test_render_is_linear_in_rows():
    """A 4,000-row table renders in well under 2 s: each row takes the spans
    bucketed under its top row instead of filtering every span (the
    per-row filter took ~3 s at this size)."""
    table = Table(
        rows=[
            [Cell(x1=c * 100, y1=r * 20, x2=c * 100 + 100, y2=r * 20 + 20, content=f"{r}-{c}") for c in range(10)]
            for r in range(4000)
        ]
    )

    def timeout(signum, frame):
        raise TimeoutError("a 4,000-row table took over 2 s to render")

    previous = signal.signal(signal.SIGALRM, timeout)
    signal.alarm(2)
    try:
        html = table_to_html(table)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, previous)
    assert html.count("<tr>") == 4000
    assert html.endswith('<td colspan="1" rowspan="1">3999-9</td></tr></table>')


def test_parse_spans_and_br():
    html = (
        '<table><tr><td colspan="2" rowspan="1">a<br>b</td></tr>'
        "<tr><td>c</td><td>d</td></tr></table>"
    )
    [t] = parse_html_tables(html)
    assert t.nb_rows == 2 and t.nb_columns == 2
    assert t.rows[0][0] is t.rows[0][1]
    assert t.rows[0][0].content == "a\nb"
    assert [c.content for c in t.rows[1]] == ["c", "d"]


def test_parse_spans_gives_equal_texts_their_own_boxes():
    """In a table with a span, two cells with the same text (or two empty
    cells) each get the box of the positions they cover."""
    [t] = parse_html_tables(
        '<table><tr><td colspan="2">a</td><td>a</td></tr>'
        '<tr><td></td><td rowspan="2"></td><td>z</td></tr><tr><td></td><td></td></tr></table>'
    )
    boxes = [[(c.x1, c.y1, c.x2, c.y2, c.content) for c in row] for row in t.rows]
    assert boxes == [
        [(0, 0, 200, 20, "a"), (0, 0, 200, 20, "a"), (200, 0, 300, 20, "a")],
        [(0, 20, 100, 40, None), (100, 20, 200, 60, None), (200, 20, 300, 40, "z")],
        [(0, 40, 100, 60, None), (100, 20, 200, 60, None), (200, 40, 300, 60, None)],
    ]


def test_parse_ragged_and_empty():
    [t] = parse_html_tables("<table><tr><td>x</td><td></td></tr><tr><td>y</td></tr></table>")
    assert t.nb_rows == 2 and t.nb_columns == 2
    assert t.rows[0][1].content is None
    assert t.rows[1][1].content is None
    assert parse_html_tables("<p>no tables here</p>") == []


def test_parse_prettified_whitespace():
    html = "<table>\n <tr>\n  <td>\n   Test 1\n  </td>\n </tr>\n</table>"
    [t] = parse_html_tables(html)
    assert t.rows[0][0].content == "Test 1"


# markup outside the renderer's grammar, each with the tables it parses to
NONSTANDARD_MARKUP = [
    # a hyphenated custom element: its text joins the cell's
    ("<table><tr><td><x-y>q</x-y>a</td></tr></table>", [[["qa"]]]),
    # '</ td>' reads as the end tag td
    ("<table><tr><td>v</ td><td>w</td></tr></table>", [[["v", "w"]]]),
    # <script> content is CDATA: its tags are text, not cells
    (
        '<table><tr><td><script>var t = "<tr><td>fake</td></tr>";</script>x</td></tr></table>',
        [[['var t = "<tr><td>fake</td></tr>";x']]],
    ),
    # after a stray '<', '<b < c</td>' is one start tag: the cell never
    # closes, so the table holds no cell
    ("<table><tr><td>a <b < c</td></tr></table>", []),
    # a namespaced tag after the table
    ("<table><tr><td>ns</td></tr></table><ns:tag>t</ns:tag>", [[["ns"]]]),
    # a truncated payload: the table never closes
    ("<table><tr><td>A</td><td", []),
]


def test_nonstandard_markup():
    """Nonstandard markup parses as ``html.parser`` reads it."""
    for html, grids in NONSTANDARD_MARKUP:
        got = [[[c.content for c in row] for row in t.rows] for t in parse_html_tables(html)]
        assert got == grids, html
