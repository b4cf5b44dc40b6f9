"""T1–T6 parity vs the reference's own golden fixtures
(tests/ocr/data/test_data/*, oracle: tests/ocr/data/test_ocr_data.py)."""

import json

from img2table_spark.kernels.objects import Cell
from img2table_spark.kernels.text import (
    filter_words,
    get_text_cell,
    get_text_table,
    table_get_content,
)

from tests.conftest import load_table_json, load_words_csv


def test_filter_words_pages(ref_tests):
    words = load_words_csv(ref_tests / "ocr/data/test_data/ocr_df.csv")
    w = filter_words(words, page_number=1)
    assert (w["page"] == 1).all()
    # page 0 is falsy → no page filter (reference quirk, ocr/data.py:34)
    w0 = filter_words(words, page_number=0)
    assert set(w0["page"].unique()) == set(words["page"].unique())


def test_get_text_cell(ref_tests):
    """Oracle: tests/ocr/data/test_ocr_data.py:25-35."""
    words = load_words_csv(ref_tests / "ocr/data/test_data/ocr_df.csv")
    cell = Cell(x1=200, x2=800, y1=700, y2=850)
    result = get_text_cell(words, cell, min_confidence=50, page_number=0)
    assert (
        result
        == "http://www.landspeed.com/lsrinfo.asp.)\nUse these data to create\nChecklist for a Data Table."
    )


def test_get_text_table(ref_tests):
    """Oracle: tests/ocr/data/test_ocr_data.py:38-49."""
    words = load_words_csv(ref_tests / "ocr/data/test_data/ocr_df.csv")
    table = load_table_json(ref_tests / "ocr/data/test_data/table.json")
    result = get_text_table(words, table, page_number=0, min_confidence=50)

    with open(ref_tests / "ocr/data/test_data/expected_table.json") as f:
        expected = json.load(f)
    got = [
        [{"x1": c.x1, "y1": c.y1, "x2": c.x2, "y2": c.y2, "content": c.content} for c in row]
        for row in result.rows
    ]
    assert got == expected


def test_table_get_content_drops_empty(ref_tests):
    """T6: empty rows/cols removal semantics (reference: table.py:158-188)."""
    words = load_words_csv(ref_tests / "ocr/data/test_data/ocr_df.csv")
    table = load_table_json(ref_tests / "ocr/data/test_data/table.json")
    # Add an extra all-empty column far away plus an empty row; both must drop.
    for row in table.rows:
        row.append(Cell(5000, row[0].y1, 5100, row[0].y2))
    y2 = table.rows[-1][0].y2
    table.rows.append([Cell(c.x1, y2, c.x2, y2 + 50) for c in table.rows[-1]])
    n_rows_before = table.nb_rows

    result = table_get_content(table, words, min_confidence=50)
    assert result.nb_columns == 2
    assert result.nb_rows == n_rows_before - 1
    assert result.rows[0][0].content == "Number of Coils"


def test_single_unique_collapse(ref_tests):
    """A grid whose cells all share one value collapses to 1×1
    (reference: table.py:183-186)."""
    words = load_words_csv(ref_tests / "ocr/data/test_data/ocr_df.csv")
    # One real cell duplicated over the grid (merged-cell model).
    c = Cell(x1=439, y1=1581, x2=950, y2=1658)
    table_rows = [[c, c], [c, c]]
    from img2table_spark.kernels.objects import Table

    t = table_get_content(Table(rows=table_rows), words)
    assert t.nb_rows == 1 and t.nb_columns == 1
    assert t.rows[0][0].content == "Number of Coils"


# ------------------------------------------- hOCR lines without an id

_HOCR_NO_LINE_IDS = (
    '<div class="ocr_page" id="page_1" title="bbox 0 0 200 100">'
    '<span class="ocr_line" title="bbox 10 10 90 30">'
    '<span class="ocrx_word" id="w1" title="bbox 10 10 40 30; x_wconf 95">alpha</span>'
    '<span class="ocrx_word" id="w2" title="bbox 50 10 90 30; x_wconf 95">beta</span>'
    "</span>"
    '<span class="ocr_line" id="line_2" title="bbox 10 50 90 70">'
    '<span class="ocrx_word" id="w3" title="bbox 10 50 40 70; x_wconf 95">gamma</span>'
    "</span>"
    '<span class="ocr_line" title="bbox 110 10 190 30">'
    '<span class="ocrx_word" id="w4" title="bbox 110 10 150 30; x_wconf 95">delta</span>'
    "</span>"
    "</div>"
)


def _words_without_line_ids():
    from img2table_spark.kernels.hocr import parse_hocr_pages

    words = parse_hocr_pages([_HOCR_NO_LINE_IDS])
    assert words.loc[words["class"] == "ocrx_word", "parent"].isna().sum() == 3
    return words


def test_get_text_table_keeps_words_of_lines_without_id():
    """Words whose ocr_line has no id are one null-parent line per cell
    (polars group_by keeps nulls), never dropped."""
    from img2table_spark.kernels.objects import Table

    table = Table(
        rows=[
            [Cell(0, 0, 100, 40), Cell(100, 0, 200, 40)],
            [Cell(0, 40, 100, 80), Cell(100, 40, 200, 80)],
        ]
    )
    get_text_table(_words_without_line_ids(), table)
    assert [[c.content for c in row] for row in table.rows] == [
        ["alpha beta", "delta"],
        ["gamma", None],
    ]


def test_get_text_cell_keeps_words_of_lines_without_id():
    words = _words_without_line_ids()
    assert get_text_cell(words, Cell(0, 0, 200, 100)) == "alpha beta delta\ngamma"


def test_image_payload_without_line_ids_keeps_table():
    import base64
    import re

    from img2table_spark.kernels.encoders import encode_png
    from img2table_spark.operators.extract import extract_payload

    from tests.conftest import render_table_page

    img, hocr, grid = render_table_page()
    hocr = re.sub(r'(class="ocr_line") id="[^"]*"', r"\1", hocr)
    payload = json.dumps({"image": base64.b64encode(encode_png(img)).decode(), "hocr": hocr})
    tables = extract_payload(payload, "image/png")
    assert [[c.content for c in row] for row in tables[0].rows] == grid
