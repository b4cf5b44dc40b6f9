"""Full image-pipeline parity: P1→P5→B1→B12 (+L1→L12) vs the reference's
end-to-end pixel goldens (tests/tables/image/test_image.py,
tests/document/image/test_image.py:81-92, tests/.../borderless_tables/
test_borderless_tables.py:12-34, tests/.../layout/test_{rlsa,image_elements}.py)."""

import json

import numpy as np
import pytest

from img2table_spark.kernels.bmp import decode_bmp
from img2table_spark.kernels.borderless.build import identify_borderless_tables_from_elements
from img2table_spark.kernels.imageops import rgb2gray
from img2table_spark.kernels.metrics import threshold_dark_areas
from img2table_spark.kernels.objects import Cell, Line
from img2table_spark.kernels.png import decode_png
from img2table_spark.kernels.rlsa import get_image_elements, identify_text_mask
from img2table_spark.kernels.table_image import TableImage


def _png(path):
    with open(path, "rb") as f:
        return decode_png(f.read())


def test_extract_tables_bordered(ref_tests):
    """Oracle: tests/tables/image/test_image.py:8-21 — exact bboxes/shapes."""
    img = _png(ref_tests / "tables/image/test_data/test.png")
    tables = TableImage(img).extract_tables(
        implicit_rows=True, implicit_columns=True, borderless_tables=False
    )
    got = sorted(((tb.x1, tb.y1, tb.x2, tb.y2), (tb.nb_rows, tb.nb_columns)) for tb in tables)
    assert got == [((36, 21, 770, 327), (6, 3)), ((962, 21, 1154, 123), (2, 2))]


def test_extract_tables_dark(ref_tests):
    """Oracle: tests/document/image/test_image.py:81-92."""
    img = _png(ref_tests / "document/image/test_data/dark.png")
    tables = TableImage(img).extract_tables(
        implicit_rows=True, implicit_columns=True, borderless_tables=True
    )
    assert len(tables) == 1
    tb = tables[0]
    assert (tb.x1, tb.y1, tb.x2, tb.y2) == (46, 37, 836, 529)
    assert (tb.nb_rows, tb.nb_columns) == (19, 5)


def test_extract_tables_blank(ref_tests):
    """blank.png → no tables (tests/document/image/test_image.py:37-58)."""
    img = _png(ref_tests / "tables/image/test_data/blank.png")
    assert TableImage(img).extract_tables(borderless_tables=True) == []


@pytest.fixture(scope="module")
def rlsa_inputs(ref_tests):
    base = ref_tests / "tables/processing/borderless_tables/layout/test_data"
    with open(base / "test.bmp", "rb") as f:
        img = decode_bmp(f.read())
    with open(base / "lines.json") as f:
        data = json.load(f)
    lines = [Line(**el) for el in data["h_lines"] + data["v_lines"]]
    with open(base / "text_thresh.bmp", "rb") as f:
        expected_mask = rgb2gray(decode_bmp(f.read()))
    return img, lines, expected_mask, base


def test_identify_text_mask(rlsa_inputs):
    """Oracle: tests/.../layout/test_rlsa.py — pixel golden, EXACT (the
    round-1 243-px residual was cv2's convertTo-uint8 rounding of the
    Sauvola threshold before the compare; replicated in imageops)."""
    img, lines, expected, _ = rlsa_inputs
    thresh = threshold_dark_areas(img, char_length=6)
    result = identify_text_mask(thresh=thresh, lines=lines, char_length=6.0)
    assert int((result != expected).sum()) == 0


def test_get_image_elements(rlsa_inputs):
    """Oracle: tests/.../layout/test_image_elements.py — exact incl. order."""
    _, _, expected_mask, base = rlsa_inputs
    result = get_image_elements(expected_mask, char_length=6.0)
    with open(base / "elements.json") as f:
        want = [Cell(**el) for el in json.load(f)]
    assert [(c.x1, c.y1, c.x2, c.y2) for c in result] == [
        (c.x1, c.y1, c.x2, c.y2) for c in want
    ]


def test_identify_borderless_tables(ref_tests):
    """Oracle: tests/.../borderless_tables/test_borderless_tables.py:12-34."""
    base = ref_tests / "tables/processing/borderless_tables/borderless_tables/test_data"
    img = _png(base / "test.png")
    thresh = threshold_dark_areas(img, char_length=11)
    with open(base / "lines.json") as f:
        data = json.load(f)
    lines = [Line(**el) for el in data["h_lines"] + data["v_lines"]]
    with open(base / "contours.json") as f:
        contours = [Cell(**el) for el in json.load(f)]
    text_thresh = identify_text_mask(thresh=thresh, lines=lines, char_length=7.0, existing_tables=[])
    els = get_image_elements(text_thresh, char_length=7.0)
    result = identify_borderless_tables_from_elements(
        img_elements=els,
        img_width=thresh.shape[1],
        lines=lines,
        char_length=7.0,
        median_line_sep=66,
        contours=contours,
        existing_tables=[],
    )
    assert len(result) == 1
    tb = result[0]
    assert (tb.nb_rows, tb.nb_columns) == (16, 7)
    assert (tb.x1, tb.y1, tb.x2, tb.y2) == (135, 52, 1155, 1054)
