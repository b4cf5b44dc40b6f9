"""common.py utility goldens + segment_image layout e2e
(oracles: tests/tables/processing/common/test_common.py,
tests/.../layout/test_layout.py)."""

import json

import pytest

from img2table_spark.kernels.bmp import decode_bmp
from img2table_spark.kernels.borderless.layout import segment_image_columns
from img2table_spark.kernels.borderless.model import ImageSegment
from img2table_spark.kernels.borderless.table_segments import get_table_segments
from img2table_spark.kernels.common import is_contained_cell, merge_contours
from img2table_spark.kernels.contours import get_contours_cell
from img2table_spark.kernels.metrics import threshold_dark_areas
from img2table_spark.kernels.objects import Cell, Line
from img2table_spark.kernels.png import decode_png
from img2table_spark.kernels.rlsa import get_image_elements, identify_text_mask


def _key(c):
    return (c.x1, c.y1, c.x2, c.y2)


def test_is_contained_cell():
    c1 = Cell(0, 0, 20, 20)
    c2 = Cell(0, 0, 40, 25)
    c3 = Cell(50, 123, 70, 256)
    assert is_contained_cell(c1, c2)
    assert not is_contained_cell(c2, c1)
    assert not is_contained_cell(c1, c3)
    assert not is_contained_cell(c2, c3)


def test_merge_contours_goldens():
    contours = [Cell(0, 0, 20, 20), Cell(0, 10, 20, 20), Cell(60, 0, 80, 20), Cell(10, 100, 20, 200)]
    got_none = {_key(c) for c in merge_contours(contours, vertically=None)}
    assert got_none == {(0, 0, 20, 20), (60, 0, 80, 20), (10, 100, 20, 200)}
    got_v = [_key(c) for c in merge_contours(contours, vertically=True)]
    assert got_v == [(0, 0, 80, 20), (10, 100, 20, 200)]
    got_h = [_key(c) for c in merge_contours(contours, vertically=False)]
    assert got_h == [(0, 0, 20, 200), (60, 0, 80, 20)]


def test_get_contours_cell(ref_tests):
    """Oracle: tests/.../common/test_common.py:40-55 — exact boxes (the
    fixture is a PNG despite the .jpg extension)."""
    with open(ref_tests / "tables/processing/common/test_data/test.jpg", "rb") as f:
        img = decode_png(f.read())
    cell = Cell(x1=0, y1=0, x2=img.shape[1], y2=img.shape[0])
    result = get_contours_cell(img=img, cell=cell, margin=5, blur_size=5, kernel_size=9)
    assert [_key(c) for c in result] == [
        (51, 19, 518, 146), (60, 156, 534, 691), (65, 765, 543, 811),
    ]


def test_segment_image(ref_tests):
    """Oracle: tests/.../layout/test_layout.py — segment/element/area/ws
    counts through L1→L5."""
    base = ref_tests / "tables/processing/borderless_tables/layout/test_data"
    with open(base / "test.bmp", "rb") as f:
        img = decode_bmp(f.read())
    thresh = threshold_dark_areas(img, char_length=6)
    with open(base / "lines.json") as f:
        data = json.load(f)
    lines = [Line(**el) for el in data["h_lines"] + data["v_lines"]]
    text_thresh = identify_text_mask(thresh=thresh, lines=lines, char_length=6.0)
    els = get_image_elements(text_thresh, char_length=6.0)
    seg = ImageSegment(
        x1=0, y1=min(el.y1 for el in els), x2=thresh.shape[1],
        y2=max(el.y2 for el in els), elements=els,
    )
    cols = segment_image_columns(seg, 6.0, lines)
    result = [ts for cs in cols for ts in get_table_segments(cs, 6.0, 16)]
    got = sorted(
        (len(ts.elements), len(ts.table_areas), len(ts.whitespaces)) for ts in result
    )
    assert got == [(4, 1, 4), (30, 5, 21)]


def test_line_object_semantics():
    """Oracle: tests/tables/objects/test_line.py semantics."""
    h = Line(10, 5, 100, 5)
    v = Line(7, 0, 7, 50)
    assert h.horizontal and not h.vertical
    assert v.vertical and not v.horizontal
    skewed = Line(0, 10, 100, 14)  # ~2.3° → snapped horizontal
    skewed.reprocess()
    assert skewed.y1 == skewed.y2 == 12
