"""The one PDF page loop (``extract_pdf_tables_auto``) pinned to reference
bodies kept here: the three per-route bytes-level loops (vector, glyph-
rendered, raster) and the router that split requested pages by route and
merged the results back. Input is a planted 3-page PDF — a ruled 5×3 text
page, a scan of that page, and a borderless 7×4 text grid — under every
route flag and ``pages`` selection; the loop must give the same tables,
parse the bytes once, walk the page tree once and interpret each page's
content at most once on the vector route and twice on the pixel routes.
"""

import base64

import pandas as pd
import pytest

import img2table_spark.kernels.pdf_doc as pdf_doc
from img2table_spark.kernels.document import extract_image_tables
from img2table_spark.kernels.encoders import (
    build_borderless_text_pdf,
    build_text_pdf,
    pdf_text_op,
)
from img2table_spark.kernels.pdf_doc import (
    SCALE,
    PdfDocument,
    _pdf_titles,
    chars_to_pixel,
    cluster_words,
    detect_pdf_lines,
    extract_pdf_payload,
    extract_pdf_tables_auto,
    get_cells,
    get_tables,
    implicit_content,
    interpret_page,
    merge_consecutive_tables,
    pdf_metrics,
    rasterize_pdf_page,
    render_pdf_text_page,
    table_get_content,
)
from img2table_spark.kernels.text import WORD_COLUMNS

from tests.conftest import render_table_page, table_page


# --------------------------------------------------------------- references


def _media(doc, page):
    return [float(doc.resolve(v)) for v in doc.resolve(page.get("MediaBox", [0, 0, 612, 792]))]


def _vector_ref(data, implicit_rows=False, implicit_columns=False, min_confidence=50, pages=None):
    doc = PdfDocument(data)
    out = []
    for page_idx, page in enumerate(doc.pages()):
        if pages is not None and page_idx not in pages:
            continue
        media = _media(doc, page)
        page_w = media[2] - media[0]
        page_h = media[3] - media[1]
        img_shape = (int(page_h * SCALE), int(page_w * SCALE))
        chars, rects = interpret_page(doc, page)
        px_chars = chars_to_pixel(chars, page_h)
        word_dicts = cluster_words(px_chars, page_idx)
        char_length, median_line_sep, contours = pdf_metrics(px_chars, word_dicts)
        if char_length is None:
            out.append([])
            continue
        min_line_length = (
            int(min(1.5 * median_line_sep, 4 * char_length)) if median_line_sep else 20
        )
        h_lines, v_lines = detect_pdf_lines(rects, page_h, img_shape, min_line_length, char_length)
        cells = get_cells(h_lines, v_lines)
        tables = get_tables(
            cells=cells, elements=contours, lines=h_lines + v_lines, char_length=char_length
        )
        tables = [
            implicit_content(
                table=tb, contours=contours, char_length=char_length,
                implicit_rows=implicit_rows, implicit_columns=implicit_columns,
            )
            for tb in tables
        ]
        tables = merge_consecutive_tables(tables, contours)
        tables = [tb for tb in tables if min(tb.nb_rows, tb.nb_columns) >= 2]
        words = pd.DataFrame(word_dicts, columns=WORD_COLUMNS)
        if len(words):
            tables = [table_get_content(tb, words, min_confidence) for tb in tables]
            tables = [tb for tb in tables if max(tb.nb_rows, tb.nb_columns) >= 2]
            tables = _pdf_titles(tables, words, contours, img_shape[1])
        out.append([
            tb for tb in tables
            if (max(tb.nb_rows, tb.nb_columns) >= 2 and not tb.borderless)
            or (tb.nb_rows >= 2 and tb.nb_columns >= 3)
        ])
    return out


def _rendered_ref(data, implicit_rows=False, implicit_columns=False, borderless_tables=False,
                  min_confidence=50, pages=None, detect_rotation=False, words_by_page=None):
    from img2table_spark.kernels.rotation import fix_rotation_image

    doc = PdfDocument(data)
    out = []
    any_rotated = False
    for page_idx, page in enumerate(doc.pages()):
        if pages is not None and page_idx not in pages:
            continue
        canvas = render_pdf_text_page(doc, page)
        if canvas is None:
            out.append([])
            continue
        rotated = False
        if detect_rotation:
            canvas, rotated = fix_rotation_image(canvas)
            any_rotated = any_rotated or rotated
        if rotated:
            words = (words_by_page or {}).get(page_idx)
        else:
            media = _media(doc, page)
            chars, _ = interpret_page(doc, page)
            words = pd.DataFrame(
                cluster_words(chars_to_pixel(chars, media[3] - media[1]), page_idx),
                columns=WORD_COLUMNS,
            )
            if not len(words):
                words = None
        out.append(extract_image_tables(
            canvas, words=words, implicit_rows=implicit_rows,
            implicit_columns=implicit_columns, borderless_tables=borderless_tables,
            min_confidence=min_confidence,
        ))
    return out, any_rotated


def _raster_ref(data, implicit_rows=False, implicit_columns=False, borderless_tables=False,
                min_confidence=50, pages=None, words_by_page=None, detect_rotation=False):
    doc = PdfDocument(data)
    out = []
    for page_idx, page in enumerate(doc.pages()):
        if pages is not None and page_idx not in pages:
            continue
        canvas = rasterize_pdf_page(doc, page)
        if canvas is None:
            out.append([])
            continue
        out.append(extract_image_tables(
            canvas, words=(words_by_page or {}).get(page_idx),
            implicit_rows=implicit_rows, implicit_columns=implicit_columns,
            borderless_tables=borderless_tables, min_confidence=min_confidence,
            detect_rotation=detect_rotation,
        ))
    return out


def _auto_ref(data, implicit_rows=False, implicit_columns=False, borderless_tables=False,
              min_confidence=50, pages=None, detect_rotation=False, words_by_page=None):
    doc = PdfDocument(data)
    n = len(doc.pages())
    req = sorted(p for p in (pages if pages is not None else range(n)) if 0 <= p < n)
    text_pages = [p for p in req if len(interpret_page(doc, doc.pages()[p])[0]) > 0]
    scan_pages = [p for p in req if p not in set(text_pages)]
    by_page = {}
    any_rotated = False
    common = dict(implicit_rows=implicit_rows, implicit_columns=implicit_columns,
                  min_confidence=min_confidence)
    if text_pages:
        if borderless_tables or detect_rotation:
            rendered, any_rotated = _rendered_ref(
                data, borderless_tables=borderless_tables, pages=text_pages,
                detect_rotation=detect_rotation, words_by_page=words_by_page, **common,
            )
            by_page.update(zip(text_pages, rendered))
        else:
            by_page.update(zip(text_pages, _vector_ref(data, pages=text_pages, **common)))
    if scan_pages:
        scanned = _raster_ref(
            data, borderless_tables=borderless_tables, pages=scan_pages,
            words_by_page=words_by_page, detect_rotation=detect_rotation, **common,
        )
        by_page.update(zip(scan_pages, scanned))
    return [by_page[p] for p in req], any_rotated


# ------------------------------------------------------------------ fixture


def _borderless_page():
    doc = PdfDocument(build_borderless_text_pdf())
    page = doc.pages()[0]
    w, h = _media(doc, page)[2:]
    return w, h, doc.page_content(page), []


def _scan_page(img):
    h_px, w_px, _ = img.shape
    pw, ph = w_px * 72 / 200, h_px * 72 / 200
    return pw, ph, f"q {pw:.4f} 0 0 {ph:.4f} 0 0 cm /Im1 Do Q".encode(), [img]


@pytest.fixture(scope="module")
def planted_pdf():
    """Page 0: ruled 5×3 text table (vector route by default). Page 1: a
    200-DPI scan of page 0 (raster route). Page 2: borderless 7×4 text grid."""
    img, _, _ = render_table_page()
    return build_text_pdf([table_page()[0], _scan_page(img), _borderless_page()])


#: pages of the planted PDF that carry a text layer
_TEXT_PAGES = {0, 2}


def _summary(per_page):
    return [
        [
            ((tb.x1, tb.y1, tb.x2, tb.y2), (tb.nb_rows, tb.nb_columns),
             [[c.content for c in row] for row in tb.rows], tb.title, tb.borderless)
            for tb in tables
        ]
        for tables in per_page
    ]


class _CountingPdfDocument(PdfDocument):
    inits = walks = interpretations = 0

    def __init__(self, data):
        type(self).inits += 1
        super().__init__(data)

    def pages(self):
        type(self).walks += 1
        return super().pages()

    def page_content(self, page):
        type(self).interpretations += 1
        return super().page_content(page)


@pytest.mark.parametrize("pages", [None, [2, 0], [0, 0], [5, -1, 1]])
@pytest.mark.parametrize(
    "flags", [{}, {"borderless_tables": True}, {"detect_rotation": True}],
    ids=["default", "borderless", "rotation"],
)
def test_page_loop_matches_reference(planted_pdf, monkeypatch, flags, pages):
    want_pages, want_rotated = _auto_ref(planted_pdf, pages=pages, **flags)

    _CountingPdfDocument.inits = _CountingPdfDocument.walks = 0
    _CountingPdfDocument.interpretations = 0
    monkeypatch.setattr(pdf_doc, "PdfDocument", _CountingPdfDocument)
    got_pages, got_rotated = extract_pdf_tables_auto(planted_pdf, pages=pages, **flags)

    assert _summary(got_pages) == _summary(want_pages)
    assert got_rotated == want_rotated
    assert (_CountingPdfDocument.inits, _CountingPdfDocument.walks) == (1, 1)
    req = sorted(p for p in (pages if pages is not None else range(3)) if 0 <= p < 3)
    vector = not flags
    want_interpretations = sum(1 if vector and p in _TEXT_PAGES else 2 for p in req)
    assert _CountingPdfDocument.interpretations == want_interpretations


def test_planted_pdf_routes(planted_pdf):
    """The fixture exercises all three routes: the vector and raster pages
    find the 5×3 grid, the rendered route finds the borderless 7×4 grid."""
    _, _, grid = render_table_page()
    pages, _ = extract_pdf_tables_auto(planted_pdf, implicit_rows=True)
    assert [(t.nb_rows, t.nb_columns, t.title) for t in pages[0]] == [(5, 3, "Table caption")]
    assert [[c.content for c in row] for row in pages[0][0].rows] == grid
    assert [(t.nb_rows, t.nb_columns) for t in pages[1]] == [(5, 3)]
    pages, _ = extract_pdf_tables_auto(planted_pdf, borderless_tables=True, pages=[2])
    assert any(t.borderless and (t.nb_rows, t.nb_columns) == (7, 4) for t in pages[0])


@pytest.mark.parametrize("pages", [None, [2, 0], [5, 1]])
def test_compat_pdf_parses_once(planted_pdf, monkeypatch, pages):
    """``compat.PDF.extract_tables`` counts the pages of the document it
    hands to the page loop: one parse a call, with the loop's tables."""
    import img2table_spark.kernels.pdf_native as pdf_native
    from img2table_spark.compat import PDF

    want, _ = extract_pdf_tables_auto(planted_pdf, pages=pages)
    _CountingPdfDocument.inits = 0
    monkeypatch.setattr(pdf_doc, "PdfDocument", _CountingPdfDocument)
    monkeypatch.setattr(pdf_native, "PdfDocument", _CountingPdfDocument)
    got = PDF(src=planted_pdf, pages=pages).extract_tables()
    assert _CountingPdfDocument.inits == 1
    assert _summary([[t._table for t in got[i]] for i in sorted(got)]) == _summary(want)


def test_oversized_vector_page_yields_no_tables(monkeypatch):
    """A text page whose 200-DPI canvas exceeds the guard yields no tables on
    the vector route too, and never reaches the line mask (a 200000-pt page
    would be a 555555×555555 mask)."""

    def no_mask(*args, **kwargs):
        pytest.fail("detect_pdf_lines reached on an oversized page")

    monkeypatch.setattr(pdf_doc, "detect_pdf_lines", no_mask)
    ops = [pdf_text_op(100 + 60 * c, 100 + 20 * r, f"v{r}{c}") for r in range(3) for c in range(3)]
    pdf = build_text_pdf([(200_000, 200_000, "\n".join(ops).encode(), [])])
    assert extract_pdf_tables_auto(pdf) == ([[]], False)
    assert extract_pdf_payload(base64.b64encode(pdf).decode()) == []
