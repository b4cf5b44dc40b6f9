"""Glyph-rendered pixel path for TEXT-LAYER PDFs + per-page route dispatch.

The reference renders every PDF page at 200 DPI and runs the image pipeline
uniformly (document/pdf.py:46-67, base/__init__.py:115-130), so
borderless_tables / detect_rotation work on native-text PDFs too. The repo's
vector-native path stays the exact route for default flags; these tests pin

  - the rendered path reproducing the vector path's goldens on test.pdf
    (cross-validation: two independent pipelines, same tables),
  - borderless detection on a synthetic text-grid PDF,
  - per-page dispatch on a MIXED document (text page + scanned page) — the
    pre-fix facade routed the whole document by any-page-has-text and
    silently returned nothing for the scanned pages,
  - the extract_pdf_payload JSON envelope carrying the pixel-path flags.
"""

import base64
import json
import zlib

import pytest

from img2table_spark.kernels.pdf_doc import (
    PdfDocument,
    _page_box,
    _rendered_page,
    _vector_page,
    extract_pdf_payload,
    extract_pdf_tables_auto,
    interpret_page,
)


from img2table_spark.kernels.encoders import (
    build_borderless_text_pdf,
    build_text_pdf,
    pdf_rect_op as rect_op,
    pdf_text_op as text_op,
)


def build_mixed_pdf(scan_img) -> bytes:
    """Page 0: bordered 4×3 text table drawn with thin filled rects + text.
    Page 1: full-page scanned bitmap (no text operators)."""
    ops = []
    x0, y_top, cw, rh, ncol, nrow = 100, 700, 120, 26, 3, 4
    for r in range(nrow + 1):
        ops.append(rect_op(x0, y_top - r * rh, cw * ncol, 1.2))
    for c in range(ncol + 1):
        ops.append(rect_op(x0 + c * cw, y_top - nrow * rh, 1.2, nrow * rh))
    cells = [["Name", "Qty", "Price"], ["apple", "3", "1.20"],
             ["pear", "5", "2.10"], ["plum", "7", "0.80"]]
    for r, row in enumerate(cells):
        for c, v in enumerate(row):
            ops.append(text_op(x0 + c * cw + 8, y_top - r * rh - 18, v))
    ops.append(text_op(x0, y_top + 14, "Inventory table"))
    h_px, w_px, _ = scan_img.shape
    pw, ph = w_px * 72 / 200, h_px * 72 / 200
    scan_content = f"q {pw:.4f} 0 0 {ph:.4f} 0 0 cm /Im1 Do Q".encode()
    return build_text_pdf(
        [(612, 792, "\n".join(ops).encode(), []), (pw, ph, scan_content, [scan_img])]
    )


# -------------------------------------------------------------------- tests

@pytest.fixture(scope="module")
def test_pdf_bytes(ref_tests):
    with open(ref_tests / "document/pdf/test_data/test.pdf", "rb") as f:
        return f.read()


def test_rendered_matches_vector_on_test_pdf(test_pdf_bytes):
    """Cross-validation: the glyph-rendered pixel pipeline reproduces the
    vector-native goldens (titles, shapes, content exact; bbox ±2px) on the
    reference's own test.pdf."""
    # both page routes on the same pages, default flags + implicit rows
    doc = PdfDocument(test_pdf_bytes)
    rendered, vector, rotated = [], [], False
    for page_idx, page in enumerate(doc.pages()):
        chars, rects = interpret_page(doc, page)
        media = _page_box(doc, page)[0]
        tables, page_rotated = _rendered_page(
            doc, page, chars, page_idx, media, None, False, implicit_rows=True,
            implicit_columns=False, borderless_tables=False, min_confidence=50,
        )
        rendered.append(tables)
        rotated = rotated or page_rotated
        vector.append(_vector_page(chars, rects, page_idx, media, True, False, 50))
    assert not rotated
    assert [len(p) for p in rendered] == [len(p) for p in vector] == [2, 2]
    for pr, pv in zip(rendered, vector):
        for tr, tv in zip(pr, pv):
            assert tr.title == tv.title
            assert (tr.nb_rows, tr.nb_columns) == (tv.nb_rows, tv.nb_columns)
            assert [[c.content for c in row] for row in tr.rows] == [
                [c.content for c in row] for row in tv.rows
            ]
            for a, b in (
                (tr.x1, tv.x1), (tr.y1, tv.y1), (tr.x2, tv.x2), (tr.y2, tv.y2)
            ):
                assert abs(a - b) <= 2


def test_borderless_text_grid():
    pdf = build_borderless_text_pdf()
    pages, rotated = extract_pdf_tables_auto(pdf, borderless_tables=True)
    assert not rotated
    grids = [t for t in pages[0] if t.nb_columns == 4]
    assert len(grids) == 1
    t = grids[0]
    assert t.borderless and (t.nb_rows, t.nb_columns) == (7, 4)
    assert [c.content for c in t.rows[0]] == [
        "Metric", "BaselineQ", "TreatmentQ", "DeltaPct"
    ]
    assert [c.content for c in t.rows[3]] == ["row3metric", "103", "203", "3.5"]


def test_mixed_pdf_per_page_dispatch(ref_tests):
    from img2table_spark.kernels.png import decode_png

    scan = decode_png(
        (ref_tests / "document/image/test_data/test.png").read_bytes()
    )
    pdf = build_mixed_pdf(scan)
    pages, _ = extract_pdf_tables_auto(pdf, implicit_rows=True)
    assert len(pages) == 2
    # text page: vector path, content from the text layer
    assert [(t.nb_rows, t.nb_columns, t.title) for t in pages[0]] == [
        (4, 3, "Inventory table")
    ]
    assert [[c.content for c in row] for row in pages[0][0].rows][:2] == [
        ["Name", "Qty", "Price"], ["apple", "3", "1.20"]
    ]
    # scanned page: raster path finds table STRUCTURE even though the
    # text-page presence used to hide it entirely (no OCR → content None,
    # reference no-OCR semantics)
    assert len(pages[1]) >= 1
    assert any(t.nb_rows >= 2 and t.nb_columns >= 2 for t in pages[1])


def test_mixed_pdf_per_page_dispatch_planted():
    """The mixed document with a scan of ``render_table_page()``'s ruled
    5×3 page as page 1."""
    from tests.conftest import render_table_page

    scan, _, _ = render_table_page()
    pages, _ = extract_pdf_tables_auto(build_mixed_pdf(scan), implicit_rows=True)
    assert len(pages) == 2
    assert [(t.nb_rows, t.nb_columns, t.title) for t in pages[0]] == [
        (4, 3, "Inventory table")
    ]
    assert [[c.content for c in row] for row in pages[0][0].rows][:2] == [
        ["Name", "Qty", "Price"], ["apple", "3", "1.20"]
    ]
    # scanned page: the planted grid's structure, no OCR → no content
    assert [(t.nb_rows, t.nb_columns) for t in pages[1]] == [(5, 3)]
    assert all(c.content is None for row in pages[1][0].rows for c in row)


def test_pdf_payload_json_envelope(test_pdf_bytes):
    b64 = base64.b64encode(test_pdf_bytes).decode()
    # plain payload and explicit-default envelope agree
    plain = extract_pdf_payload(b64)
    env = extract_pdf_payload(json.dumps({"pdf": b64, "implicit_rows": True}))
    assert [t.title for t in plain] == [t.title for t in env]
    # pixel-path flags route through the glyph renderer and still find the
    # four bordered tables with identical content
    flags = extract_pdf_payload(
        json.dumps({"pdf": b64, "implicit_rows": True,
                    "borderless_tables": True, "detect_rotation": True})
    )
    assert [t.title for t in flags] == [t.title for t in plain]
    for tf, tp in zip(flags, plain):
        assert [[c.content for c in row] for row in tf.rows] == [
            [c.content for c in row] for row in tp.rows
        ]
    # borderless text grid through the payload envelope
    grid_b64 = base64.b64encode(build_borderless_text_pdf()).decode()
    tables = extract_pdf_payload(
        json.dumps({"pdf": grid_b64, "borderless_tables": True,
                    "implicit_rows": False})
    )
    assert any(
        t.borderless and (t.nb_rows, t.nb_columns) == (7, 4) for t in tables
    )


def test_rotated_text_pdf_detect_rotation_with_external_words():
    """A text-layer PDF whose content is rotated 4° routes through the pixel
    path with detect_rotation=True: the skew is detected and corrected, the
    page's own text layer is SKIPPED (its coordinates no longer match the
    fixed image — reference document/pdf.py _rotated guard), and caller-
    provided OCR words in words_by_page supply content. Rotated glyphs carry
    their text-render matrix (PdfChar.mat) and draw ink as true slanted
    quads, so the de-rotated page recovers the full 6×4 data grid with every
    row's content exact (the heading row merges into the title band)."""
    import math

    import pandas as pd

    from img2table_spark.kernels.pdf_doc import chars_to_pixel, cluster_words
    from img2table_spark.kernels.text import WORD_COLUMNS

    def grid_ops():
        ops = [text_op(90, 730, "Quarterly results overview", size=13)]
        headers = ["Metric", "BaselineQ", "TreatmentQ", "DeltaPct"]
        col_x = [90, 220, 350, 480]
        rows = [headers] + [
            [f"row{r}metric", f"{100 + r}", f"{200 + r}", f"{r}.5"]
            for r in range(1, 7)
        ]
        for r, vals in enumerate(rows):
            for x, v in zip(col_x, vals):
                ops.append(text_op(x, 700 - r * 22, v))
        return ops

    plain = build_text_pdf([(612, 792, "\n".join(grid_ops()).encode(), [])])
    doc = PdfDocument(plain)
    chars, _ = interpret_page(doc, doc.pages()[0])
    words = pd.DataFrame(
        cluster_words(chars_to_pixel(chars, 792), 0), columns=WORD_COLUMNS
    )

    a = math.radians(4)
    c, s = math.cos(a), math.sin(a)
    cx, cy = 306, 396
    e, f = cx - c * cx + s * cy, cy - s * cx - c * cy
    content = (
        f"q {c:.6f} {s:.6f} {-s:.6f} {c:.6f} {e:.4f} {f:.4f} cm\n"
        + "\n".join(grid_ops())
        + "\nQ"
    )
    rot_pdf = build_text_pdf([(612, 792, content.encode(), [])])
    pages, rotated = extract_pdf_tables_auto(
        rot_pdf, borderless_tables=True, detect_rotation=True,
        words_by_page={0: words},
    )
    assert rotated is True
    grids = [t for t in pages[0] if t.nb_columns == 4]
    assert len(grids) == 1, [(t.nb_rows, t.nb_columns) for t in pages[0]]
    t = grids[0]
    assert t.nb_rows == 6
    assert [[cell.content for cell in row] for row in t.rows] == [
        [f"row{r}metric", f"{100 + r}", f"{200 + r}", f"{r}.5"]
        for r in range(1, 7)
    ]
