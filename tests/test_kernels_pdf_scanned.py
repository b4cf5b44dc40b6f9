"""Scanned-PDF raster path: an image-only PDF page (Flate bitmap XObject)
goes through decode → pixel pipeline; golden = the embedded image's own
reference expectations (test.png 2 tables). The planted counterparts scan
``render_table_page()``'s ruled 5×3 page and run without the reference
fixtures."""

import base64
import zlib

import pytest

from img2table_spark.kernels.pdf_doc import (
    extract_pdf_payload,
    extract_pdf_tables_auto,
)
from img2table_spark.kernels.hocr import parse_hocr_pages
from img2table_spark.kernels.png import decode_png

from tests.conftest import render_table_page


def _build_pdf(page_w: float, page_h: float, images: list, content: bytes) -> bytes:
    """Minimal one-page PDF: `images` is a list of RGB arrays registered as
    /Im1.. /ImN; `content` places them."""
    objs: list[bytes] = []
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    xobj_entries = " ".join(f"/Im{i + 1} {4 + i} 0 R" for i in range(len(images)))
    objs.append(
        f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {page_w:.4f} {page_h:.4f}] "
        f"/Resources << /XObject << {xobj_entries} >> >> "
        f"/Contents {4 + len(images)} 0 R >>".encode()
    )

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    for i, img in enumerate(images):
        h_px, w_px, _ = img.shape
        img_stream = zlib.compress(img.tobytes())
        offsets.append(len(out))
        out += (
            f"{4 + i} 0 obj\n<< /Type /XObject /Subtype /Image /Width {w_px} "
            f"/Height {h_px} /ColorSpace /DeviceRGB /BitsPerComponent 8 "
            f"/Filter /FlateDecode /Length {len(img_stream)} >>\nstream\n".encode()
        )
        out += img_stream + b"\nendstream\nendobj\n"
    offsets.append(len(out))
    out += f"{4 + len(images)} 0 obj\n<< /Length {len(content)} >>\nstream\n".encode()
    out += content + b"\nendstream\nendobj\n"

    xref_pos = len(out)
    n = 5 + len(images)
    out += f"xref\n0 {n}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {n} /Root 1 0 R >>\nstartxref\n{xref_pos}\n%%EOF".encode()
    )
    return bytes(out)


def _build_scanned_pdf(img) -> bytes:
    """One full-page RGB bitmap XObject; page size chosen so the 200-DPI
    page space equals image pixels."""
    h_px, w_px, _ = img.shape
    page_w = w_px * 72 / 200
    page_h = h_px * 72 / 200
    content = f"q {page_w:.4f} 0 0 {page_h:.4f} 0 0 cm /Im1 Do Q".encode()
    return _build_pdf(page_w, page_h, [img], content)


def _build_tiled_scanned_pdf(img) -> bytes:
    """The same scan split into 2x2 tiles, each placed by its own CTM — the
    shape that defeats a largest-XObject heuristic and requires true page
    composition (VERDICT round 1, next #9)."""
    h_px, w_px, _ = img.shape
    page_w = w_px * 72 / 200
    page_h = h_px * 72 / 200
    rm, cm = h_px // 2, w_px // 2
    tiles = [
        img[:rm, :cm], img[:rm, cm:],  # top-left, top-right
        img[rm:, :cm], img[rm:, cm:],  # bottom-left, bottom-right
    ]
    k = 72 / 200  # px → pt
    w_l, w_r = cm * k, (w_px - cm) * k
    h_t, h_b = rm * k, (h_px - rm) * k
    # PDF origin is bottom-left: top tiles sit at y = h_b
    place = [
        (1, w_l, h_t, 0.0, h_b), (2, w_r, h_t, w_l, h_b),
        (3, w_l, h_b, 0.0, 0.0), (4, w_r, h_b, w_l, 0.0),
    ]
    content = b" ".join(
        f"q {w:.4f} 0 0 {h:.4f} {x:.4f} {y:.4f} cm /Im{i} Do Q".encode()
        for i, w, h, x, y in place
    )
    return _build_pdf(page_w, page_h, tiles, content)


@pytest.fixture(scope="module")
def scanned_pdf(ref_tests):
    with open(ref_tests / "tables/image/test_data/test.png", "rb") as f:
        img = decode_png(f.read())
    return _build_scanned_pdf(img)


def test_scanned_pdf_raster_path(scanned_pdf):
    pages, _ = extract_pdf_tables_auto(scanned_pdf, implicit_rows=True)
    assert len(pages) == 1
    got = sorted(
        ((tb.x1, tb.y1, tb.x2, tb.y2), (tb.nb_rows, tb.nb_columns)) for tb in pages[0]
    )
    # golden: the embedded image's own reference expectations
    assert got == [((36, 21, 770, 327), (6, 3)), ((962, 21, 1154, 123), (2, 2))]


def test_tiled_scanned_pdf_composes_page(ref_tests):
    """A scan split into 4 tile XObjects placed via CTMs must extract the
    same golden tables as the single full-page scan."""
    with open(ref_tests / "tables/image/test_data/test.png", "rb") as f:
        img = decode_png(f.read())
    pages, _ = extract_pdf_tables_auto(_build_tiled_scanned_pdf(img), implicit_rows=True)
    assert len(pages) == 1
    got = sorted(
        ((tb.x1, tb.y1, tb.x2, tb.y2), (tb.nb_rows, tb.nb_columns)) for tb in pages[0]
    )
    assert got == [((36, 21, 770, 327), (6, 3)), ((962, 21, 1154, 123), (2, 2))]


def test_scanned_pdf_payload_fallback(scanned_pdf):
    """extract_pdf_payload auto-falls back to the raster path for image-only
    PDFs."""
    tables = extract_pdf_payload(base64.b64encode(scanned_pdf).decode())
    assert len(tables) == 2
    shapes = sorted((tb.nb_rows, tb.nb_columns) for tb in tables)
    assert shapes == [(2, 2), (6, 3)]


# ------------------------------------------------ planted 5×3 counterparts

@pytest.fixture(scope="module")
def planted_scan():
    """(single-scan PDF, tiled-scan PDF, hOCR words, 5×3 grid) of the
    rendered table page."""
    img, hocr, grid = render_table_page()
    return _build_scanned_pdf(img), _build_tiled_scanned_pdf(img), hocr, grid


def test_scanned_pdf_raster_path_planted(planted_scan):
    pdf, _, hocr, grid = planted_scan
    pages, _ = extract_pdf_tables_auto(pdf, implicit_rows=True)
    assert [[(tb.nb_rows, tb.nb_columns) for tb in p] for p in pages] == [[(5, 3)]]
    # OCR words for the scan supply the content
    pages, _ = extract_pdf_tables_auto(
        pdf, implicit_rows=True, words_by_page={0: parse_hocr_pages([hocr])}
    )
    assert [[c.content for c in row] for row in pages[0][0].rows] == grid


def test_tiled_scanned_pdf_composes_page_planted(planted_scan):
    pdf, tiled, _, _ = planted_scan
    single, _ = extract_pdf_tables_auto(pdf, implicit_rows=True)
    pages, _ = extract_pdf_tables_auto(tiled, implicit_rows=True)
    got = [((tb.x1, tb.y1, tb.x2, tb.y2), (tb.nb_rows, tb.nb_columns)) for tb in pages[0]]
    assert got == [((tb.x1, tb.y1, tb.x2, tb.y2), (5, 3)) for tb in single[0]]
    assert len(got) == 1


def test_scanned_pdf_payload_fallback_planted(planted_scan):
    tables = extract_pdf_payload(base64.b64encode(planted_scan[0]).decode())
    assert [(tb.nb_rows, tb.nb_columns) for tb in tables] == [(5, 3)]
