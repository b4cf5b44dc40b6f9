import json
from pathlib import Path

import pandas as pd
import pytest

REF_TESTS = Path("/root/reference/tests")


@pytest.fixture(scope="session")
def ref_tests() -> Path:
    if not REF_TESTS.exists():
        pytest.skip("reference test fixtures not available")
    return REF_TESTS


def load_words_csv(path: Path) -> pd.DataFrame:
    """Load a reference 10-column OCR word table (';'-separated CSV)."""
    df = pd.read_csv(path, sep=";", dtype={"value": str})
    return df


def load_table_json(path: Path):
    """Load a reference table fixture: list of rows, row = list of cell dicts."""
    from img2table_spark.kernels.objects import Cell, Table

    with open(path) as f:
        raw = json.load(f)
    return Table(rows=[[Cell(**el) for el in row] for row in raw])


@pytest.fixture(scope="session")
def spark():
    from img2table_spark.session import get_spark

    s = get_spark(app_name="img2table-spark-tests")
    yield s


def render_table_page():
    """A ruled 5×3 table with a caption, rendered from a text-layer PDF at
    200 DPI, and an hOCR word layer from the PDF's own word boxes.

    Returns (rgb uint8 page, hOCR string, expected 5×3 cell values)."""
    from html import escape

    from img2table_spark.kernels.encoders import build_text_pdf, pdf_rect_op, pdf_text_op
    from img2table_spark.kernels.pdf_doc import (
        PdfDocument,
        chars_to_pixel,
        cluster_words,
        interpret_page,
        render_pdf_text_page,
    )

    w, h, x0, cw, rh, top = 330.0, 270.0, 24.0, 94.0, 24.0, 230.0
    grid = [[f"v{r}{c}x{r * c}" for c in range(3)] for r in range(5)]
    ops = [pdf_rect_op(x0, top - r * rh, 3 * cw, 1.2) for r in range(6)]
    ops += [pdf_rect_op(x0 + c * cw, top - 5 * rh, 1.2, 5 * rh) for c in range(4)]
    ops += [
        pdf_text_op(x0 + c * cw + 8, top - r * rh - 17, v)
        for r, row in enumerate(grid)
        for c, v in enumerate(row)
    ]
    ops.append(pdf_text_op(x0, top + 12, "Table caption"))
    doc = PdfDocument(build_text_pdf([(w, h, "\n".join(ops).encode(), [])]))
    page = doc.pages()[0]
    img = render_pdf_text_page(doc, page)
    chars, _ = interpret_page(doc, page)
    spans = "".join(
        f'<span class="ocr_line" id="{wd["parent"]}_{i}" title="bbox {wd["x1"]} {wd["y1"]} '
        f'{wd["x2"]} {wd["y2"]}"><span class="ocrx_word" id="{wd["id"]}" '
        f'title="bbox {wd["x1"]} {wd["y1"]} {wd["x2"]} {wd["y2"]}; x_wconf 95">'
        f"{escape(wd['value'])}</span></span>"
        for i, wd in enumerate(cluster_words(chars_to_pixel(chars, h), 0))
    )
    ih, iw = img.shape[:2]
    hocr = f'<div class="ocr_page" id="page_1" title="bbox 0 0 {iw} {ih}">{spans}</div>'
    return img, hocr, grid
