import json
import sys
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


def _stop_active_streams() -> list[str]:
    """Stop every streaming query still running in this process's Spark
    session and name them. Never starts Spark: without a live session
    there is nothing to stop."""
    if "pyspark.sql" not in sys.modules:
        return []
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        return []
    active = s.streams.active
    for q in active:
        q.stop()
    return [q.name or str(q.id) for q in active]


@pytest.hookimpl(wrapper=True)
def pytest_runtest_call(item):
    """Fail a test that leaves a streaming query running (e.g. one whose
    ``awaitTermination`` timed out), and stop it so later tests start
    clean."""
    try:
        result = yield
    finally:
        leaked = _stop_active_streams()
    if leaked:
        pytest.fail(f"streaming queries left running: {leaked}", pytrace=False)
    return result


def table_page():
    """The layout ``render_table_page`` renders: a ruled 5×3 table with a
    caption on a 330×270 pt text-layer page.

    Returns (``build_text_pdf`` page tuple, expected 5×3 cell values)."""
    from img2table_spark.kernels.encoders import pdf_rect_op, pdf_text_op

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
    return (w, h, "\n".join(ops).encode(), []), grid


def render_table_page():
    """A ruled 5×3 table with a caption, rendered from a text-layer PDF at
    200 DPI, and an hOCR word layer from the PDF's own word boxes.

    Returns (rgb uint8 page, hOCR string, expected 5×3 cell values)."""
    from html import escape

    from img2table_spark.kernels.encoders import build_text_pdf
    from img2table_spark.kernels.pdf_doc import (
        PdfDocument,
        chars_to_pixel,
        cluster_words,
        interpret_page,
        render_pdf_text_page,
    )

    pdf_page, grid = table_page()
    h = pdf_page[1]
    doc = PdfDocument(build_text_pdf([pdf_page]))
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


#: Upper bound on skipped tests and the one reason a test may skip. The
#: bound may only go down; partial runs stay under it.
SKIP_BUDGET = 108
SKIP_REASON = "reference test fixtures not available"


def pytest_sessionfinish(session, exitstatus):
    reporter = session.config.pluginmanager.get_plugin("terminalreporter")
    if reporter is None:
        return
    skipped = reporter.stats.get("skipped", [])
    reasons = {
        (r.longrepr[2] if isinstance(r.longrepr, tuple) else str(r.longrepr))
        .removeprefix("Skipped: ")
        for r in skipped
    }
    problems = []
    if len(skipped) > SKIP_BUDGET:
        problems.append(f"{len(skipped)} tests skipped, budget is {SKIP_BUDGET}")
    if reasons - {SKIP_REASON}:
        problems.append(f"skip reasons besides {SKIP_REASON!r}: {sorted(reasons - {SKIP_REASON})}")
    for p in problems:
        reporter.write_line(f"skip budget: {p}", red=True)
    if problems:
        session.exitstatus = pytest.ExitCode.TESTS_FAILED
