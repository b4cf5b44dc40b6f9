"""PDF vector-native path parity vs the reference's e2e goldens
(oracle: tests/document/pdf/test_pdf.py:48-72 — titles and 5×4 shapes are
hard asserts; the reference marks the pixel bboxes as Python-version-
fragile, so ±2 px is allowed here)."""

import base64

import pytest

from img2table_spark.kernels.pdf_doc import (
    extract_pdf_payload,
    extract_pdf_tables_auto,
)
from img2table_spark.kernels.pdf_native import PdfDocument, interpret_page


@pytest.fixture(scope="module")
def pdf_bytes(ref_tests):
    with open(ref_tests / "document/pdf/test_data/test.pdf", "rb") as f:
        return f.read()


def test_pdf_parse(pdf_bytes):
    doc = PdfDocument(pdf_bytes)
    pages = doc.pages()
    assert len(pages) == 2
    chars, rects = interpret_page(doc, pages[0])
    text = "".join(c.value for c in chars[:23])
    assert text == "Example of Data Table 1"
    assert len(rects) > 100


def test_pdf_tables(pdf_bytes):
    pages, _ = extract_pdf_tables_auto(pdf_bytes, implicit_rows=True)
    assert [len(p) for p in pages] == [2, 2]

    golden = {
        (0, 0): ("Example of Data Table 1", (235, 249, 1442, 543)),
        (0, 1): ("Example of Data Table 2", (236, 672, 1452, 972)),
        (1, 0): ("Example of Data Table 3", (235, 249, 1442, 543)),
        (1, 1): ("Example of Data Table 4", (236, 672, 1452, 972)),
    }
    for (p, i), (title, bbox) in golden.items():
        tb = pages[p][i]
        assert tb.title == title
        assert (tb.nb_rows, tb.nb_columns) == (5, 4)
        got = (tb.x1, tb.y1, tb.x2, tb.y2)
        assert all(abs(g - w) <= 2 for g, w in zip(got, bbox)), (got, bbox)

    t1 = pages[0][0]
    assert [c.content for c in t1.rows[0]] == [
        "sample", "blue LED value", "green LED value", "red LED value",
    ]


def test_pdf_payload_udf_entry(pdf_bytes):
    tables = extract_pdf_payload(base64.b64encode(pdf_bytes).decode())
    assert len(tables) == 4
    assert {tb.title for tb in tables} == {
        f"Example of Data Table {i}" for i in range(1, 5)
    }


def test_pdf_payload_rejects_garbage():
    from img2table_spark.operators.extract import PayloadError

    with pytest.raises(PayloadError):
        extract_pdf_payload("!!!notb64")
    with pytest.raises(PayloadError):
        extract_pdf_payload(base64.b64encode(b"not a pdf at all").decode())
