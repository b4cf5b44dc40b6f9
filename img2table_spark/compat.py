"""Drop-in facade mirroring the reference's public API.

A user of ``img2table`` can switch imports and keep their code:

    from img2table_spark.compat import Image, PDF, HocrOCR, WordTableOCR

    tables = Image(src).extract_tables(ocr=HocrOCR([hocr_html]),
                                       implicit_rows=True)
    tables[0].bbox, tables[0].title, tables[0].content, tables[0].df,
    tables[0].html, Image(src).to_xlsx("out.xlsx", ...)

Parity targets: Document/Image/PDF surface
(reference src/img2table/document/*), ExtractedTable accessors
(reference src/img2table/tables/objects/extraction.py:129-226). OCR engines
are injected as word tables (``WordTableOCR``) or hOCR strings
(``HocrOCR``) — the same mechanism the reference's own test suite uses.
Heavy lifting is the exact same kernels the Spark operator runs; this
facade is the single-document local path.
"""

from __future__ import annotations

import io
from collections import OrderedDict
from dataclasses import dataclass
from pathlib import Path

import pandas as pd

from img2table_spark.kernels.document import extract_image_tables
from img2table_spark.kernels.hocr import parse_hocr_pages
from img2table_spark.kernels.html_io import extracted_table_html
from img2table_spark.kernels.objects import Table
from img2table_spark.kernels.xlsx import tables_to_xlsx_bytes


@dataclass
class BBox:
    x1: int
    y1: int
    x2: int
    y2: int


@dataclass
class TableCell:
    bbox: BBox
    value: str | None


class ExtractedTable:
    """reference: tables/objects/extraction.py:129-226."""

    def __init__(self, table: Table):
        self._table = table
        self.bbox = BBox(table.x1, table.y1, table.x2, table.y2)
        self.title = table.title
        self.content: OrderedDict[int, list[TableCell]] = OrderedDict(
            (
                idx,
                [
                    TableCell(BBox(c.x1, c.y1, c.x2, c.y2), c.content)
                    for c in row
                ],
            )
            for idx, row in enumerate(table.rows)
        )

    @property
    def df(self) -> pd.DataFrame:
        return pd.DataFrame([[c.value for c in row] for row in self.content.values()])

    @property
    def html(self) -> str:
        return extracted_table_html(self._table)

    def __repr__(self) -> str:
        return (
            f"ExtractedTable(title={self.title}, bbox=({self.bbox.x1}, {self.bbox.y1}, "
            f"{self.bbox.x2}, {self.bbox.y2}),shape=({len(self.content)}, "
            f"{len(self.content[0])}))".strip()
        )


class WordTableOCR:
    """Any OCR output already normalized to the 10-column word table."""

    def __init__(self, words: pd.DataFrame):
        self.words = words

    def words_for_page(self, page: int) -> pd.DataFrame:
        return self.words[self.words["page"] == page]


class HocrOCR(WordTableOCR):
    """Tesseract-style hOCR pages (reference: ocr/tesseract.py)."""

    def __init__(self, hocr_pages: list[str]):
        super().__init__(parse_hocr_pages(hocr_pages))


class TesseractOCR:
    """Live Tesseract subprocess driver (reference: ocr/tesseract.py:68-141).

    Shells out to the `tesseract` binary per image and parses the hOCR
    through the same kernel as HocrOCR. A custom ``runner(img) -> hocr_html``
    can be injected for tests (the reference's own suite mocks the
    subprocess the same way). Raises OSError when the binary is absent,
    like the reference."""

    def __init__(self, lang: str = "eng", psm: int = 11, runner=None):
        self.lang = lang
        self.psm = psm
        self._runner = runner
        if runner is None:
            import shutil

            if shutil.which("tesseract") is None:
                raise OSError("Tesseract not found in PATH")

    def _hocr(self, img) -> str:
        if self._runner is not None:
            return self._runner(img)
        import subprocess
        import tempfile
        from pathlib import Path as _P

        from img2table_spark.kernels.encoders import encode_bmp24

        with tempfile.NamedTemporaryFile(suffix=".bmp", delete=False) as f:
            f.write(encode_bmp24(img))
            tmp = f.name
        try:
            return subprocess.check_output(
                ["tesseract", tmp, "stdout", "--psm", str(self.psm),
                 "-l", self.lang, "hocr"],
                stderr=subprocess.DEVNULL,
            ).decode("utf-8")
        finally:
            _P(tmp).unlink(missing_ok=True)

    def words_from_image(self, img) -> pd.DataFrame:
        return parse_hocr_pages([self._hocr(img)])


def _read_src(src) -> bytes:
    if isinstance(src, (str, Path)):
        return Path(src).read_bytes()
    if isinstance(src, io.BytesIO):
        return src.getvalue()
    if isinstance(src, bytes):
        return src
    raise TypeError(f"Invalid type {type(src)} for src argument")


class Image:
    """reference: document/image.py."""

    def __init__(self, src, detect_rotation: bool = False):
        if not isinstance(detect_rotation, bool):
            raise TypeError(
                f"Invalid type {type(detect_rotation)} for detect_rotation argument"
            )
        self.bytes = _read_src(src)
        self.detect_rotation = detect_rotation

    @property
    def images(self):
        from img2table_spark.kernels.image_doc import decode_image_bytes

        return [decode_image_bytes(self.bytes)]

    def extract_tables(
        self,
        ocr: WordTableOCR | None = None,
        implicit_rows: bool = False,
        implicit_columns: bool = False,
        borderless_tables: bool = False,
        min_confidence: int = 50,
    ) -> list[ExtractedTable]:
        if ocr is None:
            words = None
        elif hasattr(ocr, "words_from_image"):  # image-driven engines
            words = ocr.words_from_image(self.images[0])
        else:
            words = ocr.words_for_page(0)
        tables = extract_image_tables(
            self.images[0],
            words=words,
            implicit_rows=implicit_rows,
            implicit_columns=implicit_columns,
            borderless_tables=borderless_tables,
            min_confidence=min_confidence,
            detect_rotation=self.detect_rotation,
        )
        return [ExtractedTable(tb) for tb in tables]

    def to_xlsx(self, dest, **kwargs):
        tables = self.extract_tables(**kwargs)
        data = tables_to_xlsx_bytes({0: [t._table for t in tables]})
        if isinstance(dest, io.BytesIO):
            dest.write(data)
            dest.seek(0)
            return dest
        Path(dest).write_bytes(data)
        return None


class PDF:
    """reference: document/pdf.py (vector-native path; scanned pages fall
    back to the raster pipeline — true 200-DPI page composition).

    Matches the reference's conventions: ``pages`` is sorted in the
    constructor (Document.__post_init__) and the result dict is keyed by the
    ORDINAL index of the rendered pages (pages=[1] → key 0), so a drop-in
    caller's ``extract_tables()[0]`` and xlsx sheet names line up."""

    def __init__(self, src, pages: list[int] | None = None, detect_rotation: bool = False):
        if pages is not None:
            if not isinstance(pages, list) or not all(isinstance(p, int) for p in pages):
                raise TypeError(f"Invalid type {type(pages)} for pages argument")
        if not isinstance(detect_rotation, bool):
            raise TypeError(f"Invalid type {type(detect_rotation)} for detect_rotation argument")
        self.bytes = _read_src(src)
        self.pages = sorted(pages) if pages is not None else None
        self.detect_rotation = detect_rotation

    def extract_tables(
        self,
        ocr: WordTableOCR | None = None,
        implicit_rows: bool = False,
        implicit_columns: bool = False,
        borderless_tables: bool = False,
        min_confidence: int = 50,
    ) -> dict[int, list[ExtractedTable]]:
        from img2table_spark.kernels.pdf_doc import extract_pdf_tables_auto
        from img2table_spark.kernels.pdf_native import PdfDocument

        doc = PdfDocument(self.bytes)
        n = len(doc.pages())
        req = self.pages if self.pages is not None else list(range(n))
        req = [p for p in req if 0 <= p < n]
        # Route selection is PER PAGE (reference renders/extracts each page
        # independently, document/pdf.py:46-67): text-layer pages take the
        # vector-native path — or the glyph-rendered pixel path when a
        # pixel-only flag (borderless_tables / detect_rotation) is set —
        # while scanned pages always take the raster-composition path, so a
        # mixed PDF extracts from both kinds. On unrotated text pages the
        # page's own text layer wins over a user-passed `ocr` (PdfOCR
        # semantics, document/pdf.py get_table_content); `ocr` words apply
        # to scanned and rotation-corrected pages.
        words_by_page = (
            {p: ocr.words_for_page(i) for i, p in enumerate(req)}
            if ocr is not None
            else None
        )
        per_page, _ = extract_pdf_tables_auto(
            doc,
            pages=req,
            implicit_rows=implicit_rows,
            implicit_columns=implicit_columns,
            borderless_tables=borderless_tables,
            min_confidence=min_confidence,
            detect_rotation=self.detect_rotation,
            words_by_page=words_by_page,
        )
        return {
            i: [ExtractedTable(tb) for tb in tbls] for i, tbls in enumerate(per_page)
        }

    def to_xlsx(self, dest, **kwargs):
        pages = self.extract_tables(**kwargs)
        data = tables_to_xlsx_bytes({p: [t._table for t in tbs] for p, tbs in pages.items()})
        if isinstance(dest, io.BytesIO):
            dest.write(data)
            dest.seek(0)
            return dest
        Path(dest).write_bytes(data)
        return None
