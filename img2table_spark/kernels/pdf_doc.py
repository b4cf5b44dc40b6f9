"""PDF payload path: one page loop, three page routes.

The reference renders every page at 200 DPI and runs the image pipeline on
it (document/pdf.py:46-67). ``extract_pdf_tables_auto`` is the one PDF page
loop: it parses the bytes once, walks the page tree once, and for each
requested page interprets the content stream once and sizes its 200-DPI
canvas with ``_page_box`` (the one MediaBox reader, shared with the two
renderers). A page whose canvas is empty or larger than ``_MAX_CANVAS_PX``
yields no tables. Otherwise the route rule picks one page function:

  - no text → raster (``_raster_page``): ``rasterize_pdf_page`` composes
    the page's image XObjects through their CTMs, vector rects on top, and
    the pixel pipeline runs with caller-supplied OCR words
  - text + ``borderless_tables`` or ``detect_rotation`` → rendered
    (``_rendered_page``): ``render_pdf_text_page`` draws one ink box per
    glyph, and the pixel pipeline runs with words clustered from the same
    chars (caller words if the page was rotation-corrected)
  - text, default flags → vector (``_vector_page``): the pixel pipeline's
    inputs come straight from the vector content:

      - table borders: stroked/filled path geometry drawn into a sparse
        binary mask at 200 DPI → the SAME golden-tested line detector
        (B1's morphology chain, kernels/lines.py:identify_straight_lines)
      - characters: text operators + font metrics → charboxes in the
        reference's 200-DPI coordinate space (ocr/pdf.py:119-152 transform)
      - words: the reference's char-clustering rules verbatim
        (ocr/pdf.py:106-197): split on whitespace chars, direction-coherent
        y/x-overlap ≥ 0.5·min height, distance ≤ 2·word size
      - char_length / median_line_sep / contours: computed from charboxes
        and word boxes with the same estimators the reference applies to
        pixel connected components (metrics.py:251-293,330-401)

    then B2–B12 + T1–T8 run unchanged. Output contract: same tables, titles
    and 200-DPI bboxes as the reference's raster path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from img2table_spark.kernels.cells import get_cells
from img2table_spark.kernels.document import extract_image_tables
from img2table_spark.kernels.implicit import implicit_content
from img2table_spark.kernels.lines import identify_straight_lines
from img2table_spark.kernels.metrics import get_row_separations
from img2table_spark.kernels.objects import Cell, Line, Table
from img2table_spark.kernels.payload import PayloadError, parse_envelope
from img2table_spark.kernels.pdf_native import (
    SCALE,
    PdfChar,
    PdfDocument,
    PdfError,
    PdfRect,
    interpret_page,
    interpret_page_full,
)
from img2table_spark.kernels.tables import get_tables, merge_consecutive_tables
from img2table_spark.kernels.text import WORD_COLUMNS, get_text_cell, table_get_content
from img2table_spark.kernels.common import merge_contours


# ------------------------------------------------- words (ocr/pdf.py port)

class _Word:
    __slots__ = ("idx", "line_idx", "chars")

    def __init__(self, idx, line_idx, chars):
        self.idx = idx
        self.line_idx = line_idx
        self.chars = chars

    @property
    def x1(self):
        return min(c[1] for c in self.chars) if self.chars else 0

    @property
    def y1(self):
        return min(c[2] for c in self.chars) if self.chars else 0

    @property
    def x2(self):
        return max(c[3] for c in self.chars) if self.chars else 0

    @property
    def y2(self):
        return max(c[4] for c in self.chars) if self.chars else 0

    @property
    def width(self):
        return (self.x2 - self.x1) or 1

    @property
    def height(self):
        return (self.y2 - self.y1) or 1

    @property
    def value(self):
        return "".join(c[0] for c in self.chars) if self.chars else None

    @property
    def direction(self):
        if len(self.chars) >= 3:
            if self.width / self.height >= 2:
                return "horizontal"
            if self.height / self.width >= 2:
                return "vertical"
        return "unknown"

    @property
    def size(self):
        if not self.chars:
            return 0
        if self.direction == "horizontal":
            return float(np.mean([(c[3] - c[1]) or 1 for c in self.chars]))
        if self.direction == "vertical":
            return float(np.mean([(c[4] - c[2]) or 1 for c in self.chars]))
        return float(np.mean([max((c[4] - c[2]) or 1, (c[3] - c[1]) or 1) for c in self.chars]))

    def distance(self, ch):
        if not self.chars:
            return 0
        last = self.chars[-1]
        return (
            ((last[3] + last[1] - ch[3] - ch[1]) / 2) ** 2
            + ((last[4] + last[2] - ch[4] - ch[2]) / 2) ** 2
        ) ** 0.5

    def corresponds(self, ch):
        if not self.chars:
            return True
        if self.direction == "horizontal":
            return min(self.y2, ch[4]) - max(self.y1, ch[2]) >= 0.5 * min(
                self.height, (ch[4] - ch[2]) or 1
            )
        if self.direction == "vertical":
            return min(self.x2, ch[3]) - max(self.x1, ch[1]) >= 0.5 * min(
                self.width, (ch[3] - ch[1]) or 1
            )
        return self.distance(ch) <= 3 * self.size


def chars_to_pixel(chars: list[PdfChar], page_height: float) -> list[tuple]:
    """(value, x1, y1, x2, y2, iy1, iy2) int pixel tuples (reference
    transform: ocr/pdf.py:146-152 — int() truncation, y flip). iy* are the
    tight ink bounds used for contour synthesis."""
    out = []
    for c in chars:
        x1 = int(c.x1 * SCALE)
        y1 = int((page_height - c.y2) * SCALE)
        x2 = int(c.x2 * SCALE)
        y2 = int((page_height - c.y1) * SCALE)
        iy1 = int((page_height - c.iy2) * SCALE)
        iy2 = int((page_height - c.iy1) * SCALE)
        out.append(
            (c.value, min(x1, x2), min(y1, y2), max(x1, x2), max(y1, y2),
             min(iy1, iy2), max(iy1, iy2))
        )
    return out


def cluster_words(px_chars: list[tuple], page_idx: int) -> list[dict]:
    """(reference: ocr/pdf.py:171-200)"""
    word_id, line_id = 1, 1
    words = [_Word(1, 1, [])]
    for ch in px_chars:
        if ch[0].strip() == "":
            word_id += 1
        elif words[-1].corresponds(ch):
            if words[-1].distance(ch) <= 2 * words[-1].size and word_id == words[-1].idx:
                words[-1].chars.append(ch)
            else:
                word_id += 1
                words.append(_Word(word_id, line_id, [ch]))
        else:
            word_id += 1
            line_id += 1
            words.append(_Word(word_id, line_id, [ch]))
    return [
        {
            "page": page_idx,
            "class": "ocrx_word",
            "id": f"word_{page_idx + 1}_{w.line_idx}_{w.idx}",
            "parent": f"line_{page_idx + 1}_{w.line_idx}",
            "value": w.value,
            "confidence": 99,
            "x1": w.x1,
            "y1": w.y1,
            "x2": w.x2,
            "y2": w.y2,
        }
        for w in words
        if w.value
    ]


# ---------------------------------------------------------- vector lines

def detect_pdf_lines(
    rects: list[PdfRect], page_height: float, img_shape: tuple[int, int],
    min_line_length: float, char_length: float,
) -> tuple[list[Line], list[Line]]:
    """Draw vector strokes/fills into a binary 200-DPI mask and reuse the
    golden-tested morphological line detector."""
    H, W = img_shape
    mask = np.zeros((H, W), dtype=np.uint8)
    for r in rects:
        if r.fill_white and r.stroke_width == 0:
            continue  # invisible on paper
        x1 = int(r.x1 * SCALE)
        x2 = int(np.ceil(r.x2 * SCALE))
        y1 = int((page_height - r.y2) * SCALE)
        y2 = int(np.ceil((page_height - r.y1) * SCALE))
        x2 = max(x2, x1 + 1)
        y2 = max(y2, y1 + 1)
        w, h = x2 - x1, y2 - y1
        line_like = min(w, h) <= max(6, 2 * int(round(r.stroke_width * SCALE))) or (
            min(w, h) <= 0.15 * max(w, h)
        )
        if line_like:
            mask[max(0, y1) : min(H, y2), max(0, x1) : min(W, x2)] = 255
        else:
            # big ink fill: the raster edge detector would see its 4 edges
            mask[max(0, y1) : min(H, y1 + 1), max(0, x1) : min(W, x2)] = 255
            mask[max(0, y2 - 1) : min(H, y2), max(0, x1) : min(W, x2)] = 255
            mask[max(0, y1) : min(H, y2), max(0, x1) : min(W, x1 + 1)] = 255
            mask[max(0, y1) : min(H, y2), max(0, x2 - 1) : min(W, x2)] = 255

    h_lines = identify_straight_lines(mask, min_line_length, char_length, vertical=False)
    v_lines = identify_straight_lines(mask, min_line_length, char_length, vertical=True)
    return h_lines, v_lines


# ------------------------------------------------------------- metrics

def pdf_metrics(px_chars: list[tuple], words: list[dict]):
    """char_length / median_line_sep / contours from charboxes + word boxes,
    using the reference's estimators (metrics.py:280-284, 330-401)."""
    widths = [c[3] - c[1] for c in px_chars if c[0].strip() != "" and c[3] - c[1] > 0]
    if not widths:
        return None, None, []
    argmax_cl = float(np.argmax(np.bincount(widths)))
    mean_cl = float(np.mean(widths))
    char_length = mean_cl if 1.5 * argmax_cl <= mean_cl else argmax_cl

    # contours = words merged per visual line (the closing-by-half-char
    # analog): merge word boxes whose x-gap ≤ char_length/2 on overlapping y.
    # Vertical extent uses the TIGHT ink bounds — a pixel pipeline's contours
    # never touch border lines, and the loose FontBBox box does.
    ink_bounds: dict[tuple, tuple] = {}
    for c in px_chars:
        if c[0].strip() == "":
            continue
        key = (c[1], c[2], c[3], c[4])
        ink_bounds[key] = (c[5], c[6])

    def tight_cell(w) -> Cell:
        iys = [
            ink_bounds[k]
            for k in ink_bounds
            if k[0] >= w["x1"] and k[2] <= w["x2"] and k[1] >= w["y1"] and k[3] <= w["y2"]
        ]
        if iys:
            return Cell(w["x1"], min(i[0] for i in iys), w["x2"], max(i[1] for i in iys))
        return Cell(w["x1"], w["y1"], w["x2"], w["y2"])

    cells = [tight_cell(w) for w in words]
    merged: list[Cell] = []
    for c in sorted(cells, key=lambda c: (c.y1, c.x1)):
        hit = None
        for m in merged:
            y_ov = min(m.y2, c.y2) - max(m.y1, c.y1)
            if y_ov > 0.5 * min(m.y2 - m.y1, c.y2 - c.y1) and (
                -char_length / 2 <= c.x1 - m.x2 <= char_length / 2 or c.x1 <= m.x2
            ):
                hit = m
                break
        if hit:
            hit.x1, hit.y1 = min(hit.x1, c.x1), min(hit.y1, c.y1)
            hit.x2, hit.y2 = max(hit.x2, c.x2), max(hit.y2, c.y2)
        else:
            merged.append(Cell(c.x1, c.y1, c.x2, c.y2))

    stats = np.array(
        [[m.x1, m.y1, m.x2 - m.x1, m.y2 - m.y1] for m in merged], dtype=np.int64
    )
    seps = get_row_separations(stats, char_length) if len(stats) else []
    if seps:
        bins = [2 * (s // 2) + 1 for s in seps]
        counts: dict[float, int] = {}
        for b in bins:
            counts[b] = counts.get(b, 0) + 1
        median_line_sep = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    else:
        median_line_sep = None
    return char_length, median_line_sep, merged


# ------------------------------------------------------------- titles

def _pdf_titles(tables: list[Table], words: pd.DataFrame, contours: list[Cell], width: int):
    """T8 analog with word-blob contours instead of pixel contours
    (reference: processing/text/titles.py:11-64)."""
    if not tables:
        return []
    sorted_tables = sorted(tables, key=lambda tb: (tb.y1, tb.x1, tb.x2))
    clusters = [[sorted_tables[0]]]
    for tb in sorted_tables[1:]:
        if tb.y1 > clusters[-1][-1].y2:
            clusters.append([])
        clusters[-1].append(tb)

    final = []
    for id_cl, cluster in enumerate(clusters):
        x_delims = [round((t1.x2 + t2.x1) / 2) for t1, t2 in zip(cluster, cluster[1:])]
        x_delims = [
            max(10, round(cluster[0].x1 - 0.2 * (cluster[0].x2 - cluster[0].x1))),
            *x_delims,
            width - 10,
        ]
        x_delims = [
            *x_delims,
            min(width - 10, round(cluster[-1].x2 + 0.2 * (cluster[-1].x2 - cluster[-1].x1))),
        ]
        x_bounds = list(zip(x_delims, x_delims[1:]))
        y_bounds = (
            max(tb.y2 for tb in clusters[id_cl - 1]) if id_cl > 0 else 0,
            min(tb.y1 for tb in cluster),
        )
        for id_tb, table in enumerate(cluster):
            zone = Cell(x1=x_bounds[id_tb][0], y1=y_bounds[0], x2=x_bounds[id_tb][1], y2=y_bounds[1])
            in_zone = [
                c
                for c in contours
                if c.x1 >= zone.x1 and c.x2 <= zone.x2 and c.y1 >= zone.y1 and c.y2 <= zone.y2
            ]
            merged = merge_contours(in_zone, vertically=True)
            title = get_text_cell(words, merged[-1], margin=5) if merged else None
            table.title = title
            final.append(table)
    return final


# --------------------------------------------------------------- pipeline

def _vector_page(
    chars: list[PdfChar], rects: list[PdfRect], page_idx: int, media: list[float],
    implicit_rows: bool, implicit_columns: bool, min_confidence: int,
) -> list[Table]:
    """Vector route: one text-layer page → content-filled tables."""
    page_h = media[3] - media[1]
    img_shape = (int(page_h * SCALE), int((media[2] - media[0]) * SCALE))
    px_chars = chars_to_pixel(chars, page_h)
    word_dicts = cluster_words(px_chars, page_idx)
    char_length, median_line_sep, contours = pdf_metrics(px_chars, word_dicts)
    if char_length is None:
        return []

    min_line_length = (
        int(min(1.5 * median_line_sep, 4 * char_length)) if median_line_sep else 20
    )
    h_lines, v_lines = detect_pdf_lines(
        rects, page_h, img_shape, min_line_length, char_length
    )
    lines = h_lines + v_lines

    cells = get_cells(h_lines, v_lines)
    tables = get_tables(cells=cells, elements=contours, lines=lines, char_length=char_length)
    tables = [
        implicit_content(
            table=tb,
            contours=contours,
            char_length=char_length,
            implicit_rows=implicit_rows,
            implicit_columns=implicit_columns,
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
    return [
        tb
        for tb in tables
        if (max(tb.nb_rows, tb.nb_columns) >= 2 and not tb.borderless)
        or (tb.nb_rows >= 2 and tb.nb_columns >= 3)
    ]


def extract_pdf_payload(text: str) -> list[Table]:
    """Spark-UDF entry: base64 PDF → flat table list (pages concatenated in
    order, per-turn output contract).

    Two payload shapes (kernels/payload.py):
      - plain base64 PDF → defaults (implicit_rows=True)
      - JSON ``{"pdf": b64, "implicit_rows"/"implicit_columns"/
        "borderless_tables"/"detect_rotation": bool, "pages": [int, ...]}``
        → per-page routed extraction with pixel-path flags honored on
        text-layer pages too (reference runs every flag uniformly —
        document/base/__init__.py:115-130). ``pages`` restricts work to
        those 0-based indices — at corpus scale, splitting a long document
        into per-page turns turns one straggler task into parallel work.
    """
    data, opts, pages = parse_envelope(text, "pdf", _envelope_pages)
    if not data.startswith(b"%PDF"):
        raise PayloadError("invalid PDF payload: not a PDF header")
    try:
        per_page, _ = extract_pdf_tables_auto(data, pages=pages, **opts)
    except PdfError as exc:
        raise PayloadError(f"unsupported PDF: {exc}") from exc
    return [tb for page in per_page for tb in page]


def _envelope_pages(obj: dict) -> "list[int] | None":
    return None if obj.get("pages") is None else [int(p) for p in obj["pages"]]


# ------------------------------------------------- scanned-PDF raster path

def _decode_xobject_image(doc: PdfDocument, xobj) -> "np.ndarray | None":
    """Image XObject → RGB array. Supports DCTDecode (JPEG), and raw
    FlateDecode Gray/RGB bitmaps (8-bit)."""
    xobj = doc.resolve(xobj)
    if not (isinstance(xobj, tuple) and xobj[0] == "stream"):
        return None
    d = xobj[1]
    if str(doc.resolve(d.get("Subtype"))) != "Image":
        return None
    width = int(doc.resolve(d.get("Width")))
    height = int(doc.resolve(d.get("Height")))
    filt = doc.resolve(d.get("Filter"))
    filt_names = [str(doc.resolve(f)) for f in (filt if isinstance(filt, list) else [filt] if filt else [])]
    if "DCTDecode" in filt_names:
        from img2table_spark.kernels.jpeg import decode_jpeg

        return decode_jpeg(xobj[2])
    if "CCITTFaxDecode" in filt_names:
        # Group 3/4 fax image (the classic scanned-page PDF payload).
        # Reference renders these via pdfium (document/pdf.py:46-67).
        from img2table_spark.kernels.ccitt import CCITTError, decode_ccitt_pdf

        parms = doc.resolve(d.get("DecodeParms") or d.get("DP")) or {}
        if isinstance(parms, list):  # one parm dict per filter
            parms = next(
                (doc.resolve(p) for p in parms
                 if isinstance(doc.resolve(p), dict)), {})
        k = int(doc.resolve(parms.get("K", 0)) or 0)
        cols = int(doc.resolve(parms.get("Columns", 1728)) or 1728)
        nrows = int(doc.resolve(parms.get("Rows", height)) or height)
        byte_align = bool(doc.resolve(parms.get("EncodedByteAlign", False)))
        black_is_1 = bool(doc.resolve(parms.get("BlackIs1", False)))
        try:
            black = decode_ccitt_pdf(
                xobj[2], cols, nrows, k=k, byte_align=byte_align
            )
        except CCITTError:
            return None
        # DecodeParms Columns/Rows smaller than the image dict's
        # /Width//Height would silently hand an undersized array to the
        # geometry code downstream (ADVICE r4) — treat the disagreement as
        # a malformed stream (error row), like any other decode failure.
        if black.shape[0] < height or black.shape[1] < width:
            return None
        # filter output: black pixels are 0 unless BlackIs1; a /Decode
        # [1 0] array inverts the sample→gray mapping on top of that
        bits = black if black_is_1 else (1 - black)
        dec = doc.resolve(d.get("Decode"))
        if dec and float(doc.resolve(dec[0])) == 1.0:
            bits = 1 - bits
        g = (bits * 255).astype(np.uint8)[:height, :width]
        return np.repeat(g[:, :, None], 3, axis=2)
    if filt_names in ([], ["FlateDecode"]):
        import zlib as _z

        raw = _z.decompress(xobj[2]) if filt_names else xobj[2]
        bpc = int(doc.resolve(d.get("BitsPerComponent", 8)))
        if bpc != 8:
            return None
        cs = str(doc.resolve(d.get("ColorSpace", "DeviceRGB")))
        n = width * height
        arr = np.frombuffer(raw, dtype=np.uint8)
        if cs == "DeviceGray" and len(arr) >= n:
            g = arr[:n].reshape(height, width)
            return np.repeat(g[:, :, None], 3, axis=2)
        if len(arr) >= 3 * n:
            return np.ascontiguousarray(arr[: 3 * n].reshape(height, width, 3))
    return None


_MAX_CANVAS_PX = 64_000_000  # ~A0 at 200 DPI; guards hostile MediaBoxes


def _page_box(doc: PdfDocument, page: dict) -> "tuple[list[float], int, int] | None":
    """(MediaBox, canvas height, canvas width) at 200 DPI, or None when the
    canvas is empty or larger than ``_MAX_CANVAS_PX``."""
    media = [float(doc.resolve(v)) for v in doc.resolve(page.get("MediaBox", [0, 0, 612, 792]))]
    cw = int(round((media[2] - media[0]) * SCALE))
    ch = int(round((media[3] - media[1]) * SCALE))
    if cw <= 0 or ch <= 0 or cw * ch > _MAX_CANVAS_PX:
        return None
    return media, ch, cw


def _draw_affine_image(canvas: np.ndarray, img: np.ndarray, ctm, media) -> None:
    """Paint an image XObject onto the 200-DPI page canvas through its CTM
    (unit square → user space), nearest-neighbor inverse mapping. Handles
    tiling, scaling and rotation — the general case pdfium renders."""
    a, b, c, d, e, f = (float(v) for v in ctm)
    det = a * d - b * c
    if abs(det) < 1e-12:
        return
    ch, cw = canvas.shape[:2]
    # unit-square corners → canvas pixels (y flipped: PDF origin bottom-left)
    us = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
    xs = (a * us[:, 0] + c * us[:, 1] + e - media[0]) * SCALE
    ys = ch - (b * us[:, 0] + d * us[:, 1] + f - media[1]) * SCALE
    x0 = max(0, int(np.floor(xs.min())))
    x1 = min(cw, int(np.ceil(xs.max())))
    y0 = max(0, int(np.floor(ys.min())))
    y1 = min(ch, int(np.ceil(ys.max())))
    if x0 >= x1 or y0 >= y1:
        return
    # target pixel centers → user space → unit square (inverse affine)
    px = (np.arange(x0, x1) + 0.5) / SCALE + media[0]
    py = (ch - (np.arange(y0, y1) + 0.5)) / SCALE + media[1]
    ih, iw = img.shape[:2]
    region = canvas[y0:y1, x0:x1]
    if b == 0.0 and c == 0.0:
        # axis-aligned placement (the overwhelmingly common case: scans,
        # logos): u depends on x only, v on y only — O(W+H) index math plus
        # one 2D gather instead of full-page float64 meshgrids. The 1D
        # formulas keep the exact float ops of the general case (the zeroed
        # cross terms contribute exact ±0.0), so pixels are bit-identical.
        u = (d * (px - e)) / det
        v = (a * (py - f)) / det
        in_x = np.nonzero((u >= 0) & (u < 1))[0]
        in_y = np.nonzero((v >= 0) & (v < 1))[0]
        if len(in_x) == 0 or len(in_y) == 0:
            return
        sx = slice(in_x[0], in_x[-1] + 1)  # u monotonic → contiguous
        sy = slice(in_y[0], in_y[-1] + 1)
        src_c = np.clip(np.floor(u[sx] * iw).astype(np.int64), 0, iw - 1)
        src_r = np.clip(np.floor((1.0 - v[sy]) * ih).astype(np.int64), 0, ih - 1)
        region[sy, sx] = img[src_r[:, None], src_c[None, :]]
        return
    X, Y = np.meshgrid(px - e, py - f)
    u = (d * X - c * Y) / det
    v = (-b * X + a * Y) / det
    inside = (u >= 0) & (u < 1) & (v >= 0) & (v < 1)
    src_c = np.clip(np.floor(u * iw).astype(np.int64), 0, iw - 1)
    src_r = np.clip(np.floor((1.0 - v) * ih).astype(np.int64), 0, ih - 1)
    region[inside] = img[src_r, src_c][inside]


def _draw_vector_rects(canvas: np.ndarray, rects: list[PdfRect], media) -> None:
    """Paint vector geometry (table borders drawn OVER a scan on mixed
    pages): dark fills as solid boxes, strokes as thickened outlines."""
    ch, cw = canvas.shape[:2]

    def to_px(r):
        x1 = int(round((r.x1 - media[0]) * SCALE))
        x2 = int(round((r.x2 - media[0]) * SCALE))
        y1 = int(round(ch - (r.y2 - media[1]) * SCALE))  # top
        y2 = int(round(ch - (r.y1 - media[1]) * SCALE))  # bottom
        return max(0, x1), max(0, y1), min(cw, x2), min(ch, y2)

    for r in rects:
        x1, y1, x2, y2 = to_px(r)
        if x1 >= cw or y1 >= ch or x2 <= 0 or y2 <= 0:
            continue
        if r.stroke_width > 0:
            t = max(1, int(round(r.stroke_width * SCALE)))
            if x2 - x1 <= t or y2 - y1 <= t:  # segment: thicken across axis
                canvas[y1 : max(y2, y1 + t), x1 : max(x2, x1 + t)] = 0
            else:  # stroked rect: outline only, never fill the interior
                canvas[y1 : y1 + t, x1:x2] = 0
                canvas[max(y1, y2 - t) : y2, x1:x2] = 0
                canvas[y1:y2, x1 : x1 + t] = 0
                canvas[y1:y2, max(x1, x2 - t) : x2] = 0
        elif not r.fill_white:
            canvas[y1:y2, x1:x2] = 0


def rasterize_pdf_page(doc: PdfDocument, page: dict) -> "np.ndarray | None":
    """Compose a true 200-DPI page canvas: every image XObject drawn through
    the CTM active at its ``Do`` (tiled scans compose correctly), then vector
    rects/segments on top. Returns None when the page places no decodable
    image (pure-vector pages use the native path instead).

    reference: document/pdf.py:46-67 renders whole pages via pdfium at
    scale=200/72; this is the from-scratch equivalent for scanned pages."""
    box = _page_box(doc, page)
    if box is None:
        return None
    media, ch, cw = box
    _, rects, placements = interpret_page_full(doc, page)
    canvas = None
    for ref, ctm in placements:
        img = _decode_xobject_image(doc, ref)
        if img is None:
            continue
        if canvas is None:
            canvas = np.full((ch, cw, 3), 255, dtype=np.uint8)
        _draw_affine_image(canvas, img, ctm, media)
    if canvas is not None and rects:
        _draw_vector_rects(canvas, rects, media)
    return canvas


#: typographic ink model — per-char-class vertical extents as em fractions
#: around the baseline (standard Latin metrics: cap ≈ 0.72 em, x-height
#: ≈ 0.50 em, descender ≈ 0.21 em). Filled boxes at these heights give the
#: pixel pipeline realistic inter-line whitespace (implicit rows, RLSA,
#: borderless row detection) that a full ascent↔descent slab would crush.
_GLYPH_DESCENDERS = set("gjpqy")
_GLYPH_XHEIGHT = set("acemnorsuvwxz")
_GLYPH_BASE_PUNCT = set(".,;:_")
_GLYPH_TOP_PUNCT = set("'\"`^~")
_GLYPH_MID_PUNCT = set("-–—=*+<>")
#: ink width as a fraction of the advance width: real glyph ink is narrower
#: than its advance (side bearings), and char_length statistics (metrics.py
#: bincount over CC widths) are computed from ink, not advances.
_GLYPH_NARROW = set("iljft1|!.,;:'\"`()[]{}")
_GLYPH_WIDE = set("mwMW%@")


def _glyph_ink_width_frac(ch: str) -> float:
    if ch in _GLYPH_NARROW:
        return 0.35
    if ch in _GLYPH_WIDE:
        return 0.85
    return 0.62


def _glyph_ink_span(ch: str, baseline: float, em: float) -> tuple[float, float]:
    """(top, bottom) of the filled ink box in top-down pixel coords."""
    if ch in _GLYPH_XHEIGHT:
        return baseline - 0.50 * em, baseline
    if ch in _GLYPH_DESCENDERS:
        return baseline - 0.50 * em, baseline + 0.21 * em
    if ch in _GLYPH_BASE_PUNCT:
        return baseline - 0.12 * em, baseline + (0.10 * em if ch in ",;" else 0.0)
    if ch in _GLYPH_TOP_PUNCT:
        return baseline - 0.72 * em, baseline - 0.45 * em
    if ch in _GLYPH_MID_PUNCT:
        return baseline - 0.40 * em, baseline - 0.22 * em
    # ascenders, capitals, digits, brackets, everything else: full height
    return baseline - 0.72 * em, baseline


def _glyph_ink_span_local(ch: str) -> tuple[float, float]:
    """(y_lo, y_hi) of the ink box in GLYPH-LOCAL text space (y-up, baseline
    at 0, em = 1): the same typographic model as _glyph_ink_span."""
    if ch in _GLYPH_XHEIGHT:
        return 0.0, 0.50
    if ch in _GLYPH_DESCENDERS:
        return -0.21, 0.50
    if ch in _GLYPH_BASE_PUNCT:
        return (-0.10 if ch in ",;" else 0.0), 0.12
    if ch in _GLYPH_TOP_PUNCT:
        return 0.45, 0.72
    if ch in _GLYPH_MID_PUNCT:
        return 0.22, 0.40
    return 0.0, 0.72


def _fill_quad(canvas: np.ndarray, pts: "list[tuple[float, float]]") -> None:
    """Fill a convex quad (pixel coords, any winding) with black: bounding
    box + half-plane tests on pixel centers."""
    ch, cw = canvas.shape[:2]
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    x0 = max(0, int(np.floor(min(xs))))
    x1 = min(cw, int(np.ceil(max(xs))) + 1)
    y0 = max(0, int(np.floor(min(ys))))
    y1 = min(ch, int(np.ceil(max(ys))) + 1)
    if x0 >= x1 or y0 >= y1:
        return
    # signed area fixes winding so all edge cross-products share a sign
    area = sum(
        pts[i][0] * pts[(i + 1) % 4][1] - pts[(i + 1) % 4][0] * pts[i][1]
        for i in range(4)
    )
    if area < 0:
        pts = pts[::-1]
    gx, gy = np.meshgrid(
        np.arange(x0, x1, dtype=np.float64) + 0.5,
        np.arange(y0, y1, dtype=np.float64) + 0.5,
    )
    inside = np.ones(gx.shape, dtype=bool)
    for i in range(4):
        ax, ay = pts[i]
        bx, by = pts[(i + 1) % 4]
        inside &= (bx - ax) * (gy - ay) - (by - ay) * (gx - ax) >= 0
    canvas[y0:y1, x0:x1][inside] = 0


def render_pdf_text_page(doc: PdfDocument, page: dict) -> "np.ndarray | None":
    """200-DPI render of a TEXT-LAYER page for pipelines that need pixels
    (borderless detection L1–L12, rotation S3): image XObjects through their
    CTMs, vector rects/segments, then one filled rectangle per non-space
    glyph sized by the typographic ink model above, with a 1-px right gap so
    thresholded connected components stay per-char (char_length, RLSA and
    whitespace statistics then approximate real glyph ink).

    From-scratch equivalent of the reference's pdfium whole-page render
    (document/pdf.py:46-67); exact glyph outlines are not reproduced, but
    every downstream consumer reads only ink EXTENT statistics (contours,
    RLSA runs, whitespace gaps), which the model preserves."""
    box = _page_box(doc, page)
    if box is None:
        return None
    media, ch, cw = box
    page_h = media[3] - media[1]
    chars, rects, placements = interpret_page_full(doc, page)
    canvas = np.full((ch, cw, 3), 255, dtype=np.uint8)
    for ref, ctm in placements:
        img = _decode_xobject_image(doc, ref)
        if img is not None:
            _draw_affine_image(canvas, img, ctm, media)
    if rects:
        _draw_vector_rects(canvas, rects, media)
    for raw, c in zip(chars, chars_to_pixel(chars, page_h)):
        if c[0].strip() == "":
            continue
        if raw.mat is not None:
            # rotated/sheared glyph: draw the ink box in the glyph's LOCAL
            # frame (baseline y=0, em=1) and map its quad through the text
            # render matrix — the de-rotated page then carries real slanted
            # ink instead of axis-aligned smears
            y_lo, y_hi = _glyph_ink_span_local(c[0])
            half = 0.5 * _glyph_ink_width_frac(c[0]) * max(raw.w0, 1e-3)
            cx_l = 0.5 * raw.w0
            a, b, cc_, d, e, f = raw.mat
            quad = []
            for lx, ly in (
                (cx_l - half, y_lo), (cx_l + half, y_lo),
                (cx_l + half, y_hi), (cx_l - half, y_hi),
            ):
                ux = a * lx + cc_ * ly + e
                uy = b * lx + d * ly + f
                quad.append((ux * SCALE, (page_h - uy) * SCALE))
            _fill_quad(canvas, quad)
            continue
        iy1, iy2 = c[5], c[6]
        cx = 0.5 * (c[1] + c[3])
        half_w = 0.5 * _glyph_ink_width_frac(c[0]) * max(1, c[3] - c[1])
        x1 = int(round(cx - half_w))
        x2 = max(x1 + 1, min(int(round(cx + half_w)), c[3] - 1))
        # tight ink box spans descent..ascent (≈ -0.25..0.75 em): baseline
        # sits ascent/(ascent-descent) ≈ 0.75 of the way down, em ≈ its height
        em = iy2 - iy1
        baseline = iy1 + 0.75 * em
        top, bot = _glyph_ink_span(c[0], baseline, em)
        y1 = int(round(top))
        y2 = max(y1 + 1, int(round(bot)))
        canvas[max(0, y1) : min(ch, y2), max(0, x1) : min(cw, x2)] = 0
    return canvas


def _rendered_page(
    doc: PdfDocument, page: dict, chars: list[PdfChar], page_idx: int,
    media: list[float], words: "pd.DataFrame | None", detect_rotation: bool,
    **opts,
) -> "tuple[list[Table], bool]":
    """Rendered route: one text-layer page through the pixel pipeline, for
    the flags the vector route cannot express (borderless_tables,
    detect_rotation). Returns (tables, page was rotated).

    Words come from the page's own text layer (PdfOCR analog, pixel space)
    UNLESS the page was rotation-corrected: the reference skips PdfOCR on
    rotated documents (document/pdf.py:69-77 ``_rotated`` guard) because the
    text-layer coordinates no longer match the fixed image — the caller's
    OCR ``words`` are used there instead."""
    canvas = render_pdf_text_page(doc, page)
    rotated = False
    if detect_rotation:
        from img2table_spark.kernels.rotation import fix_rotation_image

        canvas, rotated = fix_rotation_image(canvas)
    if not rotated:
        words = pd.DataFrame(
            cluster_words(chars_to_pixel(chars, media[3] - media[1]), page_idx),
            columns=WORD_COLUMNS,
        )
        if not len(words):
            words = None
    return extract_image_tables(canvas, words=words, **opts), rotated


def _raster_page(
    doc: PdfDocument, page: dict, words: "pd.DataFrame | None", detect_rotation: bool,
    **opts,
) -> list[Table]:
    """Raster route: one page without text through the pixel pipeline.
    Output bboxes are directly in the reference's 200-DPI page space. Scans
    have no native text; the caller's OCR ``words`` (200-DPI page
    coordinates) supply content."""
    canvas = rasterize_pdf_page(doc, page)
    if canvas is None:
        return []
    return extract_image_tables(
        canvas, words=words, detect_rotation=detect_rotation, **opts
    )


def extract_pdf_tables_auto(
    data: "bytes | PdfDocument",
    implicit_rows: bool = False,
    implicit_columns: bool = False,
    borderless_tables: bool = False,
    min_confidence: int = 50,
    pages: list[int] | None = None,
    detect_rotation: bool = False,
    words_by_page: "dict[int, pd.DataFrame] | None" = None,
) -> "tuple[list[list[Table]], bool]":
    """The one PDF page loop. The reference renders and extracts every page
    on its own (document/pdf.py:46-67), so the route is chosen per PAGE and
    a mixed PDF (text page + scanned page) extracts from both:

      - page has no text layer          → raster route
      - page has text, pixel-only flags → rendered route
        (borderless_tables / detect_rotation)
      - page has text, default flags    → exact vector route

    ``pages`` selects 0-based page indices (out-of-range ones are dropped,
    duplicates kept); output pages are in ascending page order (reference
    sorts pages in Document.__post_init__). ``words_by_page`` holds OCR
    words per page index for scanned and rotation-corrected pages. ``data``
    is the PDF's bytes or a ``PdfDocument`` already parsed from them.
    Returns (per-page tables, any_page_rotated)."""
    doc = PdfDocument(data) if isinstance(data, (bytes, bytearray)) else data
    all_pages = doc.pages()
    n = len(all_pages)
    req = sorted(p for p in (pages if pages is not None else range(n)) if 0 <= p < n)
    opts = {
        "implicit_rows": implicit_rows,
        "implicit_columns": implicit_columns,
        "borderless_tables": borderless_tables,
        "min_confidence": min_confidence,
    }
    out: list[list[Table]] = []
    any_rotated = False
    for page_idx in req:
        page = all_pages[page_idx]
        chars, rects = interpret_page(doc, page)
        box = _page_box(doc, page)
        words = (words_by_page or {}).get(page_idx)
        if box is None:
            tables = []
        elif not chars:
            tables = _raster_page(doc, page, words, detect_rotation, **opts)
        elif borderless_tables or detect_rotation:
            tables, rotated = _rendered_page(
                doc, page, chars, page_idx, box[0], words, detect_rotation, **opts
            )
            any_rotated = any_rotated or rotated
        else:
            tables = _vector_page(
                chars, rects, page_idx, box[0],
                implicit_rows, implicit_columns, min_confidence,
            )
        out.append(tables)
    return out, any_rotated
