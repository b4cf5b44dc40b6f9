"""Seeded input generators with planted truth.

Every input the benchmark feeds the engine is built here from ``--seed``;
the same seed gives byte-identical inputs. Three families:

- ``write_documents``: a ``documents.parquet`` (doc_id, text) that
  ``sources.transcripts.transcripts_from_documents`` scales into HTML turns.
  ``expected_documents`` recomputes every cell from that source's
  documented formula, independently of the engine.
- ``pixel_payloads``: page payloads whose tables are known by construction.
  Pages are vector PDFs from ``build_text_pdf`` with ``pdf_rect_op`` rules
  and ``pdf_text_op`` words, rasterized by ``render_pdf_text_page`` and
  re-encoded as PNG, baseline JPEG, TIFF and lossless WebP. The hOCR word
  layer is synthesized from the ``cluster_words`` boxes of the page's own
  text layer.
- ``write_job_table``: a parquet transcript table for the resumable job,
  HTML and plain turns plus a sprinkle of pixel and malformed payloads.

Finding kept for a later correctness change: ``text.get_text_table``
groups words by ``parent`` with pandas' default ``dropna=True``, so a word
whose ``ocr_line`` has no ``id`` is dropped silently and its cell stays
empty. The synthesized hOCR therefore gives every line an ``id``.
"""

from __future__ import annotations

import base64
import json
import random
import zlib
from dataclasses import dataclass, field
from pathlib import Path

#: documents in the synthetic source (the size of the sf0.1 documents table)
N_DOCS = 5000
_VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window vector table join data stream "
    "customer the a of lake merge index page cell row grid ink rule"
).split()

# Page geometry for pixel payloads (PDF points; 200 DPI on render). Kept
# small so one payload costs a fraction of a second, and fixed for every
# seed so the cost of a pass does not depend on the seed.
PAGE_W, PAGE_H = 330.0, 270.0
#: (rows, cols) of the bordered table on each base page
BASE_GRIDS = ((5, 3), (4, 4), (6, 3), (3, 4), (5, 4))
#: (rows, cols) of the borderless grid; the header row is row 0
BORDERLESS_GRID = (7, 4)

CODECS = ("png", "jpeg", "tiff", "webp")

#: running text under the borderless grid (varied word lengths, so no
#: whitespace column lines up across its lines)
_PROSE = (
    "Lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
    "eiusmod tempor incididunt ut labore et dolore magna aliqua enim",
    "ad minim veniam quis nostrud exercitation ullamco laboris nisi",
    "ut aliquip ex ea commodo consequat duis aute irure dolor in",
)


@dataclass
class Payload:
    """One turn's payload and the tables the engine must extract from it.

    ``tables`` lists each expected table as its grid of cell values (None
    for a cell with no text). ``malformed`` payloads must yield zero rows;
    they are counted as rejected, not failed."""

    kind: str
    tool: str
    text: str
    tables: list[list[list[str | None]]] = field(default_factory=list)
    malformed: bool = False


# ------------------------------------------------------------ HTML turns


def documents(seed: int, n_docs: int = N_DOCS) -> list[tuple[int, str]]:
    rng = random.Random(f"docs-{seed}")
    out = []
    for doc_id in range(n_docs):
        n_tok = rng.randint(12, 60)
        out.append((doc_id, " ".join(rng.choice(_VOCAB) for _ in range(n_tok))))
    return out


def write_documents(seed: int, sf_dir: Path, n_docs: int = N_DOCS) -> Path:
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = documents(seed, n_docs)
    sf_dir.mkdir(parents=True, exist_ok=True)
    path = sf_dir / "documents.parquet"
    table = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
        }
    )
    pq.write_table(table, path, compression="snappy")
    return path


def expected_doc_grid(doc_id: int, text: str) -> list[list[str]] | None:
    """The table ``transcripts_from_documents`` plants for one document, as
    the HTML parser must return it (a colspan value fills both columns), or
    None for a plain-text negative turn."""
    if doc_id % 11 == 3:
        return None
    toks = text.split(" ")
    nr, nc = 2 + doc_id % 3, 2 + doc_id % 2

    def val(r: int, c: int) -> str:
        return f"d{doc_id}_r{r}_c{c}_{toks[(r * 7 + c * 3) % len(toks)]}"

    grid = [[val(r, c) for c in range(nc)] for r in range(nr)]
    if doc_id % 5 == 0:
        grid[0][1] = grid[0][0]
    return grid


def cell_hash(doc_id: int, row: int, col: int, value: str | None) -> int:
    """CRC-32 of ``doc|row|col|value``; Spark's ``crc32(concat_ws('|', ...))``
    computes the same number on the output side."""
    parts = [str(doc_id), str(row), str(col)] + ([value] if value is not None else [])
    return zlib.crc32("|".join(parts).encode())


def expected_documents(seed: int, n_docs: int = N_DOCS) -> dict[int, tuple[int, int, int]]:
    """doc_id → (tables, cells, cell checksum) of one turn of that doc."""
    out = {}
    for doc_id, text in documents(seed, n_docs):
        grid = expected_doc_grid(doc_id, text)
        if grid is None:
            out[doc_id] = (0, 0, 0)
            continue
        s = sum(cell_hash(doc_id, r, c, v) for r, row in enumerate(grid) for c, v in enumerate(row))
        out[doc_id] = (1, sum(len(row) for row in grid), s)
    return out


# --------------------------------------------------------- pixel payloads


def _token(rng: random.Random) -> str:
    letters = "abcdefghijkmnopqrstuvwxyz"
    return "".join(rng.choice(letters) for _ in range(rng.randint(3, 5))) + str(rng.randint(0, 99))


def bordered_page(rng: random.Random, nrow: int, ncol: int) -> tuple[bytes, list[list[str]]]:
    """One-page text-layer PDF with a ruled nrow×ncol table and a caption."""
    from img2table_spark.kernels.encoders import build_text_pdf, pdf_rect_op, pdf_text_op

    x0, cw, rh = 24.0, (PAGE_W - 48.0) / ncol, 24.0
    y_top = PAGE_H - 40.0
    ops = []
    for r in range(nrow + 1):
        ops.append(pdf_rect_op(x0, y_top - r * rh, cw * ncol, 1.2))
    for c in range(ncol + 1):
        ops.append(pdf_rect_op(x0 + c * cw, y_top - nrow * rh, 1.2, nrow * rh))
    grid = [[_token(rng) for _ in range(ncol)] for _ in range(nrow)]
    for r, row in enumerate(grid):
        for c, v in enumerate(row):
            ops.append(pdf_text_op(x0 + c * cw + 8, y_top - r * rh - 17, v))
    ops.append(pdf_text_op(x0, y_top + 12, f"Table {_token(rng)}"))
    return build_text_pdf([(PAGE_W, PAGE_H, "\n".join(ops).encode(), [])]), grid


def borderless_page(rng: random.Random) -> tuple[bytes, list[list[str]]]:
    """A text grid with no rules, a heading above it and a prose block below
    (the layout of ``encoders.build_borderless_text_pdf`` on a smaller page,
    with seeded values)."""
    from img2table_spark.kernels.encoders import build_text_pdf, pdf_text_op

    nrow, ncol = BORDERLESS_GRID
    w, h = 520.0, 400.0
    ops = [pdf_text_op(30, h - 40, "Quarterly results overview", size=13)]
    col_x = [30, 160, 290, 420]
    grid = [[f"Head{_token(rng)}" for _ in range(ncol)]]
    grid += [
        [f"row{r}{_token(rng)}", str(rng.randint(100, 999)), str(rng.randint(100, 999)), f"{r}.{rng.randint(1, 9)}"]
        for r in range(1, nrow)
    ]
    for r, vals in enumerate(grid):
        for x, v in zip(col_x, vals):
            ops.append(pdf_text_op(x, h - 70 - r * 22, v))
    for i, line in enumerate(_PROSE):
        ops.append(pdf_text_op(30, h - 260 - i * 16, line))
    return build_text_pdf([(w, h, "\n".join(ops).encode(), [])]), grid


def render_with_hocr(pdf: bytes) -> tuple["object", str]:
    """200-DPI raster of page 0 plus an hOCR word layer built from the
    text layer's ``cluster_words`` boxes (every ``ocr_line`` carries an id)."""
    from html import escape

    from img2table_spark.kernels.pdf_doc import (
        PdfDocument,
        chars_to_pixel,
        cluster_words,
        interpret_page,
        render_pdf_text_page,
    )

    doc = PdfDocument(pdf)
    page = doc.pages()[0]
    img = render_pdf_text_page(doc, page)
    chars, _ = interpret_page(doc, page)
    media = [float(doc.resolve(v)) for v in doc.resolve(page["MediaBox"])]
    words = cluster_words(chars_to_pixel(chars, media[3] - media[1]), 0)
    lines: dict[str, list[dict]] = {}
    for w in words:
        lines.setdefault(w["parent"], []).append(w)
    body = []
    for line_id, ws in lines.items():
        bbox = (min(w["x1"] for w in ws), min(w["y1"] for w in ws),
                max(w["x2"] for w in ws), max(w["y2"] for w in ws))
        spans = "".join(
            f'<span class="ocrx_word" id="{w["id"]}" title="bbox {w["x1"]} {w["y1"]} '
            f'{w["x2"]} {w["y2"]}; x_wconf 95">{escape(w["value"])}</span>'
            for w in ws
        )
        body.append(f'<span class="ocr_line" id="{line_id}" title="bbox {" ".join(map(str, bbox))}">{spans}</span>')
    h, w = img.shape[:2]
    hocr = f'<div class="ocr_page" id="page_1" title="bbox 0 0 {w} {h}">{"".join(body)}</div>'
    return img, hocr


def scanned_pdf(img) -> bytes:
    """One-page PDF whose only content is ``img`` as an image XObject."""
    from img2table_spark.kernels.encoders import build_text_pdf

    h, w = img.shape[:2]
    pw, ph = w * 72 / 200, h * 72 / 200
    content = f"q {pw:.4f} 0 0 {ph:.4f} 0 0 cm /Im1 Do Q".encode()
    return build_text_pdf([(pw, ph, content, [img])])


def encode(img, codec: str) -> bytes:
    from img2table_spark.kernels import encoders
    from img2table_spark.kernels.webp import encode_webp_vp8l

    if codec == "png":
        return encoders.encode_png(img)
    if codec == "jpeg":
        return encoders.encode_jpeg_baseline(img)
    if codec == "tiff":
        return encoders.encode_tiff(img)
    if codec == "webp":
        return encode_webp_vp8l(img)
    raise ValueError(f"unknown codec {codec!r}")


def _b64(data: bytes) -> str:
    return base64.b64encode(data).decode()


def pixel_payloads(seed: int, light: bool = False) -> list[Payload]:
    """The fixed mix of page payloads, in a fixed order for every seed.

    Per base page: the raster as PNG with hOCR (the first page also
    re-encoded as JPEG, TIFF and WebP, each with hOCR), the raster as PNG
    with no OCR (geometry only) and the vector PDF. Then one borderless PDF
    with the ``borderless_tables`` flag, one scanned PDF (an image XObject)
    and two malformed payloads (a non-base64 image, a truncated PDF): 22 in
    all. ``light`` keeps only the first base page without the extra codecs,
    and the malformed pair."""
    rng = random.Random(f"pages-{seed}")
    out: list[Payload] = []
    img = None
    for k, (nrow, ncol) in enumerate(BASE_GRIDS[:1] if light else BASE_GRIDS):
        pdf, grid = bordered_page(rng, nrow, ncol)
        img, hocr = render_with_hocr(pdf)
        for codec in CODECS if k == 0 and not light else ("png",):
            text = json.dumps({"image": _b64(encode(img, codec)), "hocr": hocr})
            out.append(Payload(f"image-{codec}", f"image/{codec}", text, [grid]))
        geometry = [[None] * ncol for _ in range(nrow)]
        out.append(Payload("image-png-no-ocr", "image/png", _b64(encode(img, "png")), [geometry]))
        out.append(Payload("pdf-vector", "application/pdf", _b64(pdf), [grid]))
    if not light:
        pdf, grid = borderless_page(rng)
        text = json.dumps({"pdf": _b64(pdf), "borderless_tables": True, "implicit_rows": False})
        out.append(Payload("pdf-borderless", "application/pdf", text, [grid]))
        out.append(Payload("pdf-scanned", "application/pdf", _b64(scanned_pdf(img)), [geometry]))
    out.append(Payload("malformed-image", "image/png", "!!not-base64 " + _token(rng), malformed=True))
    truncated = scanned_pdf(img)[: 300 + rng.randint(0, 50)]
    out.append(Payload("malformed-pdf", "application/pdf", _b64(truncated), malformed=True))
    return out


def one_per_kind(payloads: list[Payload]) -> list[Payload]:
    """The first payload of each kind, in order."""
    seen: set[str] = set()
    out = []
    for p in payloads:
        if p.kind not in seen:
            seen.add(p.kind)
            out.append(p)
    return out


# ------------------------------------------------------ resumable-job table


def job_rows(seed: int, n_turns: int, pixel: list[Payload]) -> tuple[list[dict], dict]:
    """Transcript rows for the resumable job and their expectation.

    HTML turns reuse the document formula (turn i plants doc i % N_DOCS);
    every 11th doc is plain text. One pixel payload per ``len(pixel)``-th
    slot of the first turns. Returns (rows, expected) where expected holds
    the turn, payload (non-plain turn), table, cell and malformed counts."""
    import datetime as dt

    docs = documents(seed)
    rows: list[dict] = []
    n_tables = n_cells = n_malformed = n_plain = 0
    ts = dt.datetime(2026, 1, 1)
    stride = max(1, n_turns // max(1, len(pixel)))
    for i in range(n_turns):
        conv = f"j{(i * 7919) % 997}"
        if i % stride == 0 and i // stride < len(pixel):
            p = pixel[i // stride]
            tool, text = p.tool, p.text
            n_malformed += p.malformed
            n_tables += len(p.tables)
            n_cells += sum(len(r) for t in p.tables for r in t)
        else:
            doc_id, dtext = docs[i % len(docs)]
            grid = expected_doc_grid(doc_id, dtext)
            if grid is None:
                tool, text = "text/plain", dtext
                n_plain += 1
            else:
                tool, text = "text/html", _grid_html(doc_id, grid)
                n_tables += 1
                n_cells += sum(len(r) for r in grid)
        rows.append({"conv_id": conv, "turn_idx": i, "role": "assistant", "text": text, "tool": tool, "ts": ts})
    expected = {
        "turns": n_turns,
        "payloads": n_turns - n_plain,
        "tables": n_tables,
        "cells": n_cells,
        "malformed": n_malformed,
    }
    return rows, expected


def _grid_html(doc_id: int, grid: list[list[str]]) -> str:
    rows = []
    for r, row in enumerate(grid):
        if r == 0 and doc_id % 5 == 0:
            tds = [f'<td colspan="2">{row[0]}</td>'] + [f"<td>{v}</td>" for v in row[2:]]
        else:
            tds = [f"<td>{v}</td>" for v in row]
        rows.append("<tr>" + "".join(tds) + "</tr>")
    return "<table>" + "".join(rows) + "</table>"


def write_job_table(rows: list[dict], path: Path, n_files: int = 4) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from img2table_spark.schema import TRANSCRIPT_SCHEMA

    path.mkdir(parents=True, exist_ok=True)
    fields = [f.name for f in TRANSCRIPT_SCHEMA.fields]
    per = -(-len(rows) // n_files)
    for k in range(n_files):
        chunk = rows[k * per : (k + 1) * per]
        table = pa.table(
            {
                "conv_id": pa.array([r["conv_id"] for r in chunk], pa.string()),
                "turn_idx": pa.array([r["turn_idx"] for r in chunk], pa.int32()),
                "role": pa.array([r["role"] for r in chunk], pa.string()),
                "text": pa.array([r["text"] for r in chunk], pa.string()),
                "tool": pa.array([r["tool"] for r in chunk], pa.string()),
                "ts": pa.array([r["ts"] for r in chunk], pa.timestamp("us", tz="UTC")),
            }
        ).select(fields)
        pq.write_table(table, path / f"part-{k:05d}.parquet")
