"""Image payload path (S1 decode + full P/B/L/T pipelines), invoked from the
Arrow UDF (operators/extract.py).

Payload forms (FIXTURES.md §1):
  - plain base64 PNG bytes → geometry-only tables (no OCR: content empty,
    like the reference with ocr=None — document/base/__init__.py:76-77)
  - JSON object ``{"image": <b64 png>, "hocr": "<hocr html>",
    "implicit_rows": bool, "implicit_columns": bool,
    "borderless_tables": bool}`` → full content + title extraction using the
    embedded hOCR word table (how the reference's own test suite supplies
    OCR, tests/conftest.py:23-39)
"""

from __future__ import annotations

from img2table_spark.kernels.objects import Table
from img2table_spark.kernels.payload import PayloadError, parse_envelope


class ImageDecodeError(ValueError):
    pass


def decode_image_bytes(data: bytes):
    """Magic-sniffing decode: PNG / JPEG (baseline + progressive) / BMP /
    TIFF / PNM / PFM / Sun raster / WebP-VP8L / Radiance HDR / OpenEXR
    (scanline) → RGB uint8 array. The reference accepts anything
    cv2.imdecode reads (reference document/image.py:25-32); these cover its
    README input list minus lossy WebP (VP8) / JPEG-2000 (rejected loudly —
    DCT/wavelet codecs out of from-scratch scope)."""
    from img2table_spark.kernels.bmp import BMPError, decode_bmp
    from img2table_spark.kernels.exr import EXRError, decode_exr
    from img2table_spark.kernels.hdr import HDRError, decode_hdr
    from img2table_spark.kernels.jpeg import JPEGError, decode_jpeg
    from img2table_spark.kernels.png import PNGError, decode_png
    from img2table_spark.kernels.pnm import (
        PNMError,
        decode_pfm,
        decode_pnm,
        decode_sun_raster,
    )
    from img2table_spark.kernels.tiff import TIFFError, decode_tiff
    from img2table_spark.kernels.webp import WebPError, decode_webp

    try:
        if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
            return decode_webp(data)
        if data[:2] == b"#?":
            return decode_hdr(data)
        if data[:4] == b"\x76\x2f\x31\x01":
            return decode_exr(data)
        if data[:2] == b"\xff\xd8":
            return decode_jpeg(data)
        if data[:2] == b"BM":
            return decode_bmp(data)
        if data[:4] in (b"II*\x00", b"MM\x00*"):
            return decode_tiff(data)
        if data[:8] == b"\x89PNG\r\n\x1a\n":
            return decode_png(data)
        if data[:2] in (b"P1", b"P2", b"P3", b"P4", b"P5", b"P6"):
            return decode_pnm(data)
        if data[:2] in (b"PF", b"Pf"):
            return decode_pfm(data)
        if data[:4] == b"\x59\xa6\x6a\x95":
            return decode_sun_raster(data)
    except (
        PNGError, JPEGError, BMPError, TIFFError, PNMError, WebPError,
        HDRError, EXRError,
    ) as exc:
        raise ImageDecodeError(str(exc)) from exc
    raise ImageDecodeError(f"unrecognized image magic {data[:8]!r}")


def extract_image_payload(text: str) -> list[Table]:
    from img2table_spark.kernels.document import extract_image_tables
    from img2table_spark.kernels.hocr import parse_hocr_pages

    data, opts, hocr = parse_envelope(text, "image", lambda obj: obj.get("hocr"))
    try:
        img = decode_image_bytes(data)
    except ImageDecodeError as exc:
        raise PayloadError(f"undecodable image payload: {exc}") from exc

    words = parse_hocr_pages([hocr]) if hocr else None
    return extract_image_tables(img, words=words, min_confidence=50, **opts)
