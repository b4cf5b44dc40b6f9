"""The image and PDF payload envelope (kernels/payload.py): malformed
payloads raise ``PayloadError`` with fixed messages, because error-marker
rows carry ``repr(exc)[:200]``."""

import base64
import json

import pytest

from img2table_spark.kernels.image_doc import extract_image_payload
from img2table_spark.kernels.payload import PayloadError, parse_envelope
from img2table_spark.kernels.pdf_doc import extract_pdf_payload


def _b64(data: bytes) -> str:
    return base64.b64encode(data).decode()


_JSON_ERROR = "Expecting property name enclosed in double quotes: line 1 column 2 (char 1)"


@pytest.mark.parametrize(
    "extract, text, message",
    [
        (extract_image_payload, "!!!notb64",
         "invalid base64 image payload: Only base64 data is allowed"),
        (extract_image_payload, "{not json", f"invalid image JSON payload: {_JSON_ERROR}"),
        (extract_image_payload, json.dumps({"png": "AAAA"}), "invalid image JSON payload: 'image'"),
        (extract_image_payload, json.dumps({"image": "!!"}),
         "invalid base64 image payload: Only base64 data is allowed"),
        (extract_image_payload, _b64(b"GIF89a...."),
         "undecodable image payload: unrecognized image magic b'GIF89a..'"),
        (extract_pdf_payload, "!!!notb64", "invalid PDF payload: Only base64 data is allowed"),
        (extract_pdf_payload, "{not json", f"invalid PDF JSON payload: {_JSON_ERROR}"),
        (extract_pdf_payload, json.dumps({"image": "AAAA"}), "invalid PDF JSON payload: 'pdf'"),
        (extract_pdf_payload, json.dumps({"pdf": _b64(b"%PDF-1.4"), "pages": ["x"]}),
         "invalid PDF JSON payload: invalid literal for int() with base 10: 'x'"),
        (extract_pdf_payload, json.dumps({"pdf": _b64(b"%PDF-1.4"), "pages": 3}),
         "invalid PDF JSON payload: 'int' object is not iterable"),
        (extract_pdf_payload, json.dumps({"pdf": "!!", "pages": [0]}),
         "invalid PDF payload: Only base64 data is allowed"),
        (extract_pdf_payload, _b64(b"not a pdf at all"), "invalid PDF payload: not a PDF header"),
        (extract_pdf_payload, _b64(b"%PDF-1.4 garbage"), "unsupported PDF: no document catalog"),
    ],
)
def test_payload_error_messages(extract, text, message):
    with pytest.raises(PayloadError) as info:
        extract(text)
    assert str(info.value) == message


def test_envelope_defaults_per_kind():
    data = b"%PDF-1.4"
    for kind, implicit_rows in (("image", False), ("pdf", True)):
        got, flags, extra = parse_envelope(_b64(data), kind)
        assert (got, extra) == (data, None)
        assert flags == {
            "implicit_rows": implicit_rows, "implicit_columns": False,
            "borderless_tables": False, "detect_rotation": False,
        }
    _, flags, extra = parse_envelope(
        json.dumps({"pdf": _b64(data), "implicit_rows": False, "detect_rotation": 1, "pages": [2]}),
        "pdf", lambda obj: obj["pages"],
    )
    assert (flags["implicit_rows"], flags["detect_rotation"], extra) == (False, True, [2])
