"""The payload envelope shared by the image and PDF kernels.

A payload is either bare base64 or a JSON object that carries the base64
bytes under the kind's key (``"image"`` or ``"pdf"``) next to the pipeline
flags and the kind's own keys (``"hocr"``, ``"pages"``). Flags absent from
the object keep the kind's defaults: a PDF extracts implicit rows unless
told otherwise, an image does not.

Error messages are part of the output contract: error-marker rows carry
``repr(exc)[:200]``.
"""

from __future__ import annotations

import base64
import binascii
import json
from collections.abc import Callable
from typing import Any


class PayloadError(Exception):
    """Raised by decoders on malformed payloads; mapped to 0 output rows."""


#: kind → (JSON key of the base64 bytes, name in the JSON error, prefix of
#: the base64 error, implicit_rows default)
_KINDS = {
    "image": ("image", "image", "invalid base64 image payload", False),
    "pdf": ("pdf", "PDF", "invalid PDF payload", True),
}


def parse_envelope(
    text: str, kind: str, extra: Callable[[dict], Any] = lambda obj: None
) -> tuple[bytes, dict[str, bool], Any]:
    """Payload text → (decoded bytes, pipeline flags, ``extra(obj)``).

    ``extra`` reads the kind's own keys from the JSON object inside the same
    error guard as the flags; a bare base64 payload gets ``None``."""
    key, name, b64_error, implicit_rows = _KINDS[kind]
    flags = {
        "implicit_rows": implicit_rows,
        "implicit_columns": False,
        "borderless_tables": False,
        "detect_rotation": False,
    }
    extra_value = None
    b64 = text.strip()
    if b64.startswith("{"):
        try:
            obj = json.loads(b64)
            b64 = obj[key]
            for k in flags:
                if k in obj:
                    flags[k] = bool(obj[k])
            extra_value = extra(obj)
        except (KeyError, TypeError, ValueError) as exc:
            raise PayloadError(f"invalid {name} JSON payload: {exc}") from exc
    try:
        data = base64.b64decode(b64, validate=True)
    except (binascii.Error, ValueError) as exc:
        raise PayloadError(f"{b64_error}: {exc}") from exc
    return data, flags, extra_value
