"""Pure-stdlib PDF parser + content-stream interpreter (S2/S4 substitute).

pypdfium2 is unavailable, and rasterizing PDFs in pure Python is a
non-starter at 100 TB scale anyway — so the engine takes a *vector-native*
fast path for born-digital PDFs: characters come from text-showing
operators (widths from /Widths, vertical extent from the FontDescriptor),
table borders come from stroked/filled vector paths, both scaled into the
reference's 200-DPI pixel space (x·200/72, y flipped —
reference src/img2table/ocr/pdf.py:119-152, document/pdf.py:57). Word
clustering then follows the reference's rules exactly
(ocr/pdf.py:106-197).

Scope: classic xref tables (+ /Prev chains), FlateDecode, Type1/TrueType
simple fonts with /Widths. A scanned page (no text operators) yields no
chars; kernels/pdf_doc.py sends it to the raster route, which composes the
page's image XObjects (recorded by interpret_page_full) and takes OCR words
from the caller, like any other OCR source.
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass, field

SCALE = 200 / 72


# ------------------------------------------------------------ object model

class Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):
        return f"Ref({self.num})"


class Name(str):
    __slots__ = ()


class PdfString(bytes):
    """Literal/hex string — distinct from operator keywords (plain bytes)."""

    __slots__ = ()


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self):
        d = self.data
        n = len(d)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # '%' comment
                while self.pos < n and d[self.pos] not in (10, 13):
                    self.pos += 1
            else:
                return

    def peek_bytes(self, k: int) -> bytes:
        return self.data[self.pos : self.pos + k]

    def token(self):
        """Next syntactic token; returns python objects for atoms."""
        self._skip_ws()
        d = self.data
        if self.pos >= len(d):
            return None
        c = d[self.pos]
        if c == 0x3C:  # '<'
            if d[self.pos + 1 : self.pos + 2] == b"<":
                self.pos += 2
                return "<<"
            return self._hex_string()
        if c == 0x3E:  # '>>'
            self.pos += 2
            return ">>"
        if c == 0x5B:
            self.pos += 1
            return "["
        if c == 0x5D:
            self.pos += 1
            return "]"
        if c == 0x28:  # '('
            return self._literal_string()
        if c == 0x2F:  # '/'
            self.pos += 1
            start = self.pos
            while self.pos < len(d) and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
                self.pos += 1
            raw = d[start : self.pos]
            # #xx escapes
            def _unhash(m):
                return bytes([int(m.group(1), 16)])
            raw = re.sub(rb"#([0-9A-Fa-f]{2})", _unhash, raw)
            return Name(raw.decode("latin-1"))
        if c in b"{}":
            self.pos += 1
            return chr(c)
        # number or keyword
        start = self.pos
        while self.pos < len(d) and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        word = d[start : self.pos]
        try:
            if b"." in word or b"e" in word.lower() and not word.isalpha():
                return float(word)
            return int(word)
        except ValueError:
            return word  # keyword as bytes

    def _hex_string(self) -> bytes:
        end = self.data.index(b">", self.pos)
        hx = re.sub(rb"\s", b"", self.data[self.pos + 1 : end])
        self.pos = end + 1
        if len(hx) % 2:
            hx += b"0"
        return PdfString(bytes.fromhex(hx.decode("ascii")))

    def _literal_string(self) -> bytes:
        d = self.data
        i = self.pos + 1
        depth = 1
        out = bytearray()
        while i < len(d):
            c = d[i]
            if c == 0x5C:  # backslash
                nxt = d[i + 1]
                if nxt in b"nrtbf()\\":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}.get(nxt, nxt))
                    i += 2
                elif 0x30 <= nxt <= 0x37:  # octal
                    j = i + 1
                    oct_digits = b""
                    while j < len(d) and len(oct_digits) < 3 and 0x30 <= d[j] <= 0x37:
                        oct_digits += bytes([d[j]])
                        j += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                    i = j
                elif nxt in (10, 13):  # line continuation
                    i += 2
                    if nxt == 13 and i < len(d) and d[i] == 10:
                        i += 1
                else:
                    out.append(nxt)
                    i += 2
            elif c == 0x28:
                depth += 1
                out.append(c)
                i += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    i += 1
                    break
                out.append(c)
                i += 1
            else:
                out.append(c)
                i += 1
        self.pos = i
        return PdfString(bytes(out))

    def value(self):
        """Parse a full PDF object (resolving 'R' references lazily)."""
        tok = self.token()
        return self._value_from(tok)

    def _value_from(self, tok):
        if tok == "<<":
            d = {}
            while True:
                k = self.token()
                if k == ">>" or k is None:
                    return d
                v = self.value()
                d[str(k)] = v
        if tok == "[":
            arr = []
            while True:
                save = self.pos
                t = self.token()
                if t == "]" or t is None:
                    return arr
                self.pos = save
                arr.append(self.value())
        if isinstance(tok, int):
            # possible "n 0 R"
            save = self.pos
            t2 = self.token()
            if isinstance(t2, int):
                t3 = self.token()
                if t3 == b"R":
                    return Ref(tok)
            self.pos = save
            return tok
        if isinstance(tok, bytes) and tok in (b"true", b"false", b"null"):
            return {b"true": True, b"false": False, b"null": None}[tok]
        return tok


# --------------------------------------------------------------- document

class PdfError(ValueError):
    pass


class PdfDocument:
    def __init__(self, data: bytes):
        self.data = data
        self.objects: dict[int, int] = {}  # obj num -> byte offset
        self._cache: dict[int, object] = {}
        self.trailer: dict = {}
        self._load_xref()

    # -- xref / objects

    def _load_xref(self):
        m = re.search(rb"startxref\s+(\d+)\s*%%EOF\s*$", self.data[-200:], re.S)
        offsets = []
        if m:
            offsets.append(int(m.group(1)))
        seen = set()
        while offsets:
            off = offsets.pop()
            if off in seen or off >= len(self.data):
                continue
            seen.add(off)
            if self.data[off : off + 4] != b"xref":
                continue  # xref streams unsupported; fall back to scan
            lex = _Lexer(self.data, off + 4)
            while True:
                lex._skip_ws()
                if lex.peek_bytes(7) == b"trailer":
                    lex.pos += 7
                    tok = lex.token()
                    tr = lex._value_from(tok)
                    if isinstance(tr, dict):
                        for k, v in tr.items():
                            self.trailer.setdefault(k, v)
                        if "Prev" in tr:
                            offsets.append(int(tr["Prev"]))
                    break
                first = lex.token()
                count = lex.token()
                if not isinstance(first, int) or not isinstance(count, int):
                    break
                for i in range(count):
                    lex._skip_ws()
                    entry = lex.data[lex.pos : lex.pos + 18]
                    lex.pos += 18
                    off_s, gen_s, typ = entry[:10], entry[11:16], entry[17:18]
                    if typ == b"n":
                        num = first + i
                        if num not in self.objects:
                            self.objects[num] = int(off_s)
        if not self.objects:
            # brute-force scan fallback
            for m2 in re.finditer(rb"(\d+)\s+0\s+obj", self.data):
                self.objects.setdefault(int(m2.group(1)), m2.start())
            tm = re.search(rb"trailer(.*?)startxref", self.data, re.S)
            if tm:
                lex = _Lexer(tm.group(1))
                tr = lex.value()
                if isinstance(tr, dict):
                    self.trailer.update(tr)
        if "Root" not in self.trailer:
            raise PdfError("no document catalog")

    def resolve(self, v):
        while isinstance(v, Ref):
            v = self.get_object(v.num)
        return v

    def get_object(self, num: int):
        if num in self._cache:
            return self._cache[num]
        off = self.objects.get(num)
        if off is None:
            return None
        m = re.compile(rb"\d+\s+\d+\s+obj").match(self.data, off)
        lex = _Lexer(self.data, m.end() if m else off)
        val = lex.value()
        # stream?
        lex._skip_ws()
        if lex.peek_bytes(6) == b"stream":
            p = lex.pos + 6
            if self.data[p : p + 2] == b"\r\n":
                p += 2
            elif self.data[p : p + 1] == b"\n":
                p += 1
            length = self.resolve(val.get("Length"))
            raw = self.data[p : p + int(length)]
            val = ("stream", val, raw)
        self._cache[num] = val
        return val

    def stream_bytes(self, obj) -> bytes:
        obj = self.resolve(obj)
        if not (isinstance(obj, tuple) and obj[0] == "stream"):
            raise PdfError("not a stream")
        _, d, raw = obj
        filt = self.resolve(d.get("Filter"))
        if filt is None:
            return raw
        filters = filt if isinstance(filt, list) else [filt]
        out = raw
        for f in filters:
            f = str(self.resolve(f))
            if f == "FlateDecode":
                out = zlib.decompress(out)
            else:
                raise PdfError(f"unsupported filter {f}")
        return out

    # -- pages

    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer["Root"])
        out: list[dict] = []

        def walk(node, inherited):
            node = self.resolve(node)
            merged = dict(inherited)
            for k in ("Resources", "MediaBox", "CropBox", "Rotate"):
                if k in node:
                    merged[k] = node[k]
            if str(node.get("Type")) == "Pages" or "Kids" in node:
                for kid in self.resolve(node.get("Kids", [])):
                    walk(kid, merged)
            else:
                page = dict(node)
                for k, v in merged.items():
                    page.setdefault(k, v)
                out.append(page)

        walk(root["Pages"], {})
        return out

    def page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("Contents"))
        if contents is None:
            return b""
        if isinstance(contents, list):
            return b"\n".join(self.stream_bytes(c) for c in contents)
        return self.stream_bytes(contents)


# ----------------------------------------------------------------- fonts

# Minimal StandardEncoding/WinAnsi punctuation glyph names → chars for
# /Differences mapping (extend as fixtures require)
_GLYPHS = {
    "space": " ", "period": ".", "comma": ",", "hyphen": "-", "colon": ":",
    "semicolon": ";", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "quotedbl": '"', "parenleft": "(", "parenright": ")", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "plus": "+", "equal": "=", "question": "?", "at": "@", "dollar": "$",
    "exclam": "!", "numbersign": "#", "asterisk": "*", "less": "<",
    "greater": ">", "bracketleft": "[", "bracketright": "]",
    "underscore": "_", "quoteright": "’", "quoteleft": "‘",
    "quotedblleft": "“", "quotedblright": "”", "endash": "–",
    "emdash": "—", "bullet": "•", "degree": "°",
}
for _c in "abcdefghijklmnopqrstuvwxyz":
    _GLYPHS[_c] = _c
    _GLYPHS[_c.upper()] = _c.upper()


@dataclass
class FontInfo:
    widths: dict[int, float] = field(default_factory=dict)
    default_width: float = 500.0
    ascent: float = 750.0          # loose (incl. FontBBox) — pdfium charbox
    descent: float = -250.0
    ascent_ink: float = 750.0      # tight (FontDescriptor only) — visible ink
    descent_ink: float = -250.0
    decode_map: dict[int, str] = field(default_factory=dict)

    def width(self, code: int) -> float:
        return self.widths.get(code, self.default_width)

    def char(self, code: int) -> str:
        if code in self.decode_map:
            return self.decode_map[code]
        return bytes([code]).decode("latin-1")


def load_fonts(doc: PdfDocument, resources) -> dict[str, FontInfo]:
    resources = doc.resolve(resources) or {}
    fonts_dict = doc.resolve(resources.get("Font")) or {}
    fonts: dict[str, FontInfo] = {}
    for name, ref in fonts_dict.items():
        fd = doc.resolve(ref)
        fi = FontInfo()
        first = doc.resolve(fd.get("FirstChar"))
        widths = doc.resolve(fd.get("Widths"))
        if widths is not None and first is not None:
            for i, w in enumerate(doc.resolve(widths)):
                fi.widths[int(first) + i] = float(doc.resolve(w))
        desc = doc.resolve(fd.get("FontDescriptor"))
        if desc:
            if "Ascent" in desc:
                fi.ascent = fi.ascent_ink = float(doc.resolve(desc["Ascent"]))
            if "Descent" in desc:
                fi.descent = fi.descent_ink = float(doc.resolve(desc["Descent"]))
            if "MissingWidth" in desc:
                fi.default_width = float(doc.resolve(desc["MissingWidth"]))
            # pdfium's loose charbox uses the descriptor Ascent/Descent —
            # validated against tests/ocr/pdf ocr_df.csv (FontBBox widening
            # overshoots y1 by ~8px at 14pt/200DPI)
        enc = doc.resolve(fd.get("Encoding"))
        if isinstance(enc, dict):
            diffs = doc.resolve(enc.get("Differences"))
            if diffs:
                code = 0
                for item in diffs:
                    item = doc.resolve(item)
                    if isinstance(item, (int, float)):
                        code = int(item)
                    else:
                        g = str(item)
                        fi.decode_map[code] = _GLYPHS.get(g, "�" if len(g) > 1 else g)
                        code += 1
        fonts[str(name)] = fi
    return fonts


# ------------------------------------------------------------ interpreter

@dataclass
class PdfChar:
    value: str
    x1: float
    y1: float
    x2: float
    y2: float  # PDF points, y-up (loose box, pdfium-style)
    iy1: float = 0.0  # tight ink bounds (FontDescriptor ascent/descent)
    iy2: float = 0.0
    #: full text-render matrix (6-tuple) when the glyph is ROTATED/SHEARED
    #: (trm has nonzero b/c); None for the axis-aligned common case. The
    #: glyph renderer uses it to draw ink in the glyph's local frame.
    mat: "tuple | None" = None
    w0: float = 0.0  # advance width in text space (local em units)


@dataclass
class PdfRect:
    x1: float
    y1: float
    x2: float
    y2: float
    stroke_width: float = 0.0
    fill_white: bool = False  # white fills are invisible on paper


def _mat_mul(a, b):
    return (
        a[0] * b[0] + a[1] * b[2],
        a[0] * b[1] + a[1] * b[3],
        a[2] * b[0] + a[3] * b[2],
        a[2] * b[1] + a[3] * b[3],
        a[4] * b[0] + a[5] * b[2] + b[4],
        a[4] * b[1] + a[5] * b[3] + b[5],
    )


def _apply(m, x, y):
    return (m[0] * x + m[2] * y + m[4], m[1] * x + m[3] * y + m[5])


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def interpret_page(doc: PdfDocument, page: dict) -> tuple[list[PdfChar], list[PdfRect]]:
    """Run text + path operators; return chars and axis-aligned rect/segment
    geometry in PDF point space."""
    chars, rects, _ = interpret_page_full(doc, page)
    return chars, rects


def interpret_page_full(
    doc: PdfDocument, page: dict
) -> tuple[list[PdfChar], list[PdfRect], list[tuple]]:
    """interpret_page plus image placements: every image-XObject ``Do`` is
    recorded as (xobject, ctm-at-Do) so a rasterizer can compose tiled or
    transformed scans onto a page canvas (reference renders whole pages via
    pdfium, document/pdf.py:46-67). Form XObjects are recursed into with
    their Matrix composed."""
    chars: list[PdfChar] = []
    rects: list[PdfRect] = []
    placements: list[tuple] = []
    _interpret_content(
        doc, doc.page_content(page), page.get("Resources"),
        chars, rects, placements, _ID, 0,
    )
    return chars, rects, placements


def _interpret_content(
    doc: PdfDocument,
    content: bytes,
    resources,
    chars: list[PdfChar],
    rects: list[PdfRect],
    placements: list[tuple],
    init_ctm: tuple,
    depth: int,
) -> None:
    fonts = load_fonts(doc, resources)

    ctm = init_ctm
    stack: list[tuple] = []
    tm = _ID
    tlm = _ID
    font: FontInfo | None = None
    tfs = 0.0
    tc = 0.0
    tw = 0.0
    tz = 100.0
    tl = 0.0
    line_width = 1.0
    fill_color: tuple = (0.0,)  # default black
    path: list[tuple] = []  # segments/rects in user space pending paint
    cur = (0.0, 0.0)
    start = (0.0, 0.0)

    lex = _Lexer(content)
    operands: list = []

    def show_text(s: bytes):
        nonlocal tm
        if font is None:
            return
        for code in s:
            w0 = font.width(code) / 1000.0
            ch = font.char(code)
            trm = _mat_mul((tfs * tz / 100.0, 0, 0, tfs, 0, 0), _mat_mul(tm, ctm))
            # glyph box in text space: x ∈ [0, w0], y ∈ [descent, ascent]/1000
            x0, y0 = 0.0, font.descent / 1000.0
            x1, y1 = w0, font.ascent / 1000.0
            rotated = abs(trm[1]) > 1e-9 or abs(trm[2]) > 1e-9
            if rotated:
                # true AABB needs all four transformed corners
                corners = [_apply(trm, cx, cy) for cx in (x0, x1) for cy in (y0, y1)]
                inks = [
                    _apply(trm, cx, cy)
                    for cx in (x0, x1)
                    for cy in (font.descent_ink / 1000.0, font.ascent_ink / 1000.0)
                ]
            else:
                corners = [_apply(trm, x0, y0), _apply(trm, x1, y1)]
                inks = [
                    _apply(trm, x0, font.descent_ink / 1000.0),
                    _apply(trm, x1, font.ascent_ink / 1000.0),
                ]
            if True:  # every char is emitted — whitespace splits words later
                chars.append(
                    PdfChar(
                        value=ch,
                        x1=min(p[0] for p in corners),
                        y1=min(p[1] for p in corners),
                        x2=max(p[0] for p in corners),
                        y2=max(p[1] for p in corners),
                        iy1=min(p[1] for p in inks),
                        iy2=max(p[1] for p in inks),
                        mat=trm if rotated else None,
                        w0=w0,
                    )
                )
            adv = (w0 * tfs + tc + (tw if code == 0x20 else 0.0)) * tz / 100.0
            tm = _mat_mul((1, 0, 0, 1, adv, 0), tm)

    def _fill_is_white() -> bool:
        c = fill_color
        if len(c) == 4:  # CMYK: white = all zero
            return all(abs(v) < 0.05 for v in c)
        return bool(c) and all(v >= 0.95 for v in c)

    def paint_path(stroked: bool, filled: bool):
        white = _fill_is_white()
        if filled:
            # fills: each closed subpath covers its bounding box — exact for
            # the axis-aligned quads used to draw table borders
            subpath_pts: list[tuple] = []

            def flush_subpath():
                if len(subpath_pts) >= 2:
                    xs = [p[0] for p in subpath_pts]
                    ys = [p[1] for p in subpath_pts]
                    rects.append(PdfRect(min(xs), min(ys), max(xs), max(ys), 0.0, white))
                subpath_pts.clear()

            for kind, *coords in path:
                if kind == "move":
                    flush_subpath()
                    subpath_pts.append(_apply(ctm, coords[0], coords[1]))
                elif kind == "re":
                    flush_subpath()
                    x, y, w, h = coords
                    p1 = _apply(ctm, x, y)
                    p2 = _apply(ctm, x + w, y + h)
                    rects.append(
                        PdfRect(
                            min(p1[0], p2[0]), min(p1[1], p2[1]),
                            max(p1[0], p2[0]), max(p1[1], p2[1]), 0.0, white,
                        )
                    )
                else:  # segment
                    xa, ya, xb, yb = coords
                    if not subpath_pts:
                        subpath_pts.append(_apply(ctm, xa, ya))
                    subpath_pts.append(_apply(ctm, xb, yb))
            flush_subpath()
        if stroked:
            for kind, *coords in path:
                if kind == "move":
                    continue
                if kind == "re":
                    x, y, w, h = coords
                    p1 = _apply(ctm, x, y)
                    p2 = _apply(ctm, x + w, y + h)
                    rects.append(
                        PdfRect(
                            min(p1[0], p2[0]), min(p1[1], p2[1]),
                            max(p1[0], p2[0]), max(p1[1], p2[1]),
                            stroke_width=line_width,
                        )
                    )
                else:
                    xa, ya, xb, yb = coords
                    p1 = _apply(ctm, xa, ya)
                    p2 = _apply(ctm, xb, yb)
                    rects.append(
                        PdfRect(
                            min(p1[0], p2[0]), min(p1[1], p2[1]),
                            max(p1[0], p2[0]), max(p1[1], p2[1]),
                            stroke_width=line_width,
                        )
                    )
        path.clear()

    while True:
        tok = lex.token()
        if tok is None:
            break
        if isinstance(tok, (int, float, PdfString, Name)):
            operands.append(tok)
            continue
        if tok == "[" or tok == "<<":
            operands.append(lex._value_from(tok))
            continue
        if not isinstance(tok, bytes):
            operands.append(tok)
            continue
        op = tok.decode("latin-1")
        try:
            if op == "q":
                stack.append((ctm, line_width))
            elif op == "Q":
                if stack:
                    ctm, line_width = stack.pop()
            elif op == "cm" and len(operands) >= 6:
                m = tuple(float(v) for v in operands[-6:])
                ctm = _mat_mul(m, ctm)
            elif op == "w" and operands:
                line_width = float(operands[-1])
            elif op == "BT":
                tm = tlm = _ID
            elif op == "ET":
                pass
            elif op == "Tf" and len(operands) >= 2:
                font = fonts.get(str(operands[-2]))
                tfs = float(operands[-1])
            elif op == "Tc" and operands:
                tc = float(operands[-1])
            elif op == "Tw" and operands:
                tw = float(operands[-1])
            elif op == "Tz" and operands:
                tz = float(operands[-1])
            elif op == "TL" and operands:
                tl = float(operands[-1])
            elif op == "Tm" and len(operands) >= 6:
                tm = tlm = tuple(float(v) for v in operands[-6:])
            elif op == "Td" and len(operands) >= 2:
                tlm = _mat_mul((1, 0, 0, 1, float(operands[-2]), float(operands[-1])), tlm)
                tm = tlm
            elif op == "TD" and len(operands) >= 2:
                tl = -float(operands[-1])
                tlm = _mat_mul((1, 0, 0, 1, float(operands[-2]), float(operands[-1])), tlm)
                tm = tlm
            elif op == "T*":
                tlm = _mat_mul((1, 0, 0, 1, 0, -tl), tlm)
                tm = tlm
            elif op == "Tj" and operands:
                if isinstance(operands[-1], bytes):
                    show_text(operands[-1])
            elif op == "'" and operands:
                tlm = _mat_mul((1, 0, 0, 1, 0, -tl), tlm)
                tm = tlm
                if isinstance(operands[-1], bytes):
                    show_text(operands[-1])
            elif op == '"' and len(operands) >= 3:
                tw = float(operands[-3])
                tc = float(operands[-2])
                tlm = _mat_mul((1, 0, 0, 1, 0, -tl), tlm)
                tm = tlm
                if isinstance(operands[-1], bytes):
                    show_text(operands[-1])
            elif op == "TJ" and operands:
                arr = operands[-1]
                if isinstance(arr, list):
                    for item in arr:
                        if isinstance(item, bytes):
                            show_text(item)
                        elif isinstance(item, (int, float)):
                            adv = -float(item) / 1000.0 * tfs * tz / 100.0
                            tm = _mat_mul((1, 0, 0, 1, adv, 0), tm)
            elif op == "g" and operands:
                fill_color = (float(operands[-1]),)
            elif op == "rg" and len(operands) >= 3:
                fill_color = tuple(float(v) for v in operands[-3:])
            elif op == "k" and len(operands) >= 4:
                fill_color = tuple(float(v) for v in operands[-4:])
            elif op in ("sc", "scn"):
                nums = [v for v in operands if isinstance(v, (int, float))]
                if nums:
                    fill_color = tuple(float(v) for v in nums)
            elif op == "re" and len(operands) >= 4:
                x, y, w, h = (float(v) for v in operands[-4:])
                path.append(("re", x, y, w, h))
                cur = start = (x, y)
            elif op == "m" and len(operands) >= 2:
                cur = start = (float(operands[-2]), float(operands[-1]))
                path.append(("move", cur[0], cur[1]))
            elif op == "l" and len(operands) >= 2:
                p = (float(operands[-2]), float(operands[-1]))
                path.append(("seg", cur[0], cur[1], p[0], p[1]))
                cur = p
            elif op == "h":
                path.append(("seg", cur[0], cur[1], start[0], start[1]))
                cur = start
            elif op in ("c", "v", "y"):
                # curves: keep endpoint only (tables never use curves)
                p = (float(operands[-2]), float(operands[-1]))
                cur = p
            elif op in ("S", "s"):
                if op == "s":
                    path.append(("seg", cur[0], cur[1], start[0], start[1]))
                paint_path(stroked=True, filled=False)
            elif op in ("f", "F", "f*"):
                paint_path(stroked=False, filled=True)
            elif op in ("B", "B*", "b", "b*"):
                if op in ("b", "b*"):
                    path.append(("seg", cur[0], cur[1], start[0], start[1]))
                paint_path(stroked=True, filled=True)
            elif op == "n":
                path.clear()
            elif op == "Do" and operands:
                name = str(operands[-1])
                res = doc.resolve(resources) or {}
                xobjs = doc.resolve(res.get("XObject")) or {}
                ref = xobjs.get(name)
                xo = doc.resolve(ref)
                if isinstance(xo, tuple) and xo[0] == "stream":
                    d = xo[1]
                    subtype = str(doc.resolve(d.get("Subtype", "")))
                    if subtype == "Image":
                        placements.append((ref, ctm))
                    elif subtype == "Form" and depth < 8:
                        mat = doc.resolve(d.get("Matrix"))
                        inner = (
                            _mat_mul(tuple(float(doc.resolve(v)) for v in mat), ctm)
                            if mat
                            else ctm
                        )
                        try:
                            _interpret_content(
                                doc, doc.stream_bytes(xo),
                                d.get("Resources") or resources,
                                chars, rects, placements, inner, depth + 1,
                            )
                        except PdfError:
                            pass  # undecodable form: skip, keep the page
        finally:
            operands.clear()
