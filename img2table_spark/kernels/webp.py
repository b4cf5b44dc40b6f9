"""WebP decoder — VP8L (lossless) only, from the public container/bitstream
specs ("WebP Container Specification", "WebP Lossless Bitstream
Specification"). Pure stdlib + NumPy; no reference-code derivation (the
reference accepts WebP opaquely via cv2.imdecode, document/image.py:25-32).

Coverage:
  - RIFF container: bare "VP8L" chunk and "VP8X" extended files whose image
    chunk is VP8L. Lossy "VP8 " payloads are rejected loudly (DCT/loop-filter
    codec out of from-scratch scope).
  - Full VP8L feature set: all four transforms (predictor, color/cross-color,
    subtract-green, color-indexing incl. sub-byte bundling), color cache,
    meta-Huffman partitioning, simple and code-length-coded Huffman trees,
    LZ77 with the 120-entry 2D distance map.
  - Alpha is decoded but dropped on output (RGB), matching cv2.imdecode's
    IMREAD_COLOR behavior in the reference.

Pixel decoding is table-driven: per Huffman group, one NumPy-built table
indexed by the next k stream bits (k = min(16, sum of the four literal
trees' longest codes)) gives a whole literal pixel and its bit count when
all four codes fit in k bits, so a typical pixel costs one lookup instead
of four tree decodes. LZ77 references, color-cache symbols, longer pixels
and invalid codes fall back to the per-symbol tree path.

An independent ENCODER (``encode_webp_vp8l``) lives here too, written only
from the spec's writer perspective (literal-only entropy coding, no
transforms) so round-trip tests are a real two-sided check — the same
strategy that caught the TIFF-LZW early-change bug (kernels/encoders.py).

The 2D distance map is generated from the spec's ordering rule (closest
first by x²+y², ties by larger y, positive x before negative); the
literal-only encoder never emits it, so tests exercise it via a dedicated
LZ77 stream built by hand in tests/test_kernels_webp.py.
"""

from __future__ import annotations

import struct
from array import array

import numpy as np


class WebPError(ValueError):
    pass


# --------------------------------------------------------------- bit reader


class _Br:
    """LSB-first bit reader with a 64-bit refill buffer; Huffman codes are
    accumulated MSB-first per the spec, so table lookups use bit-reversed
    indices (deflate convention)."""

    __slots__ = ("data", "n", "byte_pos", "bitbuf", "bitcnt")

    def __init__(self, data: bytes):
        self.data = data
        self.n = len(data)
        self.byte_pos = 0
        self.bitbuf = 0
        self.bitcnt = 0

    def _refill(self) -> None:
        data, pos = self.data, self.byte_pos
        while self.bitcnt <= 48:
            if pos < self.n:
                self.bitbuf |= data[pos] << self.bitcnt
                pos += 1
            else:
                # past-the-end reads yield zero bits (trailing padding)
                pos += 1
            self.bitcnt += 8
        self.byte_pos = pos

    def read(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        if self.bitcnt < nbits:
            self._refill()
        v = self.bitbuf & ((1 << nbits) - 1)
        self.bitbuf >>= nbits
        self.bitcnt -= nbits
        return v

    def peek(self, nbits: int) -> int:
        if self.bitcnt < nbits:
            self._refill()
        return self.bitbuf & ((1 << nbits) - 1)

    def drop(self, nbits: int) -> None:
        self.bitbuf >>= nbits
        self.bitcnt -= nbits


# ----------------------------------------------------------- huffman tables


def _rev_bits(v: int, n: int) -> int:
    r = 0
    for _ in range(n):
        r = (r << 1) | (v & 1)
        v >>= 1
    return r


class _Tree:
    """Flat lookup table: peek `max_len` bits (LSB-first), index directly."""

    __slots__ = ("table", "max_len", "single")

    def __init__(self, lengths: list[int]):
        nz = [(s, l) for s, l in enumerate(lengths) if l > 0]
        if not nz:
            raise WebPError("empty huffman tree")
        if len(nz) == 1:
            self.single = nz[0][0]
            self.table = None
            self.max_len = 0
            return
        self.single = None
        max_len = max(l for _, l in nz)
        if max_len > 15:
            raise WebPError("huffman code length > 15")
        # canonical codes: increasing code values by (length, symbol)
        bl_count = [0] * (max_len + 1)
        for _, l in nz:
            bl_count[l] += 1
        code = 0
        next_code = [0] * (max_len + 2)
        for l in range(1, max_len + 1):
            code = (code + bl_count[l - 1]) << 1
            next_code[l] = code
        table = [None] * (1 << max_len)
        for s, l in nz:
            c = next_code[l]
            next_code[l] += 1
            if c >> l:
                raise WebPError("over-subscribed huffman code")
            base = _rev_bits(c, l)
            step = 1 << l
            entry = (s, l)
            for filler in range(base, 1 << max_len, step):
                table[filler] = entry
        self.table = table
        self.max_len = max_len

    def decode(self, br: _Br) -> int:
        if self.single is not None:
            return self.single
        entry = self.table[br.peek(self.max_len)]
        if entry is None:
            raise WebPError("invalid huffman code in stream")
        br.drop(entry[1])
        return entry[0]


_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


def _read_tree(br: _Br, num_symbols: int) -> _Tree:
    if br.read(1):  # simple code
        num = br.read(1) + 1
        first_len = 8 if br.read(1) else 1
        sym0 = br.read(first_len)
        lengths = [0] * num_symbols
        if num == 1:
            if sym0 >= num_symbols:
                raise WebPError("simple-code symbol out of range")
            lengths[sym0] = 1
        else:
            sym1 = br.read(8)
            if sym0 >= num_symbols or sym1 >= num_symbols:
                raise WebPError("simple-code symbol out of range")
            lengths[sym0] = lengths[sym1] = 1
        return _Tree(lengths)
    # code-length-coded
    num_codes = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_tree = _Tree(cl_lengths)
    if br.read(1):  # explicit max symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = num_symbols
    lengths = [0] * num_symbols
    symbol = 0
    prev_len = 8
    while symbol < num_symbols:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code_len = cl_tree.decode(br)
        if code_len < 16:
            lengths[symbol] = code_len
            symbol += 1
            if code_len:
                prev_len = code_len
        else:
            if code_len == 16:
                repeat, use = 3 + br.read(2), prev_len
            elif code_len == 17:
                repeat, use = 3 + br.read(3), 0
            else:
                repeat, use = 11 + br.read(7), 0
            end = min(symbol + repeat, num_symbols)
            while symbol < end:
                lengths[symbol] = use
                symbol += 1
    return _Tree(lengths)


# ------------------------------------------------------------ distance map

def _make_distance_map() -> list[tuple[int, int]]:
    """Spec ordering: 120 closest (x, y) neighbors with y ≥ 0 (excluding the
    non-causal y == 0, x ≤ 0 half-row), sorted by x²+y² ascending, ties by
    larger y first, positive x before negative."""
    cands = [
        (x, y)
        for y in range(0, 9)
        for x in range(-8, 9)
        if not (y == 0 and x <= 0)
    ]
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], p[0] < 0))
    return cands[:120]


_DIST_MAP = _make_distance_map()


def _prefix_value(code: int, br: _Br) -> int:
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


# -------------------------------------------------------------- image data


def _read_huffman_groups(br: _Br, w: int, h: int, cache_bits: int, level0: bool):
    """Returns (groups, meta, meta_bits); meta is the per-block group index
    array (or None for a single group)."""
    meta = None
    meta_bits = 0
    num_groups = 1
    if level0 and br.read(1):  # meta-huffman present
        meta_bits = 2 + br.read(3)
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        entropy = _decode_image_stream(br, mw, mh, level0=False)
        meta = (((entropy >> 16) & 0xFF) << 8 | ((entropy >> 8) & 0xFF)).astype(
            np.int32
        )
        num_groups = int(meta.max()) + 1
    green_syms = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(num_groups):
        groups.append(
            (
                _read_tree(br, green_syms),
                _read_tree(br, 256),  # red
                _read_tree(br, 256),  # blue
                _read_tree(br, 256),  # alpha
                _read_tree(br, 40),   # distance
            )
        )
    return groups, meta, meta_bits


def _pixel_table(trees) -> tuple[int, int, list[tuple[int, int]]]:
    """Whole-pixel lookup for one Huffman group: ``(k, mask, entries)``.

    ``entries`` is indexed by the next ``k`` stream bits, k = min(16, sum of
    the four literal trees' ``max_len``). An entry is ``(argb, bits)`` when
    a complete literal pixel (green < 256, then red, blue, alpha) is coded
    in 0 < ``bits`` <= k bits, and ``(0, 0)`` otherwise: LZ77 and
    color-cache symbols, pixels longer than k bits or of zero bits, and
    invalid codes. A code of length l fills every slot that agrees with it
    in the low l bits, so a lookup on bits the pixel does not use still
    finds it. Equal entries share one tuple, so a table costs 8 bytes a
    slot, like a tree's own table."""
    lit = trees[:4]
    k = min(16, sum(t.max_len for t in lit))
    idx = np.arange(1 << k, dtype=np.int64)
    used = np.zeros(1 << k, dtype=np.int64)
    ok = np.ones(1 << k, dtype=bool)
    syms = []
    for t in lit:
        if t.single is not None:
            syms.append(np.int64(t.single))
            continue
        sym_len = np.array([e or (0, 0) for e in t.table], dtype=np.int64)
        e = (idx >> used) & ((1 << t.max_len) - 1)
        ln = sym_len[e, 1]
        used += ln
        ok &= (ln > 0) & (used <= k)
        syms.append(sym_len[e, 0])
    g, r, b, a = syms
    ok &= (g < 256) & (used > 0)
    argb = np.where(ok, (a << 24) | (r << 16) | (g << 8) | b, 0)
    uniq, inv = np.unique((np.where(ok, used, 0) << 32) | argb, return_inverse=True)
    objs = [(v & 0xFFFFFFFF, v >> 32) for v in uniq.tolist()]
    return k, (1 << k) - 1, list(map(objs.__getitem__, inv.tolist()))


def _decode_symbol(br: _Br, trees, out: array, pos: int, npix: int, w: int,
                   cache, cache_shift: int) -> int:
    """Decodes one green symbol and what it selects (a literal pixel, an
    LZ77 copy or a color-cache pixel) into ``out``; returns the new pixel
    position."""
    g_tree, r_tree, b_tree, a_tree, d_tree = trees
    s = g_tree.decode(br)
    if s < 256:  # literal
        red = r_tree.decode(br)
        blue = b_tree.decode(br)
        alpha = a_tree.decode(br)
        argb = (alpha << 24) | (red << 16) | (s << 8) | blue
        out.append(argb)
        if cache is not None:
            cache[(0x1E35A7BD * argb & 0xFFFFFFFF) >> cache_shift] = argb
        return pos + 1
    if s < 280:  # LZ77 backward reference
        length = _prefix_value(s - 256, br)
        dist_code = _prefix_value(d_tree.decode(br), br)
        if dist_code > 120:
            dist = dist_code - 120
        else:
            dx, dy = _DIST_MAP[dist_code - 1]
            dist = dx + dy * w
            if dist < 1:
                dist = 1
        src = pos - dist
        if src < 0 or pos + length > npix:
            raise WebPError("LZ77 reference out of bounds")
        if dist >= length:
            out.extend(out[src : src + length])
        else:
            for i in range(src, src + length):
                out.append(out[i])
        if cache is not None:
            for a in out[pos : pos + length]:
                cache[(0x1E35A7BD * a & 0xFFFFFFFF) >> cache_shift] = a
        return pos + length
    # color-cache hit
    if cache is None:
        raise WebPError("cache symbol without color cache")
    out.append(cache[s - 280])
    return pos + 1


def _decode_pixels(br: _Br, w: int, h: int, cache_bits: int, groups, meta, meta_bits):
    """Entropy-coded pixels → ARGB uint32 array of length w*h.

    Each pixel first tries its group's whole-pixel table (``_pixel_table``,
    built the first time the group is selected), with the bit buffer held
    in locals and refilled 7 bytes at a time; bits past the end of the data
    read as zero. A table miss hands the reader state to ``br`` and takes
    the per-symbol path (``_decode_symbol``), which also raises on invalid
    codes. The reader state is handed back to ``br`` on exit, since
    sub-image streams keep reading after this one."""
    npix = w * h
    out = array("I")
    append = out.append
    cache = [0] * (1 << cache_bits) if cache_bits else None
    cache_shift = 32 - cache_bits if cache_bits else 0
    single = len(groups) == 1
    mw = (w + (1 << meta_bits) - 1) >> meta_bits if meta is not None else 0
    tables: list = [None] * len(groups)
    data = br.data
    byte_pos, bitbuf, bitcnt = br.byte_pos, br.bitbuf, br.bitcnt
    gi = 0
    if single:
        k, mask, entries = tables[0] = _pixel_table(groups[0])
    pos = 0
    while pos < npix:
        if not single:
            x, y = pos % w, pos // w
            gi = int(meta[(y >> meta_bits) * mw + (x >> meta_bits)])
            table = tables[gi]
            if table is None:
                table = tables[gi] = _pixel_table(groups[gi])
            k, mask, entries = table
        if bitcnt < k:
            bitbuf |= int.from_bytes(data[byte_pos : byte_pos + 7], "little") << bitcnt
            byte_pos += 7
            bitcnt += 56
        argb, nbits = entries[bitbuf & mask]
        if nbits:
            append(argb)
            bitbuf >>= nbits
            bitcnt -= nbits
            pos += 1
            if cache is not None:
                cache[(0x1E35A7BD * argb & 0xFFFFFFFF) >> cache_shift] = argb
            continue
        br.byte_pos, br.bitbuf, br.bitcnt = byte_pos, bitbuf, bitcnt
        pos = _decode_symbol(br, groups[gi], out, pos, npix, w, cache, cache_shift)
        byte_pos, bitbuf, bitcnt = br.byte_pos, br.bitbuf, br.bitcnt
    br.byte_pos, br.bitbuf, br.bitcnt = byte_pos, bitbuf, bitcnt
    return np.frombuffer(out, dtype=np.uint32)


# -------------------------------------------------------------- transforms


def _clip255(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _inv_predictor(pixels: np.ndarray, w: int, h: int, block_bits: int,
                   modes: np.ndarray) -> np.ndarray:
    """Inverse predictor transform (14 modes, spec §4.1); sequential by
    construction (each pixel depends on already-reconstructed neighbors)."""
    bw = (w + (1 << block_bits) - 1) >> block_bits
    px = pixels.astype(np.int64)

    def unpack(v):
        return ((v >> 24) & 0xFF, (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF)

    def pack(a, r, g, b):
        return (a << 24) | (r << 16) | (g << 8) | b

    def avg2(u, v):
        ua, ur, ug, ub = unpack(u)
        va, vr, vg, vb = unpack(v)
        return pack((ua + va) >> 1, (ur + vr) >> 1, (ug + vg) >> 1, (ub + vb) >> 1)

    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = px[i - 1]  # left
            elif x == 0:
                pred = px[i - w]  # top
            else:
                mode = int(modes[(y >> block_bits) * bw + (x >> block_bits)])
                L = px[i - 1]
                T = px[i - w]
                TL = px[i - w - 1]
                TR = px[i - w + 1] if x + 1 < w else px[(y - 1) * w]
                if mode == 0:
                    pred = 0xFF000000
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = avg2(avg2(L, TR), T)
                elif mode == 6:
                    pred = avg2(L, TL)
                elif mode == 7:
                    pred = avg2(L, T)
                elif mode == 8:
                    pred = avg2(TL, T)
                elif mode == 9:
                    pred = avg2(T, TR)
                elif mode == 10:
                    pred = avg2(avg2(L, TL), avg2(T, TR))
                elif mode == 11:  # Select
                    la, lr, lg, lb = unpack(L)
                    ta, tr_, tg, tb = unpack(T)
                    ca, cr, cg, cb = unpack(TL)
                    pa_minus_pb = (
                        (abs(la - ca) - abs(ta - ca))
                        + (abs(lr - cr) - abs(tr_ - cr))
                        + (abs(lg - cg) - abs(tg - cg))
                        + (abs(lb - cb) - abs(tb - cb))
                    )
                    pred = T if pa_minus_pb <= 0 else L
                elif mode == 12:  # ClampAddSubtractFull
                    la, lr, lg, lb = unpack(L)
                    ta, tr_, tg, tb = unpack(T)
                    ca, cr, cg, cb = unpack(TL)
                    pred = pack(
                        _clip255(la + ta - ca), _clip255(lr + tr_ - cr),
                        _clip255(lg + tg - cg), _clip255(lb + tb - cb),
                    )
                elif mode == 13:  # ClampAddSubtractHalf
                    av = avg2(L, T)
                    va, vr, vg, vb = unpack(av)
                    ca, cr, cg, cb = unpack(TL)

                    def half(a, b):
                        d = a - b
                        d = d // 2 if d >= 0 else -((-d) // 2)
                        return _clip255(a + d)

                    pred = pack(half(va, ca), half(vr, cr), half(vg, cg), half(vb, cb))
                else:
                    raise WebPError(f"invalid predictor mode {mode}")
            pa, pr, pg, pb = unpack(pred)
            va, vr, vg, vb = unpack(px[i])
            px[i] = pack((va + pa) & 0xFF, (vr + pr) & 0xFF,
                         (vg + pg) & 0xFF, (vb + pb) & 0xFF)
    return px.astype(np.uint32)


def _inv_color_transform(pixels: np.ndarray, w: int, h: int, block_bits: int,
                         elements: np.ndarray) -> np.ndarray:
    bw = (w + (1 << block_bits) - 1) >> block_bits
    out = pixels.copy()

    def s8(v):
        return v - 256 if v >= 128 else v

    for y in range(h):
        base = y * w
        erow = (y >> block_bits) * bw
        for x in range(w):
            v = int(out[base + x])
            e = int(elements[erow + (x >> block_bits)])
            g2r = s8((e >> 0) & 0xFF)
            g2b = s8((e >> 8) & 0xFF)
            r2b = s8((e >> 16) & 0xFF)
            g = s8((v >> 8) & 0xFF)
            red = ((v >> 16) & 0xFF) + ((g2r * g) >> 5)
            red &= 0xFF
            blue = (v & 0xFF) + ((g2b * g) >> 5) + ((r2b * s8(red)) >> 5)
            blue &= 0xFF
            out[base + x] = (v & 0xFF00FF00) | (red << 16) | blue
    return out.astype(np.uint32)


def _inv_subtract_green(pixels: np.ndarray) -> np.ndarray:
    g = (pixels >> 8) & 0xFF
    r = (((pixels >> 16) & 0xFF) + g) & 0xFF
    b = ((pixels & 0xFF) + g) & 0xFF
    return (pixels & 0xFF00FF00) | (r << 16) | b


def _inv_color_index(pixels: np.ndarray, w_packed: int, h: int, w_full: int,
                     palette: np.ndarray, xbits: int) -> np.ndarray:
    npal = len(palette)
    if xbits == 0:
        idx = (pixels >> 8) & 0xFF
        safe = np.where(idx < npal, idx, 0)
        out = palette[safe]
        out[idx >= npal] = 0
        return out
    bits = 8 >> xbits
    per = 1 << xbits
    packed = ((pixels >> 8) & 0xFF).reshape(h, w_packed)
    idx = np.zeros((h, w_packed * per), dtype=np.uint32)
    for k in range(per):
        idx[:, k::per] = (packed >> (k * bits)) & ((1 << bits) - 1)
    idx = idx[:, :w_full]
    safe = np.where(idx < npal, idx, 0)
    out = palette[safe]
    out[idx >= npal] = 0
    return out.reshape(-1)


# --------------------------------------------------------------- stream(s)


def _decode_image_stream(br: _Br, w: int, h: int, level0: bool) -> np.ndarray:
    """Returns ARGB uint32 array of length w*h (after inverse transforms when
    level0)."""
    transforms = []
    cur_w = w
    if level0:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise WebPError("duplicate transform")
            seen.add(ttype)
            if ttype == 0:  # predictor
                block_bits = 2 + br.read(3)
                bw = (cur_w + (1 << block_bits) - 1) >> block_bits
                bh = (h + (1 << block_bits) - 1) >> block_bits
                sub = _decode_image_stream(br, bw, bh, level0=False)
                transforms.append(("pred", block_bits, (sub >> 8) & 0xFF))
            elif ttype == 1:  # cross-color
                block_bits = 2 + br.read(3)
                bw = (cur_w + (1 << block_bits) - 1) >> block_bits
                bh = (h + (1 << block_bits) - 1) >> block_bits
                sub = _decode_image_stream(br, bw, bh, level0=False)
                transforms.append(("color", block_bits, sub))
            elif ttype == 2:  # subtract green
                transforms.append(("sub_green",))
            else:  # color indexing
                num_colors = br.read(8) + 1
                pal_deltas = _decode_image_stream(br, num_colors, 1, level0=False)
                # palette entries are componentwise-cumulative deltas
                comps = pal_deltas.view(np.uint8).reshape(num_colors, 4)
                palette = np.cumsum(comps.astype(np.uint32), axis=0) & 0xFF
                palette = palette.astype(np.uint8).reshape(num_colors, 4).copy()
                pal32 = palette.view(np.uint32).reshape(num_colors)
                if num_colors <= 2:
                    xbits = 3
                elif num_colors <= 4:
                    xbits = 2
                elif num_colors <= 16:
                    xbits = 1
                else:
                    xbits = 0
                full_w = cur_w
                cur_w = (cur_w + (1 << xbits) - 1) >> xbits
                transforms.append(("palette", full_w, pal32, xbits))
    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits > 11:
        raise WebPError(f"invalid color-cache bits {cache_bits}")
    groups, meta, meta_bits = _read_huffman_groups(br, cur_w, h, cache_bits, level0)
    pixels = _decode_pixels(br, cur_w, h, cache_bits, groups, meta, meta_bits)
    for t in reversed(transforms):
        if t[0] == "pred":
            pixels = _inv_predictor(pixels, cur_w, h, t[1], t[2])
        elif t[0] == "color":
            pixels = _inv_color_transform(pixels, cur_w, h, t[1], t[2])
        elif t[0] == "sub_green":
            pixels = _inv_subtract_green(pixels)
        else:
            _, full_w, pal32, xbits = t
            pixels = _inv_color_index(pixels, cur_w, h, full_w, pal32, xbits)
            cur_w = full_w
    return pixels


def _decode_vp8l_payload(data: bytes) -> np.ndarray:
    br = _Br(data)
    if br.read(8) != 0x2F:
        raise WebPError("bad VP8L signature byte")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    version = br.read(3)
    if version != 0:
        raise WebPError(f"unsupported VP8L version {version}")
    argb = _decode_image_stream(br, w, h, level0=True)
    rgb = np.empty((h, w, 3), dtype=np.uint8)
    a = argb.reshape(h, w)
    rgb[:, :, 0] = (a >> 16) & 0xFF
    rgb[:, :, 1] = (a >> 8) & 0xFF
    rgb[:, :, 2] = a & 0xFF
    return rgb


def decode_webp(data: bytes) -> np.ndarray:
    """RIFF/WEBP container → RGB uint8 array (VP8L payloads only)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise WebPError("not a RIFF/WEBP container")
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        payload = data[pos + 8 : pos + 8 + size]
        if tag == b"VP8L":
            return _decode_vp8l_payload(payload)
        if tag == b"VP8 ":
            raise WebPError(
                "lossy VP8 WebP not supported (DCT codec out of scope); "
                "re-encode losslessly"
            )
        pos += 8 + size + (size & 1)
    raise WebPError("no VP8L image chunk in WEBP container")


# ================================================================= encoder


class _Bw:
    """LSB-first bit writer (mirror of _Br)."""

    __slots__ = ("out", "bitbuf", "bitcnt")

    def __init__(self):
        self.out = bytearray()
        self.bitbuf = 0
        self.bitcnt = 0

    def write(self, value: int, nbits: int) -> None:
        self.bitbuf |= (value & ((1 << nbits) - 1)) << self.bitcnt
        self.bitcnt += nbits
        while self.bitcnt >= 8:
            self.out.append(self.bitbuf & 0xFF)
            self.bitbuf >>= 8
            self.bitcnt -= 8

    def write_code(self, code: int, length: int) -> None:
        """Huffman codes go MSB-first: emitting bits b_{L-1}..b_0 into an
        LSB-first stream equals writing the bit-reversed value in one go."""
        self.write(_rev_bits(code, length), length)

    def finish(self) -> bytes:
        if self.bitcnt:
            self.out.append(self.bitbuf & 0xFF)
            self.bitbuf = 0
            self.bitcnt = 0
        return bytes(self.out)


def _huff_lengths(freqs: list[int], max_len: int) -> list[int]:
    """Canonical huffman code lengths, depth-limited via kraft repair."""
    import heapq

    n = len(freqs)
    live = [(f, i) for i, f in enumerate(freqs) if f > 0]
    lengths = [0] * n
    if not live:
        return lengths
    if len(live) == 1:
        lengths[live[0][1]] = 1
        return lengths
    heap = [(f, [i]) for f, i in live]
    heapq.heapify(heap)
    while len(heap) > 1:
        f1, s1 = heapq.heappop(heap)
        f2, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            lengths[s] += 1
        heapq.heappush(heap, (f1 + f2, s1 + s2))
    if max(lengths) > max_len:
        over = [s for s in range(n) if lengths[s] > max_len]
        for s in over:
            lengths[s] = max_len
        # kraft sum may exceed 1 now: lengthen the least-frequent repairable
        def kraft():
            return sum(1 / (1 << l) for l in lengths if l)

        order = sorted((f, i) for i, f in enumerate(freqs) if f > 0)
        while kraft() > 1.0:
            for _, s in order:
                if 0 < lengths[s] < max_len:
                    lengths[s] += 1
                    break
            else:
                raise WebPError("cannot limit huffman depth")
    return lengths


def _write_tree(bw: _Bw, lengths: list[int]) -> dict[int, tuple[int, int]]:
    """Emit the tree definition; return {symbol: (code, length)}."""
    nz = [s for s, l in enumerate(lengths) if l]
    if 1 <= len(nz) <= 2 and all(s <= 255 for s in nz):
        bw.write(1, 1)  # simple
        bw.write(len(nz) - 1, 1)
        if nz[0] <= 1 and len(nz) == 1:
            bw.write(0, 1)  # 1-bit first symbol
            bw.write(nz[0], 1)
        else:
            bw.write(1, 1)  # 8-bit first symbol
            bw.write(nz[0], 8)
        if len(nz) == 2:
            bw.write(nz[1], 8)
        if len(nz) == 1:
            return {nz[0]: (0, 0)}
        return {nz[0]: (0, 1), nz[1]: (1, 1)}
    bw.write(0, 1)  # code-length-coded
    cl_freqs = [0] * 19
    for l in lengths:
        cl_freqs[l] += 1
    cl_lengths = _huff_lengths(cl_freqs, 7)
    if sum(1 for l in cl_lengths if l) == 1:
        # single-symbol CL tree decodes with zero bits; length value 1 is
        # the canonical way to signal it
        cl_lengths[next(l for l in range(19) if cl_lengths[l])] = 1
    bw.write(15, 4)  # num_code_lengths = 19
    for sym in _CL_ORDER:
        bw.write(cl_lengths[sym], 3)
    bw.write(0, 1)  # no explicit max_symbol
    cl_codes = _canonical_codes(cl_lengths)
    for l in lengths:
        c, cl = cl_codes[l]
        bw.write_code(c, cl)
    return _canonical_codes(lengths)


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    nz = [(s, l) for s, l in enumerate(lengths) if l]
    if len(nz) == 1:
        return {nz[0][0]: (0, 0)}
    max_len = max(l for _, l in nz)
    bl_count = [0] * (max_len + 1)
    for _, l in nz:
        bl_count[l] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for l in range(1, max_len + 1):
        code = (code + bl_count[l - 1]) << 1
        next_code[l] = code
    out = {}
    for s, l in nz:
        out[s] = (next_code[l], l)
        next_code[l] += 1
    return out


def _channel_freqs(vals: np.ndarray, num_symbols: int) -> list[int]:
    freqs = [0] * num_symbols
    for v, c in zip(*np.unique(vals, return_counts=True)):
        freqs[int(v)] = int(c)
    return freqs


def write_literal_stream(bw: _Bw, argb: np.ndarray, level0: bool) -> None:
    """Emit one entropy-coded image as pure literals (no color cache, no
    meta-huffman, no LZ77). Shared by the public encoder and the test
    harness that composes transform streams by hand."""
    bw.write(0, 1)  # no color cache
    if level0:
        bw.write(0, 1)  # no meta-huffman
    a = (argb >> 24) & 0xFF
    r = (argb >> 16) & 0xFF
    g = (argb >> 8) & 0xFF
    b = argb & 0xFF
    g_codes = _write_tree(bw, _huff_lengths(_channel_freqs(g, 280), 15))
    r_codes = _write_tree(bw, _huff_lengths(_channel_freqs(r, 256), 15))
    b_codes = _write_tree(bw, _huff_lengths(_channel_freqs(b, 256), 15))
    a_codes = _write_tree(bw, _huff_lengths(_channel_freqs(a, 256), 15))
    _write_tree(bw, [1] + [0] * 39)  # distance tree: unused single symbol
    # pre-reverse the codes so each pixel is four plain LSB-first writes
    revs = [
        {s: (_rev_bits(c, l), l) for s, (c, l) in codes.items()}
        for codes in (g_codes, r_codes, b_codes, a_codes)
    ]
    g_rev, r_rev, b_rev, a_rev = revs
    write = bw.write
    for gv, rv, bv, av in zip(g.tolist(), r.tolist(), b.tolist(), a.tolist()):
        c, l = g_rev[gv]
        write(c, l)
        c, l = r_rev[rv]
        write(c, l)
        c, l = b_rev[bv]
        write(c, l)
        c, l = a_rev[av]
        write(c, l)


def wrap_vp8l_payload(payload: bytes) -> bytes:
    """VP8L bitstream → RIFF/WEBP container (with odd-size padding)."""
    if len(payload) & 1:
        chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload + b"\x00"
    else:
        chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    riff_size = 4 + len(chunk)
    return b"RIFF" + struct.pack("<I", riff_size) + b"WEBP" + chunk


def vp8l_header(bw: _Bw, w: int, h: int) -> None:
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise WebPError("image dimensions out of VP8L range")
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha
    bw.write(0, 3)  # version


def encode_webp_vp8l(img: np.ndarray) -> bytes:
    """RGB uint8 array → lossless WebP (VP8L), literal-only entropy coding
    (no transforms, no LZ77, no color cache) — a valid stream any compliant
    decoder reads; written from the spec independently of decode_webp."""
    h, w, _ = img.shape
    bw = _Bw()
    vp8l_header(bw, w, h)
    bw.write(0, 1)  # no transforms
    argb = (
        (np.uint32(0xFF) << 24)
        | (img[:, :, 0].reshape(-1).astype(np.uint32) << 16)
        | (img[:, :, 1].reshape(-1).astype(np.uint32) << 8)
        | img[:, :, 2].reshape(-1).astype(np.uint32)
    )
    write_literal_stream(bw, argb, level0=True)
    return wrap_vp8l_payload(bw.finish())
