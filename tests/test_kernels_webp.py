"""WebP VP8L codec: round-trips through the independent literal-only encoder
plus HAND-BUILT bitstreams for every advanced decoder feature the encoder
does not emit (all four transforms, LZ77 linear + 2D-map distances, color
cache, meta-Huffman partitioning). The reference accepts WebP opaquely via
cv2.imdecode (document/image.py:25-32); pipeline parity is pinned by the
golden-twin extraction test. The table-driven pixel decoder is pinned to
the per-symbol decoder it replaced, kept here, on random hand-built
streams (long codes, zero-bit trees, color cache, LZ77, two Huffman
groups, truncation and invalid codes)."""

import numpy as np
import pytest

import img2table_spark.kernels.webp as webp_
from img2table_spark.kernels.image_doc import ImageDecodeError, decode_image_bytes
from img2table_spark.kernels.png import decode_png
from img2table_spark.kernels.webp import (
    WebPError,
    _Bw,
    _write_tree,
    decode_webp,
    encode_webp_vp8l,
    vp8l_header,
    wrap_vp8l_payload,
    write_literal_stream,
)


def _to_argb(img):
    return (
        (np.uint32(0xFF) << 24)
        | (img[:, :, 0].reshape(-1).astype(np.uint32) << 16)
        | (img[:, :, 1].reshape(-1).astype(np.uint32) << 8)
        | img[:, :, 2].reshape(-1).astype(np.uint32)
    )


@pytest.fixture(scope="module")
def test_img(ref_tests):
    with open(ref_tests / "tables/image/test_data/test.png", "rb") as f:
        return decode_png(f.read())


# ----------------------------------------------------------------- roundtrip

@pytest.mark.parametrize("shape", [(1, 1), (3, 5), (17, 23), (64, 64)])
def test_roundtrip_random(shape):
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (*shape, 3), dtype=np.uint8)
    assert np.array_equal(decode_webp(encode_webp_vp8l(img)), img)


def test_roundtrip_structured():
    img = np.full((50, 80, 3), 255, np.uint8)
    img[10:40, 20:60] = [0, 128, 32]
    img[::5, :, :] = [200, 10, 10]
    assert np.array_equal(decode_webp(encode_webp_vp8l(img)), img)


def test_roundtrip_reference_image(test_img):
    assert np.array_equal(decode_webp(encode_webp_vp8l(test_img)), test_img)


# --------------------------------------- hand-built streams: the transforms

def test_subtract_green_transform():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (8, 12, 3), dtype=np.uint8)
    h, w, _ = img.shape
    f = img.astype(np.int32)
    stored = np.stack(
        [(f[:, :, 0] - f[:, :, 1]) & 0xFF, f[:, :, 1],
         (f[:, :, 2] - f[:, :, 1]) & 0xFF], axis=2
    ).astype(np.uint8)
    bw = _Bw()
    vp8l_header(bw, w, h)
    bw.write(1, 1)
    bw.write(2, 2)  # subtract-green
    bw.write(0, 1)  # end transforms
    write_literal_stream(bw, _to_argb(stored), level0=True)
    assert np.array_equal(decode_webp(wrap_vp8l_payload(bw.finish())), img)


def test_predictor_transform_top_mode():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (8, 12, 3), dtype=np.uint8)
    h, w, _ = img.shape
    pix = img.astype(np.int32)
    res = np.zeros_like(pix)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = (0, 0, 0)  # ARGB black: rgb 0
            elif y == 0:
                pred = tuple(pix[y, x - 1])  # forced left on first row
            elif x == 0:
                pred = tuple(pix[y - 1, x])  # forced top on first column
            else:
                pred = tuple(pix[y - 1, x])  # mode 2 = top
            res[y, x] = [(pix[y, x, c] - pred[c]) & 0xFF for c in range(3)]
    bw = _Bw()
    vp8l_header(bw, w, h)
    bw.write(1, 1)
    bw.write(0, 2)  # predictor
    bw.write(0, 3)  # 4-px blocks
    sub_w, sub_h = (w + 3) // 4, (h + 3) // 4
    modes = np.full(sub_w * sub_h, 2, np.uint32)
    write_literal_stream(bw, modes << 8, level0=False)  # mode in green
    bw.write(0, 1)
    write_literal_stream(bw, _to_argb(res.astype(np.uint8)), level0=True)
    assert np.array_equal(decode_webp(wrap_vp8l_payload(bw.finish())), img)


def test_color_transform():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (8, 12, 3), dtype=np.uint8)
    h, w, _ = img.shape
    g2r, g2b, r2b = 17, 250, 3

    def s8(v):
        return v - 256 if v >= 128 else v

    def delta(t, c):
        return (s8(t) * s8(c)) >> 5

    stored = np.zeros_like(img, dtype=np.int32)
    for y in range(h):
        for x in range(w):
            r, g, b = (int(v) for v in img[y, x])
            sr = (r - delta(g2r, g)) & 0xFF
            sb = (b - delta(g2b, g) - delta(r2b, r)) & 0xFF
            stored[y, x] = [sr, g, sb]
    bw = _Bw()
    vp8l_header(bw, w, h)
    bw.write(1, 1)
    bw.write(1, 2)  # cross-color
    bw.write(3, 3)  # 32-px blocks (single block)
    elem = np.array([(r2b << 16) | (g2b << 8) | g2r], dtype=np.uint32)
    write_literal_stream(bw, elem, level0=False)
    bw.write(0, 1)
    write_literal_stream(bw, _to_argb(stored.astype(np.uint8)), level0=True)
    assert np.array_equal(decode_webp(wrap_vp8l_payload(bw.finish())), img)


def test_color_indexing_bundled():
    rng = np.random.default_rng(13)
    pal = np.array(
        [[10, 20, 30], [200, 100, 50], [0, 0, 0], [255, 255, 255]], dtype=np.uint8
    )
    idx = rng.integers(0, 4, (5, 10))
    img = pal[idx]
    bw = _Bw()
    vp8l_header(bw, 10, 5)
    bw.write(1, 1)
    bw.write(3, 2)  # color indexing
    bw.write(3, 8)  # num_colors - 1
    pal_argb = (
        (np.uint32(0xFF) << 24)
        | (pal[:, 0].astype(np.uint32) << 16)
        | (pal[:, 1].astype(np.uint32) << 8)
        | pal[:, 2].astype(np.uint32)
    )
    deltas = np.zeros(4, np.uint32)
    prev = np.zeros(4, np.int32)
    for i, pv in enumerate(pal_argb):
        cur = np.array(
            [(pv >> s) & 0xFF for s in (0, 8, 16, 24)], dtype=np.int32
        )
        d = (cur - prev) & 0xFF
        deltas[i] = d[0] | (d[1] << 8) | (d[2] << 16) | (d[3] << 24)
        prev = cur
    write_literal_stream(bw, deltas, level0=False)
    bw.write(0, 1)
    # 4 colors → 2 bits/px, 4 px per green byte; packed width = ceil(10/4)
    packed = np.zeros((5, 3), dtype=np.uint32)
    for y in range(5):
        for xp in range(3):
            v = 0
            for k in range(4):
                x = xp * 4 + k
                if x < 10:
                    v |= int(idx[y, x]) << (k * 2)
            packed[y, xp] = v
    write_literal_stream(bw, packed.reshape(-1) << 8, level0=True)
    assert np.array_equal(decode_webp(wrap_vp8l_payload(bw.finish())), img)


# --------------------------------- hand-built streams: LZ77 / cache / meta

def test_lz77_linear_and_2d_map_distances():
    w, h = 8, 2
    A, B, C, D = 0xFF102030, 0xFF405060, 0xFF708090, 0xFFA0B0C0
    bw = _Bw()
    vp8l_header(bw, w, h)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    greens = [0x20, 0x50, 0x80, 0xB0, 256 + 3, 256 + 5]
    gl = [0] * 280
    for s, L in zip(greens, [2, 2, 3, 3, 3, 3]):
        gl[s] = L
    rl = [0] * 256
    bl = [0] * 256
    al = [0] * 256
    for v in (0x10, 0x40, 0x70, 0xA0):
        rl[v] = 2
    for v in (0x30, 0x60, 0x90, 0xC0):
        bl[v] = 2
    al[0xFF] = 1
    dl = [0] * 40
    dl[0] = dl[13] = 1
    g_codes = _write_tree(bw, gl)
    r_codes = _write_tree(bw, rl)
    b_codes = _write_tree(bw, bl)
    a_codes = _write_tree(bw, al)
    d_codes = _write_tree(bw, dl)

    def lit(p):
        bw.write_code(*g_codes[(p >> 8) & 0xFF])
        bw.write_code(*r_codes[(p >> 16) & 0xFF])
        bw.write_code(*b_codes[p & 0xFF])
        bw.write_code(*a_codes[0xFF])

    for p in (A, B, C, D):
        lit(p)
    # copy len 4 (length code 3), dist_code 124 = linear distance 4
    # (prefix code 13, 5 extra bits = 27)
    bw.write_code(*g_codes[256 + 3])
    bw.write_code(*d_codes[13])
    bw.write(27, 5)
    # copy len 8 (length code 5, 1 extra bit = 1), dist_code 1 → 2D map
    # entry (0, 1) → distance = one full row = w
    bw.write_code(*g_codes[256 + 5])
    bw.write(1, 1)
    bw.write_code(*d_codes[0])
    out = decode_webp(wrap_vp8l_payload(bw.finish()))
    expected = np.array([[A, B, C, D] * 2] * 2, dtype=np.uint32)
    exp_rgb = np.stack(
        [(expected >> 16) & 0xFF, (expected >> 8) & 0xFF, expected & 0xFF], axis=2
    ).astype(np.uint8)
    assert np.array_equal(out, exp_rgb)


def test_color_cache():
    w, h = 4, 1
    P = 0xFF315279
    hsh = (0x1E35A7BD * P & 0xFFFFFFFF) >> 28  # cache_bits=4
    bw = _Bw()
    vp8l_header(bw, w, h)
    bw.write(0, 1)
    bw.write(1, 1)
    bw.write(4, 4)  # cache_bits = 4
    bw.write(0, 1)  # no meta
    gl = [0] * (256 + 24 + 16)
    gl[(P >> 8) & 0xFF] = 1
    gl[280 + hsh] = 1
    rl = [0] * 256
    rl[(P >> 16) & 0xFF] = 1
    bl = [0] * 256
    bl[P & 0xFF] = 1
    al = [0] * 256
    al[0xFF] = 1
    dl = [0] * 40
    dl[0] = 1
    g_codes = _write_tree(bw, gl)
    r_codes = _write_tree(bw, rl)
    b_codes = _write_tree(bw, bl)
    a_codes = _write_tree(bw, al)
    _write_tree(bw, dl)
    bw.write_code(*g_codes[(P >> 8) & 0xFF])
    bw.write_code(*r_codes[(P >> 16) & 0xFF])
    bw.write_code(*b_codes[P & 0xFF])
    bw.write_code(*a_codes[0xFF])
    for _ in range(3):
        bw.write_code(*g_codes[280 + hsh])  # cache hits
    out = decode_webp(wrap_vp8l_payload(bw.finish()))
    exp = np.tile(
        np.array([(P >> 16) & 0xFF, (P >> 8) & 0xFF, P & 0xFF], np.uint8), (1, 4, 1)
    )
    assert np.array_equal(out, exp.reshape(1, 4, 3))


def test_meta_huffman_two_groups():
    w, h = 8, 4
    X, Y = 0xFF112233, 0xFFDDEEFF
    bw = _Bw()
    vp8l_header(bw, w, h)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(1, 1)  # meta present
    bw.write(0, 3)  # meta_bits = 2 → 4×4 blocks
    write_literal_stream(bw, np.array([0 << 8, 1 << 8], dtype=np.uint32), level0=False)
    for P in (X, Y):  # two groups of single-symbol trees → zero data bits
        for sym, n in (
            ((P >> 8) & 0xFF, 280), ((P >> 16) & 0xFF, 256),
            (P & 0xFF, 256), (0xFF, 256), (0, 40),
        ):
            L = [0] * n
            L[sym] = 1
            _write_tree(bw, L)
    out = decode_webp(wrap_vp8l_payload(bw.finish()))
    exp = np.zeros((4, 8, 3), np.uint8)
    exp[:, :4] = [(X >> 16) & 0xFF, (X >> 8) & 0xFF, X & 0xFF]
    exp[:, 4:] = [(Y >> 16) & 0xFF, (Y >> 8) & 0xFF, Y & 0xFF]
    assert np.array_equal(out, exp)


# -------------------------------------------------------- rejection + e2e

def test_lossy_vp8_rejected_loudly():
    fake = b"RIFF" + (20).to_bytes(4, "little") + b"WEBP" + b"VP8 " + (8).to_bytes(
        4, "little"
    ) + b"\x00" * 8
    with pytest.raises(WebPError, match="lossy"):
        decode_webp(fake)
    with pytest.raises(ImageDecodeError):
        decode_image_bytes(fake)


def test_dispatch_and_golden_twin_extraction(test_img):
    """The webp twin of the reference's test.png extracts the same golden
    tables through decode_image_bytes as the PNG original."""
    from img2table_spark.kernels.document import extract_image_tables

    data = encode_webp_vp8l(test_img)
    img = decode_image_bytes(data)
    assert np.array_equal(img, test_img)
    got = sorted(
        ((tb.x1, tb.y1, tb.x2, tb.y2), (tb.nb_rows, tb.nb_columns))
        for tb in extract_image_tables(img, implicit_rows=True)
    )
    assert got == [((36, 21, 770, 327), (6, 3)), ((962, 21, 1154, 123), (2, 2))]


def test_fuzz_corrupt_streams_fail_cleanly():
    """Bit-flipped and truncated VP8L streams must either decode (benign
    corruption) or raise WebPError — never hang, loop, or leak another
    exception type into the Spark UDF's error accounting."""
    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (20, 30, 3), dtype=np.uint8)
    good = bytearray(encode_webp_vp8l(img))
    for _ in range(120):
        data = bytearray(good)
        for _ in range(int(rng.integers(1, 6))):
            data[int(rng.integers(12, len(data)))] = int(rng.integers(0, 256))
        try:
            decode_webp(bytes(data))
        except WebPError:
            pass
    for cut in range(12, len(good), 11):
        try:
            decode_webp(bytes(good[:cut]))
        except WebPError:
            pass


# --------------------------- whole-pixel table vs the per-symbol reference


def _decode_pixels_ref(br, w, h, cache_bits, groups, meta, meta_bits):
    """The per-symbol pixel decoder: one tree lookup per green, red, blue
    and alpha symbol."""
    npix = w * h
    out = np.empty(npix, dtype=np.uint32)
    cache = [0] * (1 << cache_bits) if cache_bits else None
    cache_shift = 32 - cache_bits if cache_bits else 0
    pos = 0
    single = len(groups) == 1
    g_tree, r_tree, b_tree, a_tree, d_tree = groups[0]
    mw = (w + (1 << meta_bits) - 1) >> meta_bits if meta is not None else 0
    while pos < npix:
        if not single:
            x, y = pos % w, pos // w
            gi = int(meta[(y >> meta_bits) * mw + (x >> meta_bits)])
            g_tree, r_tree, b_tree, a_tree, d_tree = groups[gi]
        s = g_tree.decode(br)
        if s < 256:  # literal
            red = r_tree.decode(br)
            blue = b_tree.decode(br)
            alpha = a_tree.decode(br)
            argb = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = argb
            pos += 1
            if cache is not None:
                cache[(0x1E35A7BD * argb & 0xFFFFFFFF) >> cache_shift] = argb
        elif s < 280:  # LZ77 backward reference
            length = webp_._prefix_value(s - 256, br)
            dist_code = webp_._prefix_value(d_tree.decode(br), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = webp_._DIST_MAP[dist_code - 1]
                dist = dx + dy * w
                if dist < 1:
                    dist = 1
            src = pos - dist
            if src < 0 or pos + length > npix:
                raise WebPError("LZ77 reference out of bounds")
            if dist >= length:
                out[pos : pos + length] = out[src : src + length]
            else:
                for i in range(length):
                    out[pos + i] = out[src + i]
            if cache is not None:
                for i in range(pos, pos + length):
                    a = int(out[i])
                    cache[(0x1E35A7BD * a & 0xFFFFFFFF) >> cache_shift] = a
            pos += length
        else:  # color-cache hit
            if cache is None:
                raise WebPError("cache symbol without color cache")
            out[pos] = cache[s - 280]
            pos += 1
    return out


def _decode_argb(payload):
    """ARGB pixels of a VP8L payload and the bit position the reader ends
    at, or the WebPError message."""
    br = webp_._Br(payload)
    br.read(8)
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(4)
    try:
        argb = webp_._decode_image_stream(br, w, h, level0=True)
    except WebPError as e:
        return str(e)
    return argb, 8 * br.byte_pos - br.bitcnt


def _assert_matches_ref(payload, monkeypatch):
    got = _decode_argb(payload)
    with monkeypatch.context() as m:
        m.setattr(webp_, "_decode_pixels", _decode_pixels_ref)
        want = _decode_argb(payload)
    if isinstance(want, str):
        assert got == want
        return want
    assert not isinstance(got, str), got
    assert np.array_equal(got[0], want[0]) and got[1] == want[1]
    return want


def _prefix_code(v):
    """(prefix symbol, extra bit count, extra bits) of an LZ77 length or
    distance code v >= 1 (the inverse of ``_prefix_value``)."""
    if v <= 4:
        return v - 1, 0, 0
    d = v - 1
    hb = d.bit_length() - 1
    extra = hb - 1
    return 2 * hb + ((d >> extra) & 1), extra, d & ((1 << extra) - 1)


def _lengths(rng, n_symbols, used, max_len):
    """A code over ``used`` symbols with lengths up to ``max_len``: Huffman
    lengths of random, widely spread frequencies."""
    freqs = [0] * n_symbols
    for s in used:
        freqs[s] = int(2 ** rng.uniform(0, max_len + 2))
    return webp_._huff_lengths(freqs, max_len)


def _vp8l_stream(w, h, group_lengths, ops, cache_bits=0, meta=None, meta_bits=2):
    """A VP8L payload, no transforms, with one set of five trees per group
    and pixel ops ``("lit", g, r, b, a)``, ``("cache", index)`` or
    ``("copy", length, dist_code)``; ``meta`` is the per-block group index
    image."""
    bw = _Bw()
    vp8l_header(bw, w, h)
    bw.write(0, 1)  # no transforms
    bw.write(1 if cache_bits else 0, 1)
    if cache_bits:
        bw.write(cache_bits, 4)
    bw.write(meta is not None, 1)
    if meta is not None:
        bw.write(meta_bits - 2, 3)
        write_literal_stream(bw, np.asarray(meta, dtype=np.uint32) << 8, level0=False)
    codes = [[_write_tree(bw, lengths) for lengths in group] for group in group_lengths]
    mw = (w + (1 << meta_bits) - 1) >> meta_bits
    pos = 0
    for op in ops:
        gi = 0
        if meta is not None:
            y, x = divmod(pos, w)
            gi = int(meta[(y >> meta_bits) * mw + (x >> meta_bits)])
        g, r, b, a, d = codes[gi]
        if op[0] == "lit":
            for tree, sym in zip((g, r, b, a), op[1:]):
                bw.write_code(*tree[sym])
            pos += 1
        elif op[0] == "cache":
            bw.write_code(*g[280 + op[1]])
            pos += 1
        else:
            _, length, dist_code = op
            sym, nx, xv = _prefix_code(length)
            bw.write_code(*g[256 + sym])
            bw.write(xv, nx)
            sym, nx, xv = _prefix_code(dist_code)
            bw.write_code(*d[sym])
            bw.write(xv, nx)
            pos += length
    return bw.finish()


def _random_ops(rng, npix, palette, w, cache_bits=0, copy_frac=0.0):
    """Random literals from ``palette`` (rows g, r, b, a), color-cache hits
    and in-bounds LZ77 copies (overlapping ones included) filling npix
    pixels."""
    ops = []
    pos = 0
    while pos < npix:
        u = rng.random()
        if pos and u < copy_frac:
            length = int(rng.integers(1, min(npix - pos, 40) + 1))
            if rng.random() < 0.5:
                dist_code = 120 + int(rng.integers(1, pos + 1))
            else:  # 2D map entry: keep those whose distance is in bounds
                cands = [
                    c for c in range(1, 121)
                    if max(1, webp_._DIST_MAP[c - 1][0] + webp_._DIST_MAP[c - 1][1] * w) <= pos
                ]
                if not cands:
                    continue
                dist_code = int(rng.choice(cands))
            ops.append(("copy", length, dist_code))
            pos += length
        elif cache_bits and u < copy_frac + 0.3:
            ops.append(("cache", int(rng.integers(0, 1 << cache_bits))))
            pos += 1
        else:
            ops.append(("lit",) + tuple(int(v) for v in palette[int(rng.integers(len(palette)))]))
            pos += 1
    return ops


def _group_lengths(rng, ops, max_len, cache_bits=0):
    """One group's five code-length lists, covering every symbol ``ops``
    uses."""
    n_green = 280 + ((1 << cache_bits) if cache_bits else 0)
    used = [set(), set(), set(), set(), set()]
    for op in ops:
        if op[0] == "lit":
            for u, s in zip(used, op[1:]):
                u.add(s)
        elif op[0] == "cache":
            used[0].add(280 + op[1])
        else:
            used[0].add(256 + _prefix_code(op[1])[0])
            used[4].add(_prefix_code(op[2])[0])
    if not used[4]:
        used[4].add(0)
    sizes = (n_green, 256, 256, 256, 40)
    return [_lengths(rng, n, sorted(u), max_len) for n, u in zip(sizes, used)]


def _palette(rng, n, alpha_values=(255,)):
    g, r, b = (rng.integers(0, 256, n) for _ in range(3))
    a = rng.choice(alpha_values, n)
    return np.stack([g, r, b, a], axis=1)


@pytest.mark.parametrize("seed", range(4))
def test_pixel_table_long_codes_fall_back(seed, monkeypatch):
    # 40-color palettes with codes up to 15 bits: many whole pixels exceed
    # k = 16 bits and take the per-symbol path
    rng = np.random.default_rng(seed)
    w, h = 23, 17
    ops = _random_ops(rng, w * h, _palette(rng, 40, (0, 7, 255)), w)
    lengths = _group_lengths(rng, ops, 15)
    assert max(max(L) for L in lengths[:4]) >= 12
    argb, _ = _assert_matches_ref(_vp8l_stream(w, h, [lengths], ops), monkeypatch)
    want = [(a << 24) | (r << 16) | (g << 8) | b for _, g, r, b, a in ops]
    assert argb.tolist() == want


@pytest.mark.parametrize("n_colors", [1, 2, 3])
def test_pixel_table_zero_bit_trees(n_colors, monkeypatch):
    # one color: all four trees single-symbol, every pixel costs 0 bits;
    # two and three colors: single-symbol alpha (and maybe other channels)
    rng = np.random.default_rng(n_colors)
    w, h = 9, 7
    pal = _palette(rng, n_colors)
    pal[:, 1] = pal[0, 1]  # red is one symbol
    ops = _random_ops(rng, w * h, pal, w)
    lengths = _group_lengths(rng, ops, 15)
    argb, _ = _assert_matches_ref(_vp8l_stream(w, h, [lengths], ops), monkeypatch)
    assert len(argb) == w * h


@pytest.mark.parametrize("cache_bits", [1, 4, 11])
def test_pixel_table_color_cache_mixed(cache_bits, monkeypatch):
    rng = np.random.default_rng(cache_bits)
    w, h = 31, 9
    ops = _random_ops(rng, w * h, _palette(rng, 12), w, cache_bits=cache_bits)
    # short codes: most literals are table hits that update the cache
    lengths = _group_lengths(rng, ops, 7, cache_bits)
    stream = _vp8l_stream(w, h, [lengths], ops, cache_bits=cache_bits)
    _assert_matches_ref(stream, monkeypatch)


@pytest.mark.parametrize("seed", range(3))
def test_pixel_table_lz77_copies(seed, monkeypatch):
    rng = np.random.default_rng(100 + seed)
    w, h = 16, 12
    ops = _random_ops(rng, w * h, _palette(rng, 6), w, cache_bits=3, copy_frac=0.25)
    assert any(op[0] == "copy" for op in ops)
    lengths = _group_lengths(rng, ops, 15, cache_bits=3)
    _assert_matches_ref(_vp8l_stream(w, h, [lengths], ops, cache_bits=3), monkeypatch)


def test_pixel_table_two_groups(monkeypatch):
    # the two groups get different codes for the same symbols (short and
    # long), and group 1 is not selected until pixel 4
    rng = np.random.default_rng(5)
    w, h = 12, 10
    meta = np.array([0, 1, 1, 1, 0, 0, 1, 0, 1], dtype=np.uint32)  # 3×3 blocks of 4×4
    ops = _random_ops(rng, w * h, _palette(rng, 20, (9, 255)), w, copy_frac=0.1)
    short = _group_lengths(rng, ops, 6)
    long_ = _group_lengths(rng, ops, 15)
    stream = _vp8l_stream(w, h, [short, long_], ops, meta=meta)
    _assert_matches_ref(stream, monkeypatch)


def test_pixel_table_truncated_stream_reads_zero_bits(monkeypatch):
    rng = np.random.default_rng(8)
    w, h = 40, 30
    ops = _random_ops(rng, w * h, _palette(rng, 10), w)
    stream = _vp8l_stream(w, h, [_group_lengths(rng, ops, 15)], ops)
    decoded = 0
    for cut in range(len(stream) // 2, len(stream), 7):
        if not isinstance(_assert_matches_ref(stream[:cut], monkeypatch), str):
            decoded += 1
    assert decoded  # some cuts decode the missing tail from zero bits


def test_pixel_table_incomplete_code_raises(monkeypatch):
    # green code {0: "0", 1: "10", 256: "110"} leaves "111" unassigned
    gl = [0] * 280
    gl[0], gl[1], gl[256] = 1, 2, 3
    one = [1] + [0] * 255
    bw = _Bw()
    vp8l_header(bw, 6, 1)
    bw.write(0, 3)  # no transforms, no cache, no meta
    g_codes = [_write_tree(bw, L) for L in (gl, one, one, one, [1] + [0] * 39)][0]
    for sym in (0, 1, 0):
        bw.write_code(*g_codes[sym])
    bw.write(7, 3)  # the unassigned code
    payload = bw.finish()
    with pytest.raises(WebPError, match="invalid huffman code"):
        decode_webp(wrap_vp8l_payload(payload))
    assert "invalid huffman code" in _assert_matches_ref(payload, monkeypatch)
