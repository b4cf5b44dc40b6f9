"""Property-based codec round-trips (hypothesis): arbitrary small images
and strip/compression/predictor combinations must survive encode→decode
bit-exactly. Catches header-math and boundary bugs the fixture tests miss."""

import numpy as np
from hypothesis import given, settings, strategies as st

from img2table_spark.kernels.bmp import decode_bmp
from img2table_spark.kernels.encoders import (
    encode_bmp24,
    encode_jpeg_progressive,
    encode_png,
    encode_tiff,
    packbits_encode,
    tiff_lzw_encode,
)
from img2table_spark.kernels.image_doc import decode_image_bytes
from img2table_spark.kernels.tiff import _lzw_decode, _packbits_decode, decode_tiff


def _img(h, w, seed):
    return np.random.RandomState(seed).randint(0, 256, size=(h, w, 3), dtype=np.uint8)


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 10_000),
)
def test_bmp24_any_shape(h, w, seed):
    img = _img(h, w, seed)
    assert np.array_equal(decode_bmp(encode_bmp24(img)), img)


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 10_000),
)
def test_png_any_shape(h, w, seed):
    img = _img(h, w, seed)
    assert np.array_equal(decode_image_bytes(encode_png(img)), img)


@settings(max_examples=25, deadline=None)
@given(
    bh=st.integers(1, 5),
    bw=st.integers(1, 5),
    seed=st.integers(0, 10_000),
)
def test_progressive_jpeg_blocky_any_shape(bh, bw, seed):
    # one flat colour per 8x8 block: DC-only blocks, so the only loss left
    # is the colour conversion's rounding
    small = _img(bh, bw, seed)
    img = np.repeat(np.repeat(small, 8, axis=0), 8, axis=1)
    got = decode_image_bytes(encode_jpeg_progressive(img, qval=2))
    assert got.shape == img.shape
    assert int(np.abs(got.astype(np.int16) - img).max()) <= 2


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(1, 32),
    w=st.integers(1, 32),
    seed=st.integers(0, 10_000),
    compression=st.sampled_from([1, 5, 8, 32773]),
    predictor=st.sampled_from([1, 2]),
    rps=st.integers(1, 33),
)
def test_tiff_any_shape(h, w, seed, compression, predictor, rps):
    img = _img(h, w, seed)
    data = encode_tiff(img, compression=compression, predictor=predictor,
                       rows_per_strip=rps)
    assert np.array_equal(decode_tiff(data), img)


@settings(max_examples=30, deadline=None)
@given(st.binary(min_size=0, max_size=5000))
def test_lzw_roundtrip_any_bytes(data):
    assert _lzw_decode(tiff_lzw_encode(data)) == data


@settings(max_examples=30, deadline=None)
@given(st.binary(min_size=0, max_size=3000))
def test_packbits_roundtrip_any_bytes(data):
    assert _packbits_decode(packbits_encode(data)) == data


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 10_000),
)
def test_webp_any_shape(h, w, seed):
    from img2table_spark.kernels.webp import decode_webp, encode_webp_vp8l

    img = _img(h, w, seed)
    assert np.array_equal(decode_webp(encode_webp_vp8l(img)), img)


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(1, 70),
    w=st.integers(1, 70),
    seed=st.integers(0, 10_000),
    compression=st.sampled_from([1, 5, 8, 32773]),
    predictor=st.sampled_from([1, 2]),
)
def test_tiff_tiled_any_shape(h, w, seed, compression, predictor):
    from img2table_spark.kernels.encoders import encode_tiff_tiled

    img = _img(h, w, seed)
    data = encode_tiff_tiled(img, 16, 32, compression=compression,
                             predictor=predictor)
    assert np.array_equal(decode_tiff(data), img)


# ------------------------------------------------------------- HDR / EXR

from img2table_spark.kernels.exr import decode_exr, encode_exr
from img2table_spark.kernels.hdr import decode_hdr, encode_hdr


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(1, 32),
    w=st.integers(8, 48),  # new-style RLE needs width >= 8
    seed=st.integers(0, 10_000),
)
def test_hdr_any_shape_within_one(h, w, seed):
    img = _img(h, w, seed)
    out = decode_hdr(encode_hdr(img))
    assert out.shape == img.shape
    # shared RGBE exponent bounds every channel's error by half a level,
    # so the display round-trip is off by at most one gray level
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 1


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(1, 32),
    w=st.integers(8, 48),
    seed=st.integers(0, 10_000),
)
def test_hdr_gray_any_shape_exact(h, w, seed):
    g = np.random.RandomState(seed).randint(0, 256, size=(h, w, 1), dtype=np.uint8)
    img = np.repeat(g, 3, axis=2)
    assert np.array_equal(decode_hdr(encode_hdr(img)), img)


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 10_000),
    comp=st.sampled_from([0, 1, 2, 3]),
)
def test_exr_any_shape_exact(h, w, seed, comp):
    img = _img(h, w, seed)
    assert np.array_equal(decode_exr(encode_exr(img, compression=comp)), img)
