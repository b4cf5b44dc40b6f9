"""Page kernels pinned bit-exact to reference bodies kept here: the
per-neighbor bilateral chain, the cumsum window-count morphology, the
pairwise row-separation loop and the whole-image separable filter that the
engine's vectorized and strip-blocked kernels replaced, plus integer box
sums and a np.pad Gaussian for the Sauvola and blur passes. Inputs are
adversarial shapes (1-pixel axes, 2×2, windows longer than the axis,
heights around the blur strip, all-zero and all-set masks), random RGB and
a rendered page.
"""

import numpy as np
import pytest

import img2table_spark.kernels.imageops as io_
import img2table_spark.kernels.metrics as metrics_

from tests.conftest import render_table_page


@pytest.fixture
def rng():
    return np.random.default_rng(0xBA4D)


@pytest.fixture(scope="module")
def page():
    """A rendered table page, and the same page after a JPEG round trip
    (ringing gives the bilateral many distinct colors)."""
    from img2table_spark.kernels.encoders import encode_jpeg_baseline
    from img2table_spark.kernels.image_doc import decode_image_bytes

    img, _, _ = render_table_page()
    return img, decode_image_bytes(encode_jpeg_baseline(img))


def _page_mask(img):
    gray = io_.rgb2gray(img)
    return (255 * (gray < 128)).astype(np.uint8)


# --------------------------------------------------------------- references


def _bilateral_ref(img, sigma_color=40.0, sigma_space=80.0):
    """Per-neighbor chain on an interleaved (H+2, W+2, 3) page."""
    gc = -0.5 / (sigma_color * sigma_color)
    gs = -0.5 / (sigma_space * sigma_space)
    sw_side = float(np.exp(gs * 1.0))
    H, W, _ = img.shape
    iy = io_._reflect101_idx(H, 1)
    ix = io_._reflect101_idx(W, 1)
    p8 = img[iy][:, ix]
    p16 = p8.astype(np.int16)
    dr = np.arange(766, dtype=np.float32)
    lut_side = (sw_side * np.exp(gc * dr * dr)).astype(np.float32)
    c16 = p16[1 : H + 1, 1 : W + 1]
    num = p8[1 : H + 1, 1 : W + 1].astype(np.float32)
    den = np.ones((H, W), dtype=np.float32)
    t16 = np.empty((H, W), dtype=np.int16)
    d = np.empty((H, W), dtype=np.int32)
    t32 = np.empty((H, W), dtype=np.float32)
    for dy, dx in ((-1, 0), (1, 0), (0, -1), (0, 1)):
        nb8 = p8[1 + dy : 1 + dy + H, 1 + dx : 1 + dx + W]
        nb16 = p16[1 + dy : 1 + dy + H, 1 + dx : 1 + dx + W]
        d[:] = 0
        for ch in range(3):
            np.subtract(nb16[:, :, ch], c16[:, :, ch], out=t16)
            np.abs(t16, out=t16)
            d += t16
        w = lut_side[d]
        for ch in range(3):
            np.multiply(w, nb8[:, :, ch], out=t32)
            num[:, :, ch] += t32
        den += w
    out = num / den[:, :, None]
    np.clip(np.rint(out, out=out), 0, 255, out=out)
    return out.astype(np.uint8)


def _binary_window_ref(a, lo, hi, axis, dilate):
    """Windowed set-pixel counts by cumsum: dilate ⇔ count > 0, erode ⇔
    count == k, with the axis padded unset (dilate) or set (erode)."""
    k = hi - lo + 1
    pad_before = max(0, -lo)
    pad_after = max(0, hi)
    m = np.ascontiguousarray(np.moveaxis(a, axis, -1))
    n = m.shape[-1]
    total = n + pad_before + pad_after
    on = np.empty(m.shape[:-1] + (total + 1,), dtype=np.int32)
    on[..., 0] = 0
    fill = 0 if dilate else 1
    on[..., 1 : 1 + pad_before] = fill
    on[..., 1 + pad_before : 1 + pad_before + n] = m != 0
    on[..., 1 + pad_before + n :] = fill
    cs = np.cumsum(on, axis=-1)
    start = lo + pad_before
    wsum = cs[..., start + k : start + k + n] - cs[..., start : start + n]
    out = (255 * ((wsum > 0) if dilate else (wsum == k))).astype(np.uint8)
    return np.moveaxis(out, -1, axis)


def _morph_ref(a, k, axis, dilate):
    if k <= 1:
        return a
    anchor = k // 2
    return _binary_window_ref(a, -anchor, k - 1 - anchor, axis, dilate)


def _row_separations_ref(stats, char_length):
    seps = []
    n = len(stats)
    for i in range(n):
        xi, yi, wi, hi = (float(v) for v in stats[i])
        best = 10**6
        for j in range(n):
            if i == j:
                continue
            xj, yj, wj, hj = (float(v) for v in stats[j])
            h_overlap = min(xi + hi, xj + hj) - max(xi, xj)
            v_i, v_j = (2 * yi + hi) / 2, (2 * yj + hj) / 2
            if h_overlap <= char_length // 2 or v_j <= v_i:
                continue
            best = min(best, v_j - v_i)
        if best < 10**6:
            seps.append(best)
    return seps


def _box_sum_ref(a, ky, kx):
    """Exact integer window sums (replicate border) by shifted adds; the
    engine's float64 cumsum box sum must equal them on integer input."""
    ry, rx = ky // 2, kx // 2
    p = np.pad(a.astype(np.int64), ((ry, ry), (rx, rx)), mode="edge")
    H, W = a.shape
    rows = sum(p[i : i + H] for i in range(ky))
    return sum(rows[:, j : j + W] for j in range(kx)).astype(np.float64)


def _sep_filter_ref(a, kernel, axis):
    """Correlation with a np.pad reflect (= cv2 reflect101) border, taps
    accumulated in kernel order."""
    r = len(kernel) // 2
    n = a.shape[axis]
    pad = [(0, 0)] * a.ndim
    pad[axis] = (r, r)
    p = np.pad(a, pad, mode="reflect")
    out = np.zeros(a.shape, dtype=np.float64)
    sl = [slice(None)] * a.ndim
    for i, w in enumerate(kernel):
        sl[axis] = slice(i, i + n)
        out = out + p[tuple(sl)] * w
    return out


def _gaussian_ref(gray, ksize):
    kern = io_.gaussian_kernel_1d(ksize)
    f = _sep_filter_ref(gray.astype(np.float64), kern, axis=1)
    f = _sep_filter_ref(f, kern, axis=0)
    return np.clip(np.rint(f), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------- bilateral

SHAPES = [(5, 7), (512, 3), (3, 512), (1023, 999), (2048, 64), (1200, 1500)]


@pytest.mark.parametrize("shape", SHAPES)
def test_bilateral_banded_exact(rng, shape):
    img = rng.integers(0, 256, shape + (3,)).astype(np.uint8)
    assert np.array_equal(io_.bilateral_filter3(img), _bilateral_ref(img))


@pytest.mark.parametrize("shape", [(1, 1), (1, 9), (9, 1), (2, 2), (2, 7), (7, 2)])
def test_bilateral_tiny_shapes_exact(rng, shape):
    img = rng.integers(0, 256, shape + (3,)).astype(np.uint8)
    got = io_.bilateral_filter3(img)
    assert got.shape == img.shape and got.dtype == np.uint8
    assert np.array_equal(got, _bilateral_ref(img))


def test_bilateral_page_exact(page):
    for img in page:
        assert np.array_equal(io_.bilateral_filter3(img), _bilateral_ref(img))


def test_bilateral_sigmas_exact(rng):
    img = rng.integers(0, 256, (31, 17, 3)).astype(np.uint8)
    for sc, ss in ((10.0, 5.0), (75.0, 75.0), (200.0, 1.0)):
        assert np.array_equal(
            io_.bilateral_filter3(img, sc, ss), _bilateral_ref(img, sc, ss)
        )


# --------------------------------------------------------------- morphology


def _masks(rng):
    values = rng.integers(1, 256, (15, 16)).astype(np.uint8)
    return {
        "random": (255 * (rng.random((37, 23)) < 0.4)).astype(np.uint8),
        "zero": np.zeros((9, 12), np.uint8),
        "set": np.full((12, 9), 255, np.uint8),
        # any non-zero value counts as set
        "nonbinary": np.where(rng.random((15, 16)) < 0.5, values, 0).astype(np.uint8),
        "row": (255 * (rng.random((1, 29)) < 0.5)).astype(np.uint8),
        "col": (255 * (rng.random((29, 1)) < 0.5)).astype(np.uint8),
        "pixel": np.full((1, 1), 255, np.uint8),
    }


@pytest.mark.parametrize("name", ["random", "zero", "set", "nonbinary", "row", "col", "pixel"])
@pytest.mark.parametrize("axis", [0, 1])
@pytest.mark.parametrize("dilate", [True, False])
def test_morph_1d_matches_reference(rng, name, axis, dilate):
    a = _masks(rng)[name]
    # odd and even k, powers of two and their neighbors, k longer than
    # every axis above
    for k in [1, 2, 3, 4, 5, 7, 8, 9, 16, 17, 31, 32, 40, 100]:
        got = io_._morph_1d(a, k, axis, dilate)
        assert np.array_equal(got, _morph_ref(a, k, axis, dilate)), k
        assert got.dtype == np.uint8 and got.shape == a.shape


@pytest.mark.parametrize("lo,hi", [(0, 0), (-4, 0), (0, 4), (-39, 0), (-3, 5)])
def test_binary_window_offsets_match_reference(rng, lo, hi):
    a = (255 * (rng.random((17, 26)) < 0.3)).astype(np.uint8)
    for axis in (0, 1):
        for dilate in (True, False):
            assert np.array_equal(
                io_._binary_window_1d(a, lo, hi, axis, dilate),
                _binary_window_ref(a, lo, hi, axis, dilate),
            )


def test_morph_page_exact(page):
    mask = _page_mask(page[1])
    for k in (2, 3, 10, 33, 61):
        for axis in (0, 1):
            for dilate in (True, False):
                assert np.array_equal(
                    io_._morph_1d(mask, k, axis, dilate), _morph_ref(mask, k, axis, dilate)
                )
    want = _morph_ref(_morph_ref(mask, 5, 1, True), 3, 0, True)
    want = _morph_ref(_morph_ref(want, 5, 1, False), 3, 0, False)
    assert np.array_equal(io_.morph_close(mask, 5, 3), want)


# ----------------------------------------------------------- row separations


def _random_stats(rng, n):
    stats = np.c_[
        rng.integers(0, 900, n), rng.integers(0, 750, n),
        rng.integers(1, 80, n), rng.integers(1, 40, n),
    ].astype(np.int64)
    if n > 4:
        stats[1] = stats[0]  # duplicate box: equal centers never separate
        stats[3, 1] = stats[2, 1]  # tied top edges
    return stats


@pytest.mark.parametrize("n", [0, 1, 2, 69, 186])
@pytest.mark.parametrize("char_length", [11.5, 7.0, np.float64(9.3)])
def test_row_separations_match_reference(rng, n, char_length):
    stats = _random_stats(rng, n)
    got = metrics_.get_row_separations(stats, char_length)
    assert got == _row_separations_ref(stats, char_length)
    assert all(type(s) is float for s in got)


def test_row_separations_block_edges(rng, monkeypatch):
    # a block size that does not divide n, so the last block is partial
    monkeypatch.setattr(metrics_, "_SEP_BLOCK", 7)
    stats = _random_stats(rng, 300)
    assert metrics_.get_row_separations(stats, 11.5) == _row_separations_ref(stats, 11.5)


def test_row_separations_far_rows_dropped():
    # a separation of exactly 10**6 counts as none, like the reference's
    # sentinel
    stats = np.array(
        [[0, 0, 10, 10], [0, 10**6, 10, 10], [50, 0, 10, 10], [50, 7, 10, 10]], np.int64
    )
    got = metrics_.get_row_separations(stats, 4.0)
    assert got == _row_separations_ref(stats, 4.0) == [7.0]


# ------------------------------------------------------- Sauvola / Gaussian


@pytest.mark.parametrize("shape", SHAPES)
@pytest.mark.parametrize("window", [3, 11, 31])
def test_sauvola_banded_exact(rng, shape, window, monkeypatch):
    gray = rng.integers(0, 256, shape).astype(np.uint8)
    got = io_.sauvola_threshold_mask(gray, window)
    monkeypatch.setattr(io_, "_box_sum", _box_sum_ref)
    assert np.array_equal(got, io_.sauvola_threshold_mask(gray, window))


@pytest.mark.parametrize("shape", SHAPES)
@pytest.mark.parametrize("ksize", [3, 21, 255])
def test_gaussian_banded_exact(rng, shape, ksize):
    if ksize // 2 > min(shape) - 1:
        # reflect101 domain: kernel radius must fit the axis (real callers
        # cap ksize from char_length)
        pytest.skip("kernel wider than axis")
    gray = rng.integers(0, 256, shape).astype(np.uint8)
    assert np.array_equal(io_.gaussian_blur_u8(gray, ksize), _gaussian_ref(gray, ksize))


def test_box_sum_banded_exact(rng):
    a = rng.integers(0, 256, (777, 1301)).astype(np.float32)
    assert np.array_equal(io_._box_sum(a, 11, 11), _box_sum_ref(a, 11, 11))


def test_sep_filter_1d_unaffected(rng):
    v = rng.random(1000)
    k = io_.gaussian_kernel_1d(7)
    assert np.array_equal(io_._sep_filter(v, k, 0), _sep_filter_ref(v, k, 0))


# ------------------------------------------------------------- blur strips


def _sep_filter_whole(a, kernel, axis):
    """The separable pass over the whole image at once, on the engine's
    reflect-101 index map (which wraps, unlike np.pad, once the radius
    exceeds the axis)."""
    r = len(kernel) // 2
    n = a.shape[axis]
    padded = np.take(a, io_._reflect101_idx(n, r), axis=axis)
    out = np.zeros_like(a, dtype=np.float64)
    tmp = np.empty_like(out)
    sl = [slice(None)] * a.ndim
    for i, w in enumerate(kernel):
        sl[axis] = slice(i, i + n)
        np.multiply(padded[tuple(sl)], w, out=tmp)
        out += tmp
    return out


def _gaussian_whole(gray, ksize):
    kern = io_.gaussian_kernel_1d(ksize)
    f = _sep_filter_whole(gray.astype(np.float64), kern, axis=1)
    f = _sep_filter_whole(f, kern, axis=0)
    return np.clip(np.rint(f), 0, 255).astype(np.uint8)


def _check_blur(gray, ksize):
    # the reflect-101 index map covers radii up to 2·n − 1 on an axis of n
    # pixels (it raises IndexError beyond), so every case stays inside that
    assert ksize // 2 <= 2 * min(gray.shape) - 1
    got = io_.gaussian_blur_u8(gray, ksize)
    assert np.array_equal(got, _gaussian_whole(gray, ksize))
    if ksize // 2 <= min(gray.shape) - 1:
        # np.pad's reflect agrees with reflect-101 while one reflection
        # covers the radius
        assert np.array_equal(got, _gaussian_ref(gray, ksize))


STRIP = io_._BLUR_STRIP


@pytest.mark.parametrize("h", [STRIP - 1, STRIP, STRIP + 1, 3 * STRIP + 5])
@pytest.mark.parametrize("ksize", [3, 5, 23, 61])
def test_gaussian_strip_heights(rng, h, ksize):
    _check_blur(rng.integers(0, 256, (h, 300)).astype(np.uint8), ksize)


@pytest.mark.parametrize("h", [64, 127, 128, 2 * STRIP + 200])
def test_gaussian_threshold_dark_areas_cap(rng, h):
    # ksize 255 is threshold_dark_areas' cap
    _check_blur(rng.integers(0, 256, (h, 260)).astype(np.uint8), 255)


@pytest.mark.parametrize("shape", [(1, 1), (1, 40), (40, 1), (300, 1), (2, 300)])
def test_gaussian_one_pixel_axes(rng, shape):
    _check_blur(rng.integers(0, 256, shape).astype(np.uint8), 3)


@pytest.mark.parametrize("h,ksize", [(20, 31), (20, 61), (STRIP + 1, 61), (40, 79)])
def test_gaussian_kernel_longer_than_height(rng, h, ksize):
    # ksize > H: the reflected border reaches past the middle of the axis,
    # and wraps around it once the radius exceeds H - 1
    _check_blur(rng.integers(0, 256, (h, 257)).astype(np.uint8), ksize)


@pytest.mark.parametrize("h", [STRIP - 1, STRIP, STRIP + 1, 2 * STRIP])
@pytest.mark.parametrize("axis", [0, 1])
def test_sep_filter_strips_match_reference(rng, h, axis):
    a = rng.random((h, 77)) * 255
    for ksize in (3, 7, 21, 2 * h - 1, 4 * h - 1):
        k = io_.gaussian_kernel_1d(ksize)
        got = io_._sep_filter(a, k, axis)
        assert np.array_equal(got, _sep_filter_whole(a, k, axis))
        if ksize // 2 <= a.shape[axis] - 1:
            assert np.array_equal(got, _sep_filter_ref(a, k, axis))


def test_gaussian_page_strips_exact(page):
    gray = io_.rgb2gray(page[1])
    for ksize in (3, 23, 61, 255):
        _check_blur(gray, ksize)
