"""NumPy equivalents of the OpenCV primitives used by the reference.

cv2 is unavailable here, so each routine replicates the exact OpenCV
semantics the reference relies on (rounding, borders, anchors):

  - rgb2gray: cv2.cvtColor RGB2GRAY fixed-point coefficients
  - sauvola_threshold: cv2.ximgproc.niBlackThreshold BINARIZATION_SAUVOLA
    (boxFilter mean/var, r=128) — reference tables/__init__.py:25-27
  - gaussian_blur: cv2.GaussianBlur sigma-from-ksize incl. the small fixed
    kernels for ksize ≤ 7, BORDER_REFLECT_101; both separable passes run
    over strips of ``_BLUR_STRIP`` rows so the float64 accumulator stays in
    cache across taps, with each pixel's multiply-add sequence unchanged
  - in_range, convert_scale_abs
  - erode/dilate/morph open/close: rect kernels, cv2 anchor semantics for
    even sizes, O(n log k) boolean doubling over binary masks
  - connected_components_with_stats: 8-connectivity run-based labeling
  - bilateral_filter3: cv2.bilateralFilter(d=3) — radius-1 disc (4-neigh),
    L1 color distance, reference lines.py:98
  - laplacian3: cv2.Laplacian ksize=3 ([[2,0,2],[0,-8,0],[2,0,2]])
  - find_external_bboxes: cv2.findContours RETR_EXTERNAL + boundingRect
    (components enclosed in holes excluded)
  - adaptive_threshold_gaussian_inv: cv2.adaptiveThreshold GAUSSIAN_C +
    THRESH_BINARY_INV — reference common.py:158

Every kernel is single-threaded NumPy: a page belongs to one Spark task,
and pages run in parallel as tasks.
"""

from __future__ import annotations

import numpy as np


# ----------------------------------------------------------------- grayscale

def rgb2gray(img: np.ndarray) -> np.ndarray:
    """cv2 RGB2GRAY: fixed-point (R*4899 + G*9617 + B*1868 + 8192) >> 14.
    int32 suffices (max sum 255·16384 + 8192 < 2³¹) and halves memory traffic."""
    r = img[:, :, 0].astype(np.int32)
    g = img[:, :, 1].astype(np.int32)
    b = img[:, :, 2].astype(np.int32)
    return ((r * 4899 + g * 9617 + b * 1868 + (1 << 13)) >> 14).astype(np.uint8)


# -------------------------------------------------------------- box/gaussian

def _pad_replicate(a: np.ndarray, ry: int, rx: int) -> np.ndarray:
    return np.pad(a, ((ry, ry), (rx, rx)), mode="edge")


def _box_sum(a: np.ndarray, ky: int, kx: int) -> np.ndarray:
    """Sum over ky×kx windows centered (odd sizes), replicate border."""
    ry, rx = ky // 2, kx // 2
    p = _pad_replicate(a, ry, rx).astype(np.float64)
    Hp, Wp = p.shape
    c = np.zeros((Hp + 1, Wp + 1), dtype=np.float64)
    np.cumsum(p, axis=0, out=c[1:, 1:])
    np.cumsum(c[1:, 1:], axis=1, out=c[1:, 1:])
    H, W = a.shape
    # window rows [y, y+ky), cols [x, x+kx) in padded coords — contiguous
    # ranges, so plain slices (views) instead of fancy-index gathers
    out = np.subtract(c[ky : ky + H, kx : kx + W], c[0:H, kx : kx + W])
    out -= c[ky : ky + H, 0:W]
    out += c[0:H, 0:W]
    return out


def sauvola_threshold_mask(gray: np.ndarray, window: int, k: float = 0.2, r: float = 128.0) -> np.ndarray:
    """255 where gray <= Sauvola threshold T = m·(1 + k·(s/r − 1)).

    Matches cv2.ximgproc.niBlackThreshold(..., BINARIZATION_SAUVOLA) which
    uses boxFilter means with replicate border; computed in float32 like the
    OpenCV implementation.
    """
    g = gray.astype(np.float32)
    n = float(window * window)
    mean = (_box_sum(g, window, window) / n).astype(np.float32)
    sqmean = (_box_sum(g * g, window, window) / n).astype(np.float32)
    var = sqmean - mean * mean
    std = np.sqrt(np.maximum(var, 0), dtype=np.float32)
    thresh = mean * (1.0 + np.float32(k) * (std / np.float32(r) - 1.0))
    # cv2's niBlackThreshold ends with thresh.convertTo(src.depth()): the
    # float threshold is ROUNDED to uint8 (saturate_cast = half-to-even)
    # before the caller's `gray <= t` compare — boundary pixels where T
    # rounds up to the gray value flip ON only with this rounding
    t_u8 = np.clip(np.rint(thresh), 0, 255).astype(np.uint8)
    return (255 * (gray <= t_u8)).astype(np.uint8)


_SMALL_GAUSS = {
    1: np.array([1.0]),
    3: np.array([0.25, 0.5, 0.25]),
    5: np.array([0.0625, 0.25, 0.375, 0.25, 0.0625]),
    7: np.array([0.03125, 0.109375, 0.21875, 0.28125, 0.21875, 0.109375, 0.03125]),
}


def gaussian_kernel_1d(ksize: int, sigma: float = 0.0) -> np.ndarray:
    if sigma <= 0:
        if ksize in _SMALL_GAUSS:
            return _SMALL_GAUSS[ksize]
        sigma = 0.3 * ((ksize - 1) * 0.5 - 1) + 0.8
    x = np.arange(ksize, dtype=np.float64) - (ksize - 1) * 0.5
    kern = np.exp(-(x * x) / (2 * sigma * sigma))
    return kern / kern.sum()


def _reflect101_idx(n: int, radius: int) -> np.ndarray:
    """Source indices of an axis of length n padded by radius on each side,
    cv2's BORDER_REFLECT_101 (gfedcb|abcdefgh|gfedcba): the reflection
    repeats with period 2n − 2 however far the pad reaches, and a 1-pixel
    axis reflects onto itself."""
    period = max(2 * n - 2, 1)
    idx = np.abs(np.arange(-radius, n + radius)) % period
    return np.where(idx > n - 1, period - idx, idx)


#: rows per strip of ``_sep_filter``: a strip's float64 accumulator and
#: product stay in cache across all taps (measured on 750×917 and
#: 1111×1444 pages, ksize 3–61)
_BLUR_STRIP = 32


def _sep_filter(a: np.ndarray, kernel: np.ndarray, axis: int) -> np.ndarray:
    r = len(kernel) // 2
    n = a.shape[axis]
    idx = _reflect101_idx(n, r)
    padded = np.take(a, idx, axis=axis)
    out = np.zeros_like(a, dtype=np.float64)
    tmp = np.empty((min(_BLUR_STRIP, len(a)),) + a.shape[1:], dtype=np.float64)
    # per pixel the same float64 multiply-add sequence as one pass over
    # the whole image (0 + tap 0 + tap 1 ...), strip by strip along axis 0
    sl = [slice(None)] * a.ndim
    for y0 in range(0, len(a), _BLUR_STRIP):
        y1 = min(y0 + _BLUR_STRIP, len(a))
        acc = out[y0:y1]
        t = tmp[: y1 - y0]
        sl[0] = slice(y0, y1)
        for i, w in enumerate(kernel):
            if axis == 0:
                sl[0] = slice(y0 + i, y1 + i)
            else:
                sl[axis] = slice(i, i + n)
            np.multiply(padded[tuple(sl)], w, out=t)
            acc += t
    return out


def gaussian_blur_u8(gray: np.ndarray, ksize: int, sigma: float = 0.0) -> np.ndarray:
    """cv2.GaussianBlur on 8U, BORDER_REFLECT_101, rounded to nearest."""
    kern = gaussian_kernel_1d(ksize, sigma)
    f = _sep_filter(gray.astype(np.float64), kern, axis=1)
    f = _sep_filter(f, kern, axis=0)
    return np.clip(np.rint(f), 0, 255).astype(np.uint8)


def in_range_mask(gray: np.ndarray, lo: int, hi: int) -> np.ndarray:
    return (255 * ((gray >= lo) & (gray <= hi))).astype(np.uint8)


def convert_scale_abs(a: np.ndarray) -> np.ndarray:
    return np.clip(np.rint(np.abs(a)), 0, 255).astype(np.uint8)


# ------------------------------------------------------------- morphology

def _binary_window_1d(a: np.ndarray, lo: int, hi: int, axis: int, dilate: bool) -> np.ndarray:
    """255 where any (dilate) or every (erode) pixel of the window
    [i+lo, i+hi] along ``axis`` is set; outside the image counts as unset
    for dilate and set for erode.

    Doubling: after the step with span s, ``p[j]`` folds pixels
    [j, j+s), so a window of k pixels is the fold of two spans of the
    largest power of two s <= k, at offsets 0 and k-s — log2(k) boolean
    passes over contiguous slices, no transpose. Exact for binary masks
    (any non-zero pixel counts as set), which is all this engine feeds it."""
    k = hi - lo + 1
    n = a.shape[axis]
    fill = not dilate

    def along(s: slice) -> tuple:
        return (slice(None),) * axis + (s,)

    # p[j] = pixel j+lo, so window i is p[i : i+k]
    shape = list(a.shape)
    shape[axis] = n + k - 1
    p = np.full(shape, fill, dtype=bool)
    src = slice(max(0, lo), min(n, n + hi))
    np.not_equal(a[along(src)], 0, out=p[along(slice(src.start - lo, src.stop - lo))])
    op = np.logical_or if dilate else np.logical_and
    span = 1
    while 2 * span <= k:
        m = p.shape[axis] - span
        p = op(p[along(slice(0, m))], p[along(slice(span, span + m))])
        span *= 2
    out = op(p[along(slice(0, n))], p[along(slice(k - span, k - span + n))])
    return out.view(np.uint8) * np.uint8(255)


def _morph_1d(a: np.ndarray, k: int, axis: int, dilate: bool) -> np.ndarray:
    if k <= 1:
        return a
    anchor = k // 2
    # cv2 anchor semantics (validated against the RLSA text-mask BMP golden):
    # both ops use windows [i-anchor, i+k-1-anchor] — for even k, erode kills
    # the run START and dilate extends the run END.
    lo, hi = -anchor, k - 1 - anchor
    return _binary_window_1d(a, lo, hi, axis, dilate)


def dilate_rect(a: np.ndarray, kx: int, ky: int, iterations: int = 1) -> np.ndarray:
    """cv2.dilate with MORPH_RECT (kx width, ky height)."""
    out = a
    for _ in range(iterations):
        out = _morph_1d(_morph_1d(out, kx, 1, True), ky, 0, True)
    return out


def erode_rect(a: np.ndarray, kx: int, ky: int, iterations: int = 1) -> np.ndarray:
    out = a
    for _ in range(iterations):
        out = _morph_1d(_morph_1d(out, kx, 1, False), ky, 0, False)
    return out


def morph_open(a: np.ndarray, kx: int, ky: int, iterations: int = 1) -> np.ndarray:
    out = a
    for _ in range(iterations):
        out = dilate_rect(erode_rect(out, kx, ky), kx, ky)
    return out


def morph_close(a: np.ndarray, kx: int, ky: int, iterations: int = 1) -> np.ndarray:
    out = a
    for _ in range(iterations):
        out = erode_rect(dilate_rect(out, kx, ky), kx, ky)
    return out


# -------------------------------------------------- connected components

def connected_components_with_stats(binary: np.ndarray) -> tuple[int, np.ndarray, np.ndarray]:
    """8-connectivity labeling of non-zero pixels.

    Returns (n_labels, labels int32, stats int32 (n,5) [x, y, w, h, area]);
    label 0 is background. Run-based two-pass with union-find; label ids are
    re-numbered in raster order of first appearance.
    """
    H, W = binary.shape
    fg = binary != 0
    labels = np.zeros((H, W), dtype=np.int32)
    if not fg.any():
        stats = np.array([[0, 0, W, H, H * W]], dtype=np.int32)
        return 1, labels, stats

    # find runs per row
    padded = np.zeros((H, W + 2), dtype=bool)
    padded[:, 1:-1] = fg
    diff = np.diff(padded.astype(np.int8), axis=1)
    starts_r, starts_c = np.nonzero(diff == 1)
    ends_r, ends_c = np.nonzero(diff == -1)
    # runs: row, col_start, col_end(exclusive) — aligned since per row runs alternate
    n_runs = len(starts_r)
    run_row = starts_r
    run_s = starts_c
    run_e = ends_c

    # plain python lists in the union-find loops: numpy scalar indexing is
    # several times slower than list indexing at this call density
    parent = list(range(n_runs))
    rs_l = run_s.tolist()
    re_l = run_e.tolist()

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    # row boundaries in the run arrays
    row_first = np.searchsorted(run_row, np.arange(H), side="left").tolist()
    row_last = np.searchsorted(run_row, np.arange(H), side="right").tolist()

    for r in range(1, H):
        i0, i1 = row_first[r], row_last[r]
        j0, j1 = row_first[r - 1], row_last[r - 1]
        if i0 == i1 or j0 == j1:
            continue
        j = j0
        for i in range(i0, i1):
            s, e = rs_l[i] - 1, re_l[i] + 1  # 8-connectivity widening
            while j < j1 and re_l[j] <= s:
                j += 1
            jj = j
            while jj < j1 and rs_l[jj] < e:
                ra, rb = find(i), find(jj)
                if ra != rb:
                    parent[rb] = ra
                jj += 1
            if j > j0:
                j -= 1  # step back: next run may overlap same upper run

    # root per run → component ids in raster order of first run
    comp_ids = {}
    run_comp = np.zeros(n_runs, dtype=np.int32)
    rc_l = run_comp.tolist()
    for i in range(n_runs):
        rt = find(i)
        c = comp_ids.get(rt)
        if c is None:
            c = len(comp_ids) + 1
            comp_ids[rt] = c
        rc_l[i] = c
    run_comp = np.asarray(rc_l, dtype=np.int32)

    n_comp = len(comp_ids)
    stats = np.zeros((n_comp + 1, 5), dtype=np.int64)
    # per-run label paint needs the slice loop; per-component extremes fold
    # vectorized (same min/max/area values as the old per-run updates)
    rr_l = run_row.tolist()
    for i in range(n_runs):
        labels[rr_l[i], rs_l[i] : re_l[i]] = rc_l[i]
    xmin = np.full(n_comp + 1, W + 1, dtype=np.int64)
    ymin = np.full(n_comp + 1, H + 1, dtype=np.int64)
    x2 = np.zeros(n_comp + 1, dtype=np.int64)
    y2 = np.zeros(n_comp + 1, dtype=np.int64)
    np.minimum.at(xmin, run_comp, run_s)
    np.minimum.at(ymin, run_comp, run_row)
    np.maximum.at(x2, run_comp, run_e)
    np.maximum.at(y2, run_comp, run_row + 1)
    areas = np.bincount(run_comp, weights=(run_e - run_s), minlength=n_comp + 1)
    stats[:, 0] = xmin
    stats[:, 1] = ymin
    stats[:, 4] = areas.astype(np.int64)
    stats[1:, 2] = x2[1:] - stats[1:, 0]
    stats[1:, 3] = y2[1:] - stats[1:, 1]
    # background stats (cv2 convention: bbox = full image, area = bg pixels)
    stats[0] = [0, 0, W, H, H * W - stats[1:, 4].sum()]
    return n_comp + 1, labels, stats.astype(np.int32)


# ------------------------------------------------------------- bilateral

def bilateral_filter3(img: np.ndarray, sigma_color: float = 40.0, sigma_space: float = 80.0) -> np.ndarray:
    """cv2.bilateralFilter(src, d=3, sigmaColor, sigmaSpace) on RGB uint8.

    d=3 → radius 1; OpenCV's disc test keeps only the 4-neighbors + center.
    Color distance is the L1 norm over channels; border reflect101.
    """
    gc = -0.5 / (sigma_color * sigma_color)
    gs = -0.5 / (sigma_space * sigma_space)
    sw_side = float(np.exp(gs * 1.0))

    H, W, _ = img.shape
    # planar (3, H+2, W+2) reflect101 page: every per-channel pass below
    # runs over contiguous planes. The border rows/cols copy the image
    # rows/cols _reflect101_idx names
    p8 = np.empty((3, H + 2, W + 2), dtype=np.uint8)
    p8[:, 1 : H + 1, 1 : W + 1] = img.transpose(2, 0, 1)
    ix = _reflect101_idx(W, 1)
    iy = _reflect101_idx(H, 1)
    p8[:, 1 : H + 1, 0] = p8[:, 1 : H + 1, 1 + ix[0]]
    p8[:, 1 : H + 1, W + 1] = p8[:, 1 : H + 1, 1 + ix[-1]]
    p8[:, 0] = p8[:, 1 + iy[0]]
    p8[:, H + 1] = p8[:, 1 + iy[-1]]
    p16 = p8.astype(np.int16)
    pf = p8.astype(np.float32)

    # L1 color distances are integers in [0, 765], so the per-pixel
    # float32 exp chain collapses to a 766-entry lookup (bit-exact: same
    # f32 ops as `sw * np.exp(gc * d * d)` on f32 d)
    dr = np.arange(766, dtype=np.float32)
    lut_side = (sw_side * np.exp(gc * dr * dr)).astype(np.float32)

    def edge_weights(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        # L1 distance is symmetric, so one weight per pixel edge serves both
        # of its endpoints
        d = np.abs(a[0] - b[0])
        d += np.abs(a[1] - b[1])
        d += np.abs(a[2] - b[2])
        return lut_side[d]

    # wv[y]: edge between padded rows y and y+1; wh[:, x]: between padded
    # cols x and x+1 (interior rows/cols only — the others never touch an
    # output pixel)
    wv = edge_weights(p16[:, : H + 1, 1 : W + 1], p16[:, 1 : H + 2, 1 : W + 1])
    wh = edge_weights(p16[:, 1 : H + 1, : W + 1], p16[:, 1 : H + 1, 1 : W + 2])

    # center weight is exactly 1; neighbors accumulate up, down, left,
    # right. The output is pinned bit-exact, so this f32 operation order
    # must not change
    nbrs = (
        (wv[:H], (slice(0, H), slice(1, W + 1))),
        (wv[1:], (slice(2, H + 2), slice(1, W + 1))),
        (wh[:, :W], (slice(1, H + 1), slice(0, W))),
        (wh[:, 1:], (slice(1, H + 1), slice(2, W + 2))),
    )
    num = pf[:, 1 : H + 1, 1 : W + 1].copy()
    den = np.ones((H, W), dtype=np.float32)
    t32 = np.empty((H, W), dtype=np.float32)
    for w, (ys, xs) in nbrs:
        for ch in range(3):
            np.multiply(w, pf[ch, ys, xs], out=t32)
            num[ch] += t32
        den += w
    num /= den
    np.clip(np.rint(num, out=num), 0, 255, out=num)
    # an (H, W, 3) view of the channel planes: the caller's gray
    # conversion reads one channel at a time
    return num.astype(np.uint8).transpose(1, 2, 0)


# -------------------------------------------------------------- laplacian

def laplacian3_f64(gray: np.ndarray) -> np.ndarray:
    """cv2.Laplacian(src, CV_64F, ksize=3): kernel [[2,0,2],[0,-8,0],[2,0,2]],
    border reflect101."""
    g = gray.astype(np.float64)
    iy = _reflect101_idx(g.shape[0], 1)
    ix = _reflect101_idx(g.shape[1], 1)
    p = g[iy][:, ix]
    H, W = g.shape
    c = lambda dy, dx: p[1 + dy : 1 + dy + H, 1 + dx : 1 + dx + W]  # noqa: E731
    return 2 * (c(-1, -1) + c(-1, 1) + c(1, -1) + c(1, 1)) - 8 * c(0, 0)


# ------------------------------------------------------------ contours

def find_external_bboxes(binary: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Bounding boxes of RETR_EXTERNAL contours: 8-connected components not
    enclosed inside a hole of another component. Returned in cv2 order
    (bottom-up raster of first appearance reversed is NOT guaranteed —
    callers in the reference never rely on order beyond later sorts)."""
    n, labels, stats = connected_components_with_stats(binary)
    if n <= 1:
        return []
    # background components (4-connectivity on the complement)
    bg = (binary == 0).astype(np.uint8)
    nb, bg_labels, _ = _connected_components_4(bg)
    # outer background labels: any bg component touching the border
    border_bg = set(np.unique(np.concatenate([
        bg_labels[0], bg_labels[-1], bg_labels[:, 0], bg_labels[:, -1]
    ])))
    border_bg.discard(0)
    H, W = binary.shape
    outer = np.isin(bg_labels, list(border_bg)) if border_bg else np.zeros_like(bg, dtype=bool)
    # a component is external iff adjacent (8-neigh) to outer background or
    # touching the image border
    ext = set()
    pad_outer = np.zeros((H + 2, W + 2), dtype=bool)
    pad_outer[1:-1, 1:-1] = outer
    pad_outer[0] = pad_outer[-1] = True
    pad_outer[:, 0] = pad_outer[:, -1] = True
    near_outer = np.zeros((H, W), dtype=bool)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            near_outer |= pad_outer[1 + dy : 1 + dy + H, 1 + dx : 1 + dx + W]
    ext_labels = np.unique(labels[(labels > 0) & near_outer])
    ext = set(ext_labels.tolist())
    # cv2.findContours returns external contours bottom-up: reverse the
    # raster order (validated against the reference's elements.json golden)
    return [
        (int(stats[i, 0]), int(stats[i, 1]), int(stats[i, 2]), int(stats[i, 3]))
        for i in range(n - 1, 0, -1)
        if i in ext
    ]


def _connected_components_4(binary: np.ndarray) -> tuple[int, np.ndarray, np.ndarray]:
    """4-connectivity variant (for background labeling)."""
    H, W = binary.shape
    fg = binary != 0
    labels = np.zeros((H, W), dtype=np.int32)
    if not fg.any():
        return 1, labels, np.zeros((1, 5), dtype=np.int32)
    padded = np.zeros((H, W + 2), dtype=bool)
    padded[:, 1:-1] = fg
    diff = np.diff(padded.astype(np.int8), axis=1)
    starts_r, starts_c = np.nonzero(diff == 1)
    ends_r, ends_c = np.nonzero(diff == -1)
    n_runs = len(starts_r)
    run_row, run_s, run_e = starts_r, starts_c, ends_c
    parent = np.arange(n_runs, dtype=np.int64)

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    row_first = np.searchsorted(run_row, np.arange(H), side="left")
    row_last = np.searchsorted(run_row, np.arange(H), side="right")
    for r in range(1, H):
        i0, i1 = row_first[r], row_last[r]
        j0, j1 = row_first[r - 1], row_last[r - 1]
        if i0 == i1 or j0 == j1:
            continue
        j = j0
        for i in range(i0, i1):
            s, e = run_s[i], run_e[i]  # 4-connectivity: strict overlap
            while j < j1 and run_e[j] <= s:
                j += 1
            jj = j
            while jj < j1 and run_s[jj] < e:
                ra, rb = find(i), find(jj)
                if ra != rb:
                    parent[rb] = ra
                jj += 1
            if j > j0:
                j -= 1
    roots = [find(i) for i in range(n_runs)]
    comp_ids: dict[int, int] = {}
    for i in range(n_runs):
        rt = roots[i]
        if rt not in comp_ids:
            comp_ids[rt] = len(comp_ids) + 1
        labels[run_row[i], run_s[i] : run_e[i]] = comp_ids[rt]
    return len(comp_ids) + 1, labels, np.zeros((len(comp_ids) + 1, 5), dtype=np.int32)


# ---------------------------------------------------------- adaptive thresh

def adaptive_threshold_gaussian_inv(gray: np.ndarray, block_size: int, c: int) -> np.ndarray:
    """cv2.adaptiveThreshold(..., ADAPTIVE_THRESH_GAUSSIAN_C,
    THRESH_BINARY_INV, block_size, C): 255 where src <= mean - C.
    The gaussian mean is computed like cv2 (replicate border, rounded u8)."""
    kern = gaussian_kernel_1d(block_size, 0.0)
    # cv2 adaptiveThreshold uses BORDER_REPLICATE|BORDER_ISOLATED
    r = block_size // 2
    g = gray.astype(np.float64)
    gp = np.pad(g, ((r, r), (r, r)), mode="edge")
    f = _sep_filter_valid(gp, kern, axis=1)
    f = _sep_filter_valid(f, kern, axis=0)
    mean = np.clip(np.rint(f), 0, 255).astype(np.int32)
    return (255 * (gray.astype(np.int32) <= mean - c)).astype(np.uint8)


def _sep_filter_valid(a: np.ndarray, kernel: np.ndarray, axis: int) -> np.ndarray:
    """'valid' correlation along axis (input pre-padded)."""
    k = len(kernel)
    n = a.shape[axis] - k + 1
    out = None
    for i, w in enumerate(kernel):
        sl = [slice(None)] * a.ndim
        sl[axis] = slice(i, i + n)
        piece = w * a[tuple(sl)]
        out = piece if out is None else out + piece
    return out
