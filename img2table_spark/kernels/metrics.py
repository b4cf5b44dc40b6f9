"""P1–P5 image preprocessing & metrics.

Parity targets (reference):
  - threshold_dark_areas (P1): src/img2table/tables/__init__.py:8-55
  - remove_dots:               src/img2table/tables/metrics.py:11-53
  - remove_dotted_lines:       metrics.py:56-146
  - filter_cc:                 metrics.py:149-202
  - create_character_thresh:   metrics.py:205-248
  - compute_char_length:       metrics.py:251-293
  - recompute_contours:        metrics.py:296-327
  - get_row_separations:       metrics.py:330-363
  - compute_median_line_sep:   metrics.py:366-401
  - compute_img_metrics (P5):  metrics.py:404-421

The reference runs these as numba kernels; here the hot parts are vectorized
NumPy with identical thresholds and rounding.
"""

from __future__ import annotations

import numpy as np

from img2table_spark.kernels.imageops import (
    connected_components_with_stats,
    gaussian_blur_u8,
    in_range_mask,
    morph_close,
    rgb2gray,
    sauvola_threshold_mask,
)
from img2table_spark.kernels.objects import Cell


def threshold_dark_areas(img: np.ndarray, char_length: float) -> np.ndarray:
    """P1 (reference: tables/__init__.py:8-55)."""
    gray = rgb2gray(img)
    if np.mean(gray) <= 127:
        gray = 255 - gray

    thresh_kernel = int(char_length) // 2 * 2 + 1
    thresh = sauvola_threshold_mask(gray, window=thresh_kernel, k=0.2)
    binary_thresh = None

    blur_size = min(255, int(2 * char_length) // 2 * 2 + 1)
    blur = gaussian_blur_u8(gray, blur_size)
    mask = in_range_mask(blur, 0, 100)

    _, _, stats = connected_components_with_stats(mask)
    for idx in range(stats.shape[0]):
        if idx == 0:
            continue
        x, y, w, h, area = (int(v) for v in stats[idx])
        if area / (w * h) >= 0.5 and min(w, h) >= char_length and max(w, h) >= 5 * char_length:
            if binary_thresh is None:
                binary_thresh = sauvola_threshold_mask(255 - gray, window=thresh_kernel, k=0.2)
            thresh[y : y + h, x : x + w] = binary_thresh[y : y + h, x : x + w]
    return thresh


def remove_dots(cc_labels: np.ndarray, stats: np.ndarray) -> np.ndarray:
    """Drop round, hollow-free CCs (dots) (reference: metrics.py:11-53).
    Vectorized: inner pixels = span between first/last label pixel per
    row/col minus pixel count."""
    keep = []
    for idx in range(1, stats.shape[0]):
        x, y, w, h, area = (int(v) for v in stats[idx])
        sub = cc_labels[y : y + h, x : x + w] == idx
        # rows: sum over rows with ≥2 pixels of (last - first + 1 - count)
        rows_any = sub.any(axis=1)
        first_c = sub.argmax(axis=1)
        last_c = w - 1 - sub[:, ::-1].argmax(axis=1)
        cnt_r = sub.sum(axis=1)
        inner = int(((last_c - first_c + 1 - cnt_r) * rows_any).sum())
        cols_any = sub.any(axis=0)
        first_r = sub.argmax(axis=0)
        last_r = h - 1 - sub[::-1, :].argmax(axis=0)
        cnt_c = sub.sum(axis=0)
        inner += int(((last_r - first_r + 1 - cnt_c) * cols_any).sum())

        roundness = 4 * area / (np.pi * max(h, w) ** 2)
        if not (inner / (2 * area) <= 0.1 and roundness >= 0.7):
            keep.append([x, y, w, h, area])
    return np.array(keep, dtype=np.int32) if keep else np.empty((0, 5), dtype=np.int32)


def remove_dotted_lines(complete_stats: np.ndarray) -> np.ndarray:
    """(reference: metrics.py:56-146) — float64 array [x,y,w,h,area,xm,ym]."""
    line_areas = []

    cs = complete_stats[complete_stats[:, 6].argsort()]
    x1_a, y1_a, x2_a, y2_a, width_a, prev_ym, count = 0, 0, 0, 0, 0, -10, 0
    for idx in range(cs.shape[0]):
        x, y, w, h, _, xm, ym = cs[idx]
        if w / h < 2:
            continue
        if ym - prev_ym <= 2:
            x1_a, y1_a = min(x, x1_a), min(y, y1_a)
            x2_a, y2_a = max(x + w, x2_a), max(y + h, y2_a)
            width_a += w
            count += 1
            prev_ym = ym
        else:
            if count >= 5 and width_a / ((x2_a - x1_a) or 1) >= 0.66:
                line_areas.append([x1_a, y1_a, x2_a, y2_a])
            x1_a, y1_a, x2_a, y2_a = x, y, x + w, y + h
            width_a, prev_ym, count = w, ym, 1
    if count >= 5 and width_a / ((x2_a - x1_a) or 1) >= 0.66:
        line_areas.append([x1_a, y1_a, x2_a, y2_a])

    cs = complete_stats[complete_stats[:, 5].argsort()]
    x1_a, y1_a, x2_a, y2_a, height_a, prev_xm, count = 0, 0, 0, 0, 0, -10, 0
    for idx in range(cs.shape[0]):
        x, y, w, h, _, xm, ym = cs[idx]
        if h / w < 2:
            continue
        if xm - prev_xm <= 2:
            x1_a, y1_a = min(x, x1_a), min(y, y1_a)
            x2_a, y2_a = max(x + w, x2_a), max(y + h, y2_a)
            height_a += h
            count += 1
            prev_xm = xm
        else:
            if count >= 5 and height_a / ((y2_a - y1_a) or 1) >= 0.66:
                line_areas.append([x1_a, y1_a, x2_a, y2_a])
            x1_a, y1_a, x2_a, y2_a = x, y, x + w, y + h
            height_a, prev_xm, count = h, xm, 1
    if count >= 5 and height_a / ((y2_a - y1_a) or 1) >= 0.66:
        line_areas.append([x1_a, y1_a, x2_a, y2_a])

    if len(line_areas) == 0:
        return complete_stats[:, :5].astype(np.int32)

    areas = np.array(line_areas)
    kept = []
    for idx in range(complete_stats.shape[0]):
        x, y, w, h, area, xm, ym = complete_stats[idx]
        xo = np.maximum(0, np.minimum(areas[:, 2], x + w) - np.maximum(areas[:, 0], x))
        yo = np.maximum(0, np.minimum(areas[:, 3], y + h) - np.maximum(areas[:, 1], y))
        if (xo * yo).sum() / (w * h) < 0.25:
            kept.append([x, y, w, h, area])
    return np.array(kept, dtype=np.int32) if kept else np.empty((0, 5), dtype=np.int32)


def filter_cc(stats: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(reference: metrics.py:149-202)"""
    kept, discarded = [], []
    for idx in range(stats.shape[0]):
        x, y, w, h, area = (int(v) for v in stats[idx])
        ar = max(w, h) / min(w, h)
        fill = area / (w * h)
        if ar <= 5 and fill > 0.08:
            kept.append([x, y, w, h, area])
        else:
            discarded.append([x, y, w, h, area])

    if len(kept) == 0:
        return (
            np.empty((0, 5), dtype=np.int32),
            np.array(discarded, dtype=np.int32) if discarded else np.empty((0, 5), dtype=np.int32),
        )

    ks = np.array(kept)
    median_w = np.median(ks[:, 2])
    median_h = np.median(ks[:, 3])
    upper = 5 * median_w * median_h
    lower = 0.2 * median_w * median_h

    kept2 = []
    for x, y, w, h, area in kept:
        bounded = lower <= w * h <= upper
        is_dash = (w / h >= 2) and (0.5 * median_w <= w <= 1.5 * median_w)
        if bounded or is_dash:
            kept2.append([x, y, w, h, area])
        else:
            discarded.append([x, y, w, h, area])
    return (
        np.array(kept2, dtype=np.int32) if kept2 else np.empty((0, 5), dtype=np.int32),
        np.array(discarded, dtype=np.int32) if discarded else np.empty((0, 5), dtype=np.int32),
    )


def create_character_thresh(
    thresh: np.ndarray, stats: np.ndarray, discarded_stats: np.ndarray, char_length: float
) -> tuple[np.ndarray, np.ndarray]:
    """(reference: metrics.py:205-248)"""
    character_thresh = np.zeros(thresh.shape, dtype=np.uint8)
    chars = []
    for idx in range(len(stats)):
        x, y, w, h, area = (int(v) for v in stats[idx])
        chars.append([x, y, w, h, area])
        character_thresh[y : y + h, x : x + w] = thresh[y : y + h, x : x + w]
        for j in range(1, len(discarded_stats)):
            cx, cy, cw, ch, carea = (int(v) for v in discarded_stats[j])
            y_overlap = min(cy + ch, y + h) - max(cy, y)
            if y_overlap < 0.5 * min(ch, h):
                continue
            if max(ch, cw) > 3 * max(h, w):
                continue
            distance = min(abs(cx - x), abs(cx - x - w), abs(cx + cw - x), abs(cx + cw - x - w))
            if y_overlap > 0 and distance <= char_length:
                chars.append([cx, cy, cw, ch, carea])
                character_thresh[cy : cy + ch, cx : cx + cw] = thresh[cy : cy + ch, cx : cx + cw]
    return character_thresh, (
        np.array(chars, dtype=np.int32) if chars else np.empty((0, 5), dtype=np.int32)
    )


def compute_char_length(thresh: np.ndarray):
    """P2 (reference: metrics.py:251-293)."""
    _, cc_labels, stats = connected_components_with_stats(thresh)
    stats = remove_dots(cc_labels, stats)
    stats = stats[stats[:, 4] > 10]
    if len(stats) == 0:
        return None, None, None

    complete = np.c_[stats, (2 * stats[:, 0] + stats[:, 2]) / 2, (2 * stats[:, 1] + stats[:, 3]) / 2]
    stats = remove_dotted_lines(complete.astype(np.float64))
    if len(stats) == 0:
        return None, None, None

    relevant, discarded = filter_cc(stats)
    if len(relevant) == 0:
        return None, None, None

    argmax_cl = float(np.argmax(np.bincount(relevant[:, 2])))
    mean_cl = np.mean(relevant[:, 2])
    char_length = mean_cl if 1.5 * argmax_cl <= mean_cl else argmax_cl

    characters_thresh, chars_array = create_character_thresh(thresh, relevant, discarded, char_length)
    return char_length, characters_thresh, chars_array


def recompute_contours(stats: np.ndarray, chars_array: np.ndarray) -> np.ndarray:
    """(reference: metrics.py:296-327)"""
    out = []
    ca = chars_array.astype(np.int64)
    for idx in range(stats.shape[0]):
        if idx == 0:
            continue
        x, y, w, h, _ = (int(v) for v in stats[idx])
        xo = np.maximum(0, np.minimum(x + w, ca[:, 0] + ca[:, 2]) - np.maximum(x, ca[:, 0]))
        yo = np.maximum(0, np.minimum(y + h, ca[:, 1] + ca[:, 3]) - np.maximum(y, ca[:, 1]))
        match = (xo * yo) >= 0.5 * ca[:, 3] * ca[:, 2]
        if match.any():
            m = ca[match]
            x1 = int(m[:, 0].min())
            y1 = int(m[:, 1].min())
            x2 = int((m[:, 0] + m[:, 2]).max())
            y2 = int((m[:, 1] + m[:, 3]).max())
            out.append([x1, y1, x2 - x1, y2 - y1])
    return np.array(out, dtype=np.int64) if out else np.empty((0, 4), dtype=np.int64)


#: rows of the pairwise matrices get_row_separations holds at once, which
#: bounds its extra memory to O(_SEP_BLOCK · n)
_SEP_BLOCK = 512


def get_row_separations(stats: np.ndarray, char_length: float) -> list[float]:
    """(reference: metrics.py:330-363 — note h_overlap uses HEIGHTS, a
    reference quirk preserved verbatim).

    For each contour i, the smallest vertical center distance to a contour
    j below it whose [x, x+h) span overlaps i's by more than
    char_length // 2; contours with no such j yield nothing. Computed in
    float64 over blocks of rows of the pairwise matrices."""
    s = np.asarray(stats, dtype=np.float64)
    x, y, h = s[:, 0], s[:, 1], s[:, 3]
    right = x + h
    v = (2 * y + h) / 2
    min_overlap = char_length // 2
    seps: list[float] = []
    for b0 in range(0, len(s), _SEP_BLOCK):
        blk = slice(b0, b0 + _SEP_BLOCK)
        h_overlap = np.minimum(right[blk, None], right) - np.maximum(x[blk, None], x)
        dv = v - v[blk, None]
        dv[(h_overlap <= min_overlap) | (dv <= 0)] = np.inf
        best = dv.min(axis=1)
        seps.extend(best[best < 10**6].tolist())
    return seps


def compute_median_line_sep(
    thresh_chars: np.ndarray, chars_array: np.ndarray, char_length: float
):
    """P4 (reference: metrics.py:366-401)."""
    kx = int(char_length // 2 + 1)
    ky = int(char_length // 3 + 1)
    closed = morph_close(thresh_chars, kx, ky)
    _, _, stats = connected_components_with_stats(closed)
    stats_contours = recompute_contours(stats, chars_array)
    row_separations = get_row_separations(stats_contours, char_length)

    if row_separations:
        # mode of odd-binned separations, smallest bin on ties
        # (reference: metrics.py:388-392 — polars group_by/len/sort/limit 1)
        bins = [2 * (s // 2) + 1 for s in row_separations]
        counts: dict[float, int] = {}
        for b in bins:
            counts[b] = counts.get(b, 0) + 1
        median_line_sep = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    else:
        median_line_sep = None

    contours = [
        Cell(x1=int(x), y1=int(y), x2=int(x + w), y2=int(y + h))
        for idx, (x, y, w, h) in enumerate(stats_contours)
        if idx > 0
    ]
    return median_line_sep, contours


def compute_img_metrics(thresh: np.ndarray):
    """P5 (reference: metrics.py:404-421)."""
    char_length, thresh_chars, chars_array = compute_char_length(thresh)
    if char_length is None:
        return None, None, None
    median_line_sep, contours = compute_median_line_sep(thresh_chars, chars_array, char_length)
    return char_length, median_line_sep, contours
