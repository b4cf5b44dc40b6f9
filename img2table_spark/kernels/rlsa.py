"""L1/L2 — adaptive RLSA text mask and image elements.

Parity targets (reference):
  - remove_noise:       .../borderless_tables/layout/rlsa.py:17-51
  - adaptive_rlsa:      rlsa.py:54-114
  - find_obstacles:     rlsa.py:117-156
  - get_text_mask:      rlsa.py:159-236
  - identify_text_mask: rlsa.py:239-305
  - get_image_elements: .../layout/image_elements.py:7-27

The reference's numba loops are replaced by sparse per-row scans and NumPy
transition counting; thresholds and quirks (e.g. the dead elongation
condition `max/min < 0.33`) are replicated verbatim.
"""

from __future__ import annotations

import numpy as np

from img2table_spark.kernels.imageops import (
    connected_components_with_stats,
    dilate_rect,
    erode_rect,
    find_external_bboxes,
)
from img2table_spark.kernels.objects import Cell, Line, Table


def remove_noise(cc: np.ndarray, cc_stats: np.ndarray, average_height: float, median_width: float) -> np.ndarray:
    """(reference: rlsa.py:17-51)"""
    for idx in range(1, len(cc_stats)):
        x, y, w, h, area = (int(v) for v in cc_stats[idx])
        is_dash = (w / h >= 2) and (0.5 * median_width <= w <= 1.5 * median_width)
        if is_dash:
            continue
        cond_height = h < average_height / 3
        cond_elongation = max(h, w) / max(min(h, w), 1) < 0.33  # dead cond, kept verbatim
        cond_low_density = area / (max(w, 1) * max(h, 1)) < 0.08
        if cond_height or cond_elongation or cond_low_density:
            sub = cc[y : y + h, x : x + w]
            sub[sub == idx] = 0
    return cc


def _third_label_in_window(shape, flat, labs, p, c, l0, q0) -> np.ndarray:
    """For each gap between raster indices p < c of one row, with end
    labels l0 != q0: whether rows -2..+2 around it, in the columns strictly
    between, hold a pixel labelled neither 0, -1, l0 nor q0. ``flat`` and
    ``labs`` are the raster indices and labels of the nonzero pixels.

    Counts over sorted keys, no loop over gaps: a window row holds such a
    pixel iff its count of labelled pixels exceeds its counts of l0 and of
    q0 together. Labelled pixels (not 0, not -1) are counted by one
    ``searchsorted`` over their raster keys row·W+col, each label by one
    over the label-major keys label·H·W + row·W+col. A window row outside
    the image holds no raster key, so it counts nothing."""
    H, W = shape
    labelled = labs != -1
    raster = flat[labelled]
    by_label = np.sort(labs[labelled].astype(np.int64) * (H * W) + raster)
    ends = (l0.astype(np.int64) * (H * W), q0.astype(np.int64) * (H * W))
    found = np.zeros(len(p), dtype=bool)
    for dy in range(-2, 3):
        lo, hi = p + dy * W + 1, c + dy * W
        n = np.searchsorted(raster, hi) - np.searchsorted(raster, lo)
        for e in ends:
            n -= np.searchsorted(by_label, e + hi) - np.searchsorted(by_label, e + lo)
        found |= n > 0
    return found


def adaptive_rlsa(cc: np.ndarray, cc_stats: np.ndarray, a: float, th: float, c: float) -> np.ndarray:
    """(reference: rlsa.py:54-114) — per row, bridge gaps between consecutive
    CC pixels when length/height/overlap conditions hold and no third CC
    lies in the ±2-row gap window.

    Vectorized pair formulation (r6): a gap is a pair of consecutive nonzero
    pixels in one row, and its fill decision reads only cc/cc_stats — never
    rlsa_img — so every pair is independent and the reference's sequential
    walk computes exactly the union of per-pair fills. The length/height/
    overlap arithmetic runs as float64 array ops (identical IEEE results to
    the scalar chain); the pairs passing it take the ±2-row window test
    together (``_third_label_in_window``). A pair fills [p, c) of its row;
    pairs of consecutive pixels never overlap, so the fill is one scatter
    of the ranges' raster indices.
    Bit-equality is pinned by the RLSA BMP golden and the differential test
    in tests/test_rlsa_vectorized.py."""
    base = (cc > 0).astype(np.uint8)
    flat = np.flatnonzero(cc)
    if len(flat) < 2:
        return base
    rs = flat // cc.shape[1]
    labs = cc.reshape(-1)[flat]
    same_row = rs[1:] == rs[:-1]
    lp = labs[:-1]
    lc = labs[1:]
    valid = same_row & (lp != -1) & (lc != -1)
    same = valid & (lc == lp)
    fill_start = [flat[:-1][same]]
    fill_end = [flat[1:][same]]

    diff = np.nonzero(valid & (lc != lp))[0]
    if len(diff):
        pl = lp[diff]
        cl = lc[diff]
        p_flat = flat[:-1][diff]
        c_flat = flat[1:][diff]
        y1 = cc_stats[:, 1].astype(np.int64)
        hh = cc_stats[:, 3].astype(np.int64)
        hc = hh[cl]
        hp = hh[pl]
        mn = np.minimum(hc, hp)
        length = c_flat - p_flat - 1
        ratio = np.maximum(hc, hp) / np.maximum(mn, 1)
        overlap = np.minimum(y1[cl] + hc, y1[pl] + hp) - np.maximum(y1[cl], y1[pl])
        ok = (length <= a * mn) & (ratio <= th) & (overlap >= c * mn)
        cand = np.nonzero(ok)[0]
        if len(cand):
            third = _third_label_in_window(
                cc.shape, flat, labs, p_flat[cand], c_flat[cand], cl[cand], pl[cand]
            )
            keep = cand[~third]
            fill_start.append(p_flat[keep])
            fill_end.append(c_flat[keep])

    starts = np.concatenate(fill_start)
    lengths = np.concatenate(fill_end) - starts
    # raster index of every filled pixel: range k covers starts[k] + j for
    # j < lengths[k]
    offsets = np.cumsum(lengths) - lengths
    covered = np.arange(int(lengths.sum())) + np.repeat(starts - offsets, lengths)
    base.reshape(-1)[covered] = 1
    return base


def find_obstacles(img: np.ndarray, min_width: float) -> np.ndarray:
    """(reference: rlsa.py:117-156) — vertical gaps > h/5 spanning a
    min_width-wide column window.

    Vectorized (r6): the per-column walk marks an off-cell r of window
    column c0 iff the surrounding on-rows (prev < r < next) satisfy
    next − prev − 1 > H/5, or — when no on-row follows — the reference's
    ending-check quirk H − 1 − prev > H/5 (which then also covers row
    H−1 itself). prev/next arrive as row-axis accumulates; the fill of
    cols [c0, c0+mw) is a left-anchored binary dilation. Differential-
    pinned against the sequential walk in tests/test_rlsa_vectorized.py."""
    mask = np.zeros(img.shape, dtype=bool)
    mw = int(np.ceil(min_width))
    H, W = img.shape
    if W - mw <= 0 or H == 0:
        return mask
    # window max over columns [col, col+mw-1] for col in 0..W-mw-1
    sw = np.lib.stride_tricks.sliding_window_view(img, mw, axis=1)
    win_any = (sw.max(axis=2) > 0)  # (H, W-mw+1)

    on = win_any[:, : W - mw]
    ridx = np.arange(H, dtype=np.int64)[:, None]
    prev_on = np.maximum.accumulate(np.where(on, ridx, -1), axis=0)
    next_on = np.minimum.accumulate(np.where(on, ridx, H)[::-1], axis=0)[::-1]
    thresh = H / 5
    g = ~on & np.where(
        next_on < H,
        next_on - prev_on - 1 > thresh,
        H - 1 - prev_on > thresh,
    )
    if g.any():
        from img2table_spark.kernels.imageops import _binary_window_1d

        wc = g.shape[1]
        g_pad = np.zeros((H, wc + mw - 1), dtype=np.uint8)
        g_pad[:, :wc] = g
        dil = _binary_window_1d(g_pad, -(mw - 1), 0, axis=1, dilate=True)
        mask[:, : wc + mw - 1] = dil > 0
    return mask


def get_text_mask(
    thresh: np.ndarray, cc_stats_rlsa: np.ndarray, char_length: float, median_width: float
) -> np.ndarray:
    """(reference: rlsa.py:159-236) — classify RLSA blobs as text via
    white→black transition statistics."""
    text_mask = np.zeros(thresh.shape, dtype=bool)

    num = denum = 0
    for i in range(1, cc_stats_rlsa.shape[0]):
        h_i = int(cc_stats_rlsa[i, 3])
        area_i = int(cc_stats_rlsa[i, 4])
        num += h_i * area_i
        denum += area_i
    Hm = num / max(denum, 1)

    for idx in range(len(cc_stats_rlsa)):
        x, y, w, h, area = (int(v) for v in cc_stats_rlsa[idx])
        if (w / h >= 2) and (0.5 * median_width <= w <= 1.5 * median_width):
            text_mask[y : y + h, x : x + w] = True
            continue
        if idx == 0 or min(w, h) <= 2 * char_length / 3:
            continue

        sub = thresh[y : y + h, x : x + w]
        on = sub == 255
        # horizontal 0→255 transitions (prev starts at 0 per row)
        prev_h = np.zeros_like(on)
        prev_h[:, 1:] = on[:, :-1]
        h_tc = int((on & ~prev_h).sum())
        # vertical transitions + columns containing any pixel
        prev_v = np.zeros_like(on)
        prev_v[1:, :] = on[:-1, :]
        v_tc = int((on & ~prev_v).sum())
        nb_cols = int(on.any(axis=0).sum())

        H_ = h
        R = w / max(h, 1)
        THx = h_tc / max(nb_cols, 1)
        TVx = v_tc / max(nb_cols, 1)
        THy = h_tc / max(h, 1)

        is_text = False
        if (0.8 * Hm <= H_ <= 1.2 * Hm) or (0.8 * Hm > H_ and 1.2 < THx < 3.5):
            is_text = True
        elif (THx < 0.2 and R > 5 and 0.95 < TVx < 1.05) or (
            THx > 5 and R < 0.2 and 0.95 < THy < 1.05
        ):
            is_text = False
        elif 1.2 * Hm < H_ and 1.2 < THx < 3.5 and 1.2 < TVx < 3.5:
            is_text = True

        if is_text:
            text_mask[y : y + h, x : x + w] = True

    return text_mask


def identify_text_mask(
    thresh: np.ndarray,
    lines: list[Line],
    char_length: float,
    existing_tables: list[Table] | None = None,
) -> np.ndarray:
    """(reference: rlsa.py:239-305)"""
    thresh = thresh.copy()
    H, W = thresh.shape
    for line in lines:
        if line.horizontal and line.length >= 3 * char_length:
            y1 = line.y1 - line.thickness // 2 - 1
            y2 = line.y2 + line.thickness // 2 + 1
            thresh[max(0, y1) : y2 + 1, max(0, line.x1) : line.x2 + 1] = 0
        elif line.vertical and line.length >= 2 * char_length:
            x1 = line.x1 - line.thickness // 2 - 1
            x2 = line.x2 + line.thickness // 2 + 1
            thresh[max(0, line.y1) : line.y2 + 1, max(0, x1) : x2 + 1] = 0

    # dilation with 2×1 (width 2, height 1) kernel
    thresh = dilate_rect(thresh, 2, 1)

    n, cc, cc_stats = connected_components_with_stats(thresh)
    if len(cc_stats) <= 1:
        return thresh

    average_height = float(np.mean(cc_stats[1:, 3]))
    median_width = float(np.median(cc_stats[1:, 2]))
    cc = cc.astype(np.int32)
    cc_denoised = remove_noise(cc, cc_stats, average_height, median_width)

    rlsa_small = adaptive_rlsa(cc_denoised, cc_stats, a=1, th=3.5, c=0.4)
    rlsa_small = erode_rect((255 * (rlsa_small > 0)).astype(np.uint8), 1, 2)

    mask_obstacles = find_obstacles(np.maximum(rlsa_small, thresh), min_width=char_length)
    cc_obstacles = cc_denoised.copy()
    cc_obstacles[mask_obstacles] = -1

    rlsa_image = adaptive_rlsa(cc_obstacles, cc_stats, a=5, th=3.5, c=0.4)
    _, _, cc_stats_rlsa = connected_components_with_stats(
        (255 * (rlsa_image > 0)).astype(np.uint8)
    )

    text_mask = get_text_mask(thresh, cc_stats_rlsa, char_length, median_width)

    cc_final = cc_obstacles.copy()
    cc_final[~text_mask] = -1
    rlsa_final = adaptive_rlsa(cc_final, cc_stats, a=1.25, th=3.5, c=0.4)

    for tb in existing_tables or []:
        rlsa_final[tb.y1 : tb.y2, tb.x1 : tb.x2] = 0

    return erode_rect((255 * rlsa_final).astype(np.uint8), 1, 2)


def get_image_elements(thresh: np.ndarray, char_length: float) -> list[Cell]:
    """L2 (reference: image_elements.py:7-27)."""
    elements = []
    for x, y, w, h in find_external_bboxes(thresh):
        if (min(h, w) >= 0.5 * char_length and max(h, w) >= char_length) or (
            w / h >= 2 and 0.5 * char_length <= w <= 1.5 * char_length
        ):
            elements.append(Cell(x1=x, y1=y, x2=x + w, y2=y + h))
    return elements

