"""Differential pin: the vectorized adaptive_rlsa (r6) against the
reference-shaped sequential walk it replaced, over adversarial synthetic
component maps (obstacle -1 labels, touching runs, tall/short mixes,
gaps on the first and last rows), and against the per-gap window loop it
replaced on rendered pages."""

import numpy as np
import pytest

import img2table_spark.kernels.rlsa as rlsa_
from img2table_spark.kernels.rlsa import adaptive_rlsa


def _sequential(cc, cc_stats, a, th, c):
    rlsa_img = (cc > 0).astype(np.uint8)
    H, W = cc.shape
    stats = [tuple(int(v) for v in row[:4]) for row in cc_stats]
    for row in range(H):
        cols = np.nonzero(cc[row])[0]
        if len(cols) == 0:
            continue
        row_labels = cc[row, cols]
        prev_pos, prev_label = -1, -1
        for col, label in zip(cols.tolist(), row_labels.tolist()):
            if prev_label == -1 or label == -1:
                prev_pos, prev_label = col, label
                continue
            if label == prev_label:
                rlsa_img[row, prev_pos:col] = 1
            else:
                x1_cc, y1_cc, width_cc, height_cc = stats[label]
                x1_p, y1_p, width_p, height_p = stats[prev_label]
                length = col - prev_pos - 1
                height_ratio = max(height_cc, height_p) / max(min(height_cc, height_p), 1)
                h_overlap = min(y1_cc + height_cc, y1_p + height_p) - max(y1_cc, y1_p)
                window = cc[max(0, row - 2) : min(row + 3, H), prev_pos + 1 : col]
                no_other = not (
                    (window != -1) & (window != 0) & (window != label) & (window != prev_label)
                ).any()
                if (
                    length <= a * min(height_cc, height_p)
                    and height_ratio <= th
                    and h_overlap >= c * min(height_cc, height_p)
                    and no_other
                ):
                    rlsa_img[row, prev_pos:col] = 1
            prev_pos, prev_label = col, label
    return rlsa_img


def _synthetic_cc(rng, H=60, W=120, n_comp=14, obstacles=True):
    cc = np.zeros((H, W), dtype=np.int32)
    stats = np.zeros((n_comp + 1, 5), dtype=np.int64)
    for lab in range(1, n_comp + 1):
        h = rng.integers(1, 9)
        w = rng.integers(1, 15)
        y = rng.integers(0, H - h)
        x = rng.integers(0, W - w)
        cc[y : y + h, x : x + w] = lab
        stats[lab] = [x, y, w, h, h * w]
    # recompute tight stats after overwrites (later rects clobber earlier)
    for lab in range(1, n_comp + 1):
        ys, xs = np.nonzero(cc == lab)
        if len(ys) == 0:
            stats[lab] = [0, 0, 1, 1, 0]
            continue
        stats[lab] = [
            xs.min(), ys.min(), xs.max() - xs.min() + 1, ys.max() - ys.min() + 1, len(ys),
        ]
    if obstacles:
        for _ in range(3):
            y = rng.integers(0, H)
            x = rng.integers(0, W - 5)
            cc[y, x : x + 5] = -1
    return cc, stats


def test_adaptive_rlsa_matches_sequential():
    rng = np.random.default_rng(7)
    for trial in range(40):
        cc, stats = _synthetic_cc(rng, obstacles=(trial % 2 == 0))
        a, th, c = 3.5, 2.5, 0.5
        got = adaptive_rlsa(cc, stats, a, th, c)
        want = _sequential(cc, stats, a, th, c)
        assert np.array_equal(got, want), trial


def _sequential_obstacles(img, min_width):
    mask = np.zeros(img.shape, dtype=bool)
    mw = int(np.ceil(min_width))
    H, W = img.shape
    if W - mw <= 0 or H == 0:
        return mask
    sw = np.lib.stride_tricks.sliding_window_view(img, mw, axis=1)
    win_any = (sw.max(axis=2) > 0)
    for col in range(W - mw):
        rows_on = np.nonzero(win_any[:, col])[0]
        prev = -1
        for row in rows_on.tolist():
            if row - prev - 1 > H / 5:
                mask[prev + 1 : row, col : col + mw] = True
            prev = row
        row = H - 1
        if row + 1 - prev - 1 > H / 5:
            mask[prev + 1 : row + 1, col : col + mw] = True
    return mask


def test_find_obstacles_matches_sequential():
    from img2table_spark.kernels.rlsa import find_obstacles

    rng = np.random.default_rng(11)
    for trial in range(30):
        H = int(rng.integers(3, 40))
        W = int(rng.integers(3, 50))
        density = rng.choice([0.0, 0.02, 0.1, 0.5])
        img = (rng.random((H, W)) < density).astype(np.uint8) * 255
        mwf = float(rng.choice([1.0, 2.3, 4.0, 7.5]))
        got = find_obstacles(img, mwf)
        want = _sequential_obstacles(img, mwf)
        assert np.array_equal(got, want), (trial, H, W, mwf, density)


def test_adaptive_rlsa_empty_and_single():
    cc = np.zeros((5, 5), dtype=np.int32)
    stats = np.zeros((1, 5), dtype=np.int64)
    assert adaptive_rlsa(cc, stats, 3.5, 2.5, 0.5).sum() == 0
    cc[2, 2] = 1
    stats2 = np.array([[0, 0, 1, 1, 0], [2, 2, 1, 1, 1]], dtype=np.int64)
    out = adaptive_rlsa(cc, stats2, 3.5, 2.5, 0.5)
    assert out[2, 2] == 1 and out.sum() == 1


# ------------------------------------------------- gap windows, edge rows


def _adaptive_rlsa_loop(cc, cc_stats, a, th, c):
    """adaptive_rlsa with a Python loop over candidate gaps, each scanning
    its ±2-row window for a third label."""
    base = (cc > 0).astype(np.uint8)
    H, W = cc.shape
    rs, cs_ = np.nonzero(cc)
    if len(rs) < 2:
        return base
    labs = cc[rs, cs_]
    same_row = rs[1:] == rs[:-1]
    lp = labs[:-1]
    lc = labs[1:]
    valid = same_row & (lp != -1) & (lc != -1)
    same = valid & (lc == lp)
    fill_rows = [rs[1:][same]]
    fill_start = [cs_[:-1][same]]
    fill_end = [cs_[1:][same]]
    diff = np.nonzero(valid & (lc != lp))[0]
    if len(diff):
        pl = lp[diff]
        cl = lc[diff]
        row_d = rs[1:][diff]
        p_pos = cs_[:-1][diff]
        c_pos = cs_[1:][diff]
        y1 = cc_stats[:, 1].astype(np.int64)
        hh = cc_stats[:, 3].astype(np.int64)
        hc = hh[cl]
        hp = hh[pl]
        mn = np.minimum(hc, hp)
        length = c_pos - p_pos - 1
        ratio = np.maximum(hc, hp) / np.maximum(mn, 1)
        overlap = np.minimum(y1[cl] + hc, y1[pl] + hp) - np.maximum(y1[cl], y1[pl])
        ok = (length <= a * mn) & (ratio <= th) & (overlap >= c * mn)
        cand = np.nonzero(ok)[0]
        if len(cand):
            keep_r, keep_s, keep_e = [], [], []
            for r0, p0, c0, l0, q0 in zip(
                row_d[cand].tolist(), p_pos[cand].tolist(), c_pos[cand].tolist(),
                cl[cand].tolist(), pl[cand].tolist(),
            ):
                window = cc[max(0, r0 - 2) : min(r0 + 3, H), p0 + 1 : c0]
                if not (
                    (window != -1) & (window != 0) & (window != l0) & (window != q0)
                ).any():
                    keep_r.append(r0)
                    keep_s.append(p0)
                    keep_e.append(c0)
            if keep_r:
                fill_rows.append(np.asarray(keep_r, dtype=np.int64))
                fill_start.append(np.asarray(keep_s, dtype=np.int64))
                fill_end.append(np.asarray(keep_e, dtype=np.int64))
    starts = np.concatenate(fill_rows) * W + np.concatenate(fill_start)
    ends = np.concatenate(fill_rows) * W + np.concatenate(fill_end)
    if len(starts) == 0:
        return base
    delta = np.bincount(starts, minlength=H * W) - np.bincount(ends, minlength=H * W)
    covered = np.cumsum(delta[: H * W]).reshape(H, W) > 0
    return base | covered.astype(np.uint8)


def _tight_stats(cc, n_labels):
    stats = np.zeros((n_labels + 1, 5), dtype=np.int64)
    for lab in range(1, n_labels + 1):
        ys, xs = np.nonzero(cc == lab)
        if len(ys) == 0:
            stats[lab] = [0, 0, 1, 1, 0]
            continue
        stats[lab] = [xs.min(), ys.min(), xs.max() - xs.min() + 1, ys.max() - ys.min() + 1, len(ys)]
    return stats


def _gap_map(H, row, extras):
    """Labels 1 (cols 2-5) and 2 (cols 9-12) on ``row``, a 3-pixel gap
    between them, plus ``extras``: (label, row, col) pixels; rows outside
    the image are dropped."""
    cc = np.zeros((H, 16), dtype=np.int32)
    cc[row, 2:6] = 1
    cc[row, 9:13] = 2
    for lab, r, c in extras:
        if 0 <= r < H:
            cc[r, c] = lab
    return cc, _tight_stats(cc, 3)


def _gap_filled(cc, stats, row):
    got = adaptive_rlsa(cc, stats, 3.5, 3.5, 0.0)
    assert np.array_equal(got, _sequential(cc, stats, 3.5, 3.5, 0.0))
    assert np.array_equal(got, _adaptive_rlsa_loop(cc, stats, 3.5, 3.5, 0.0))
    return bool(got[row, 6:9].all())


EDGE_ROWS = [(9, 0), (9, 1), (9, 7), (9, 8), (1, 0), (2, 1), (3, 1)]


@pytest.mark.parametrize("H,row", EDGE_ROWS)
def test_gap_on_edge_rows_third_label(H, row):
    assert _gap_filled(*_gap_map(H, row, []), row)
    for dy in (-3, -2, -1, 1, 2, 3):
        if not 0 <= row + dy < H:
            continue
        # a third label in the window (even one touching only a ±2 row)
        # blocks the fill; one three rows away does not
        for col in (6, 8):
            cc, stats = _gap_map(H, row, [(3, row + dy, col)])
            assert _gap_filled(cc, stats, row) == (abs(dy) == 3), (dy, col)
        # at the gap's end columns it is outside the window
        cc, stats = _gap_map(H, row, [(3, row + dy, 5), (3, row + dy, 9)])
        assert _gap_filled(cc, stats, row)


@pytest.mark.parametrize("H,row", EDGE_ROWS)
def test_gap_window_with_end_labels_and_obstacles(H, row):
    # extra pixels of the two end labels and -1 obstacles in the window
    # rows never block the fill
    for extras in (
        [(1, row + 1, 7)],
        [(2, row - 1, 6), (2, row - 2, 8)],
        [(1, row + 2, 6), (2, row + 2, 7), (1, row - 1, 8)],
        [(-1, row + 1, 7), (-1, row - 2, 6)],
        [(-1, row - 1, 6), (1, row + 1, 6), (2, row + 2, 8), (-1, row + 2, 7)],
    ):
        cc, stats = _gap_map(H, row, extras)
        assert _gap_filled(cc, stats, row), extras
    # an obstacle on the gap row splits the gap: nothing to bridge
    cc, stats = _gap_map(H, row, [(-1, row, 7)])
    assert not _gap_filled(cc, stats, row)


def test_adaptive_rlsa_short_maps_match_sequential():
    # 1-6 rows, dense labels: most windows are clipped at the top or bottom
    # and hold pixels of the end labels, third labels and obstacles
    rng = np.random.default_rng(23)
    for trial in range(300):
        H = int(rng.integers(1, 7))
        W = int(rng.integers(2, 40))
        n = int(rng.integers(1, 6))
        cc = rng.integers(0, n + 1, (H, W)).astype(np.int32)
        cc[rng.random((H, W)) < 0.5] = 0
        cc[rng.random((H, W)) < 0.05] = -1
        stats = _tight_stats(cc, n)
        for a, th, c in ((3.5, 2.5, 0.5), (8.0, 8.0, 0.0)):
            got = adaptive_rlsa(cc, stats, a, th, c)
            assert np.array_equal(got, _sequential(cc, stats, a, th, c)), trial


def _pages():
    from img2table_spark.kernels.encoders import build_borderless_text_pdf
    from img2table_spark.kernels.pdf_doc import PdfDocument, render_pdf_text_page

    from tests.conftest import render_table_page

    doc = PdfDocument(build_borderless_text_pdf())
    return {
        "ruled": render_table_page()[0],
        "borderless": render_pdf_text_page(doc, doc.pages()[0]),
    }


@pytest.mark.parametrize("name", ["ruled", "borderless"])
def test_adaptive_rlsa_pages_match_loop(name, monkeypatch):
    # every adaptive_rlsa call identify_text_mask makes on a rendered page
    from img2table_spark.kernels.document import extract_image_tables

    calls = []

    def both(cc, cc_stats, a, th, c):
        got = adaptive_rlsa(cc, cc_stats, a, th, c)
        assert np.array_equal(got, _adaptive_rlsa_loop(cc, cc_stats, a, th, c))
        calls.append(int(got.sum()))
        return got

    monkeypatch.setattr(rlsa_, "adaptive_rlsa", both)
    extract_image_tables(_pages()[name], borderless_tables=True)
    assert len(calls) == 3 and all(calls)
