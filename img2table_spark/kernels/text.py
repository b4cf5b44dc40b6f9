"""Text assignment kernels T1–T7: word table → cell contents.

Parity targets (reference, /root/reference):
  - T1 word filter:        src/img2table/ocr/data.py:33-37,95-99
  - T2 cell–word join:     src/img2table/ocr/data.py:101-130 (cross join +
                           intersection-area/word-area > 0.5)
  - T3 line assembly:      src/img2table/ocr/data.py:133-140
  - T4 cell text assembly: src/img2table/ocr/data.py:141-145 (sort by
                           (row, col, y1, x1); lines joined with "\\n")
  - T5 single-cell text:   src/img2table/ocr/data.py:19-84
  - T6 content postprocess: src/img2table/tables/objects/table.py:158-188
  - T7 relevance filters:  src/img2table/document/base/__init__.py:98,109-112

The per-turn word and cell sets are tiny (≤10³ / ≤10²), so the spatial theta
join stays in-UDF as a NumPy broadcast; at corpus scale the same semantics
would be a broadcast interval join, but both sides are turn-local by
construction.

Quirk preserved on purpose: the reference tests ``if page_number:`` — page 0
is falsy, so passing page_number=0 does NOT filter (data.py:34-35,96-97).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from img2table_spark.kernels.objects import Cell, Table

WORD_COLUMNS = ["page", "class", "id", "parent", "value", "confidence", "x1", "y1", "x2", "y2"]


def filter_words(
    words: pd.DataFrame, page_number: int | None = None, min_confidence: int = 50
) -> pd.DataFrame:
    """T1 (reference: ocr/data.py:33-37,95-99)."""
    mask = (
        (words["class"] == "ocrx_word")
        & words["value"].notna()
        & (words["confidence"] >= min_confidence)
    )
    w = words[mask]
    if page_number:  # falsy 0 intentionally skips the filter, like the reference
        w = w[w["page"] == page_number]
    return w.reset_index(drop=True)


def _contained_pairs(w: pd.DataFrame, boxes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Word×box spatial theta join: indices (word_idx, box_idx) where the
    intersection covers >50% of the word area (reference: data.py:108-130)."""
    wx1 = w["x1"].to_numpy(np.int64)
    wy1 = w["y1"].to_numpy(np.int64)
    wx2 = w["x2"].to_numpy(np.int64)
    wy2 = w["y2"].to_numpy(np.int64)
    x_left = np.maximum(wx1[:, None], boxes[None, :, 0])
    y_top = np.maximum(wy1[:, None], boxes[None, :, 1])
    x_right = np.minimum(wx2[:, None], boxes[None, :, 2])
    y_bottom = np.minimum(wy2[:, None], boxes[None, :, 3])
    non_empty = (x_right > x_left) & (y_bottom > y_top)
    w_area = ((wx2 - wx1) * (wy2 - wy1))[:, None]
    int_area = np.where(non_empty, (x_right - x_left) * (y_bottom - y_top), 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        keep = non_empty & (int_area / np.maximum(w_area, 1) > 0.5) & (w_area > 0)
    return np.nonzero(keep)


def get_text_table(
    words: pd.DataFrame,
    table: Table,
    page_number: int | None = None,
    min_confidence: int = 50,
) -> Table:
    """T2–T4: assign text to every grid cell (reference: data.py:86-151)."""
    w = filter_words(words, page_number, min_confidence)
    positions = [(r, c) for r in range(table.nb_rows) for c in range(table.nb_columns)]
    if w.empty or not positions:
        return table
    boxes = np.array(
        [
            [table.rows[r][c].x1, table.rows[r][c].y1, table.rows[r][c].x2, table.rows[r][c].y2]
            for (r, c) in positions
        ],
        dtype=np.int64,
    )
    wi, bi = _contained_pairs(w, boxes)
    if len(wi) == 0:
        return table

    pos = np.asarray(positions, dtype=np.int64)
    pairs = pd.DataFrame(
        {
            "row": pos[bi, 0],
            "col": pos[bi, 1],
            "parent": w["parent"].to_numpy()[wi],
            "value": w["value"].astype(str).to_numpy()[wi],
            "x1": w["x1"].to_numpy(np.int64)[wi],
            "y1": w["y1"].to_numpy(np.int64)[wi],
        }
    )
    # T3: one line per (row, col, parent); word order within a line is input
    # order (the reference's cross join is word-major). Words with no parent
    # id form one line, as in the reference's polars group_by.
    lines = (
        pairs.groupby(["row", "col", "parent"], sort=False, dropna=False)
        .agg(x1=("x1", "min"), y1=("y1", "min"), value=("value", " ".join))
        .reset_index()
    )
    # T4: lines sorted by (row, col, y1, x1), joined with "\n".
    lines = lines.sort_values(["row", "col", "y1", "x1"], kind="stable")
    texts = lines.groupby(["row", "col"], sort=False)["value"].agg("\n".join)
    for (r, c), text in texts.items():
        table.rows[int(r)][int(c)].content = text or None
    return table


def get_text_cell(
    words: pd.DataFrame,
    cell: Cell,
    margin: int = 0,
    page_number: int | None = None,
    min_confidence: int = 50,
) -> str | None:
    """T5: text of a single bbox, lines joined by "\\n" (reference:
    data.py:19-84). Used for table titles."""
    bbox = cell.bbox(margin=margin)
    w = filter_words(words, page_number, min_confidence)
    if w.empty:
        return None
    boxes = np.array([bbox], dtype=np.int64)
    wi, _ = _contained_pairs(w, boxes)
    if len(wi) == 0:
        return None
    pairs = pd.DataFrame(
        {
            "parent": w["parent"].to_numpy()[wi],
            "value": w["value"].astype(str).to_numpy()[wi],
            "x1": w["x1"].to_numpy(np.int64)[wi],
            "y1": w["y1"].to_numpy(np.int64)[wi],
        }
    )
    lines = (
        pairs.groupby("parent", sort=False, dropna=False)
        .agg(x1=("x1", "min"), y1=("y1", "min"), value=("value", list))
        .reset_index()
        .sort_values(["y1", "x1"], kind="stable")
    )
    text = "\n".join(" ".join(vals).strip() for vals in lines["value"]).strip()
    return text or None


def table_get_content(
    table: Table, words: pd.DataFrame, min_confidence: int = 50
) -> Table:
    """T6: fill text, drop all-empty rows then all-empty columns (with gap
    renormalization), collapse single-unique-value tables to 1×1
    (reference: table.py:158-188)."""
    get_text_table(words, table, page_number=None, min_confidence=min_confidence)

    empty_rows = [i for i, row in enumerate(table.rows) if all(c.content is None for c in row)]
    table.remove_rows(empty_rows)

    empty_cols = [
        i
        for i in range(table.nb_columns)
        if all(row[i].content is None for row in table.rows)
    ]
    table.remove_columns(empty_cols)

    unique_cells = {c for row in table.rows for c in row}
    if len(unique_cells) == 1:
        table.rows = [[table.rows[0][0]]]
    return table


def is_relevant_table(table: Table) -> bool:
    """T7 final relevance filter (reference: document/base/__init__.py:98,109-112)."""
    if table.nb_rows == 0 or table.nb_columns == 0:
        return False
    if table.borderless:
        return table.nb_rows >= 2 and table.nb_columns >= 3
    return max(table.nb_rows, table.nb_columns) >= 2

