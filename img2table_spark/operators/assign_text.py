"""Distributed text assignment: OCR words as a first-class Spark table.

When OCR runs as a separate system (any engine normalized to the 10-column
word schema — SURVEY.md §2.1), words arrive as their OWN table keyed by
(conv_id, turn_idx) rather than embedded in the payload. This operator joins
geometry with words per turn using a cogrouped ``applyInArrow`` — the
corpus-scale version of T2–T6: one shuffle of each side on the turn key,
then the reference's exact in-pandas assignment kernels per group.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from img2table_spark.kernels.objects import Cell, Table
from img2table_spark.kernels.text import table_get_content
from img2table_spark.operators.extract import _TableRows
from img2table_spark.schema import EXTRACTED_SCHEMA


def _assign(key, tables: pa.Table, words: pa.Table) -> pa.Table:
    conv_id, turn_idx = (k.as_py() for k in key)
    words_pdf = words.to_pandas()
    out = _TableRows()
    out_idx = 0
    for trow in sorted(tables.to_pylist(), key=lambda t: t["table_idx"]):
        # rebuild the grid with merged-cell identity from (bbox, value) keys
        pool: dict[tuple, Cell] = {}
        grid: dict[int, dict[int, Cell]] = {}
        for cell in trow["cells"]:
            k = (cell["x1"], cell["y1"], cell["x2"], cell["y2"], cell["value"])
            if k not in pool:
                pool[k] = Cell(cell["x1"], cell["y1"], cell["x2"], cell["y2"], cell["value"])
            grid.setdefault(cell["row"], {})[cell["col"]] = pool[k]
        table = Table(
            rows=[
                [grid[r][c] for c in sorted(grid[r])] for r in sorted(grid)
            ],
            title=trow["title"],
        )
        table_get_content(table, words_pdf, min_confidence=50)
        if max(table.nb_rows, table.nb_columns) < 2:
            continue
        out.add(conv_id, turn_idx, out_idx, table)
        out_idx += 1
    return pa.Table.from_batches([out.batch()])


def assign_text(extracted: DataFrame, words: DataFrame) -> DataFrame:
    """extracted: EXTRACTED_SCHEMA rows (geometry, values may be null);
    words: 10-column word table + (conv_id, turn_idx) keys.
    Returns EXTRACTED_SCHEMA rows with cell values filled, empty rows/cols
    pruned (T6) and the T7 relevance filter applied."""
    return (
        extracted.groupBy("conv_id", "turn_idx")
        .cogroup(words.groupBy("conv_id", "turn_idx"))
        .applyInArrow(_assign, EXTRACTED_SCHEMA)
    )
