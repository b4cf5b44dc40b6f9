"""The Arrow extractor (``mapInArrow``, the one extractor for batch and
stream) emits the same rows, error markers included, as the pandas
extractor it replaced, kept here as the reference."""

import base64
import json
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
import pytest

from img2table_spark.kernels.encoders import encode_png
from img2table_spark.kernels.html_io import table_to_html
from img2table_spark.kernels.objects import Cell, Table
from img2table_spark.kernels.text import is_relevant_table
from img2table_spark.operators.extract import (
    _make_batch_extract_arrow,
    _TableRows,
    extract_payload,
)
from img2table_spark.schema import EXTRACTED_SCHEMA

from tests.conftest import render_table_page

_HTML = (
    "<table><tr><th>name</th><th>qty</th></tr>"
    "<tr><td>apple</td><td>3</td></tr><tr><td>pear</td><td>5</td></tr></table>"
)


def _reference_record(table: Table) -> dict:
    """Serialize a Table to the engine output row (FIXTURES.md §2)."""
    cells = []
    x1 = y1 = x2 = y2 = None
    for r, row in enumerate(table.rows):
        for c, cell in enumerate(row):
            cx1, cy1, cx2, cy2 = cell.x1, cell.y1, cell.x2, cell.y2
            cells.append(
                {
                    "row": r,
                    "col": c,
                    "x1": cx1,
                    "y1": cy1,
                    "x2": cx2,
                    "y2": cy2,
                    "value": cell.content,
                }
            )
            if x1 is None:
                x1, y1, x2, y2 = cx1, cy1, cx2, cy2
            else:
                if cx1 < x1:
                    x1 = cx1
                if cy1 < y1:
                    y1 = cy1
                if cx2 > x2:
                    x2 = cx2
                if cy2 > y2:
                    y2 = cy2
    if table.rows and not cells:  # rows of zero width: match min()'s error
        raise ValueError("min() arg is an empty sequence")
    return {
        "x1": x1,
        "y1": y1,
        "x2": x2,
        "y2": y2,
        "title": table.title,
        "cells": cells,
        "n_rows": table.nb_rows,
        "n_cols": table.nb_columns,
    }


def _reference_marker(conv_id, turn_idx, exc) -> dict:
    return {
        "conv_id": conv_id,
        "turn_idx": int(turn_idx),
        "table_idx": -1,
        "x1": None, "y1": None, "x2": None, "y2": None,
        "title": repr(exc)[:200],
        "cells": [],
        "html": None,
        "n_rows": 0,
        "n_cols": 0,
    }


def _reference_extract(emit_errors: bool):
    """The pandas extractor (``mapInPandas``) the Arrow one replaced."""

    def _batch_extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = EXTRACTED_SCHEMA.fieldNames()
        for pdf in batches:
            rows: list[dict] = []
            for conv_id, turn_idx, text, tool in zip(
                pdf["conv_id"].tolist(),
                pdf["turn_idx"].tolist(),
                pdf["text"].tolist(),
                pdf["tool"].tolist(),
            ):
                try:
                    tables = [t for t in extract_payload(text, tool) if is_relevant_table(t)]
                except Exception as exc:
                    if emit_errors:
                        rows.append(_reference_marker(conv_id, turn_idx, exc))
                    continue
                for i, t in enumerate(tables):
                    rec = _reference_record(t)
                    rec["conv_id"] = conv_id
                    rec["turn_idx"] = int(turn_idx)
                    rec["table_idx"] = i
                    rec["html"] = table_to_html(t)
                    rows.append(rec)
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(
                {c: pd.Series(dtype="object") for c in cols}
            )

    return _batch_extract


@pytest.fixture(scope="module")
def batches():
    img, hocr, _ = render_table_page()
    png_hocr = json.dumps({"image": base64.b64encode(encode_png(img)).decode(), "hocr": hocr})
    turns = [
        ("c1", 0, _HTML, "text/html"),
        ("c1", 1, "no tables in plain prose", "text/plain"),
        ("c1", 2, None, None),
        ("c2", 0, png_hocr, "image/png"),
        ("c2", 1, "!!not-base64", "image/png"),
        ("c2", 2, base64.b64encode(b"%PDF-1.4 truncated").decode(), "application/pdf"),
        ("c3", 0, _HTML + _HTML, "html"),
    ]

    def batch(rows):
        cols = list(zip(*rows))
        return pa.RecordBatch.from_arrays(
            [
                pa.array(cols[0], pa.string()),
                pa.array(cols[1], pa.int32()),
                pa.array(cols[2], pa.string()),
                pa.array(cols[3], pa.string()),
            ],
            names=["conv_id", "turn_idx", "text", "tool"],
        )

    # two batches: each extractor restarts its builders per batch
    return [batch(turns[:4]), batch(turns[4:])]


def _pandas_rows(batches, emit_errors, schema):
    # pandas output goes to Arrow the way Spark's mapInPandas serializer
    # sends it: from_pandas against the output schema (NaN → null)
    fn = _reference_extract(emit_errors)
    return [
        rec
        for out in fn(b.to_pandas() for b in batches)
        for rec in pa.RecordBatch.from_pandas(out, schema=schema, preserve_index=False).to_pylist()
    ]


def _arrow_rows(batches, emit_errors):
    fn = _make_batch_extract_arrow(emit_errors)
    outs = list(fn(iter(batches)))
    return [rec for out in outs for rec in out.to_pylist()], outs[0].schema


@pytest.mark.parametrize("emit_errors", [False, True])
def test_pandas_and_arrow_extractors_emit_equal_rows(batches, emit_errors):
    got, schema = _arrow_rows(batches, emit_errors)
    want = _pandas_rows(batches, emit_errors, schema)
    assert got == want
    # the mix exercises every branch: HTML and image tables, and one error
    # marker per malformed payload when markers are on
    kinds = {(r["conv_id"], r["turn_idx"], r["table_idx"] >= 0) for r in got}
    assert ("c1", 0, True) in kinds and ("c2", 0, True) in kinds and ("c3", 0, True) in kinds
    markers = [(r["conv_id"], r["turn_idx"]) for r in got if r["table_idx"] == -1]
    assert markers == ([("c2", 1), ("c2", 2)] if emit_errors else [])


def test_rows_of_zero_width_raise_like_the_reference():
    """A table whose rows are all empty raises min()'s ValueError in both,
    and the marker built from either exception is the same row."""
    table = Table(rows=[[], []], title="t")
    with pytest.raises(ValueError) as want:
        _reference_record(table)
    out = _TableRows()
    out.add("c0", 0, 0, Table(rows=[[Cell(0, 0, 4, 4, "a")]], title=None))
    with pytest.raises(ValueError) as got:
        out.add("c0", 1, 0, table)
    assert repr(got.value) == repr(want.value)
    # the failed add left no partial row behind
    out.add_error("c0", 1, got.value)
    rows = out.batch().to_pylist()
    assert [r["table_idx"] for r in rows] == [0, -1]
    assert rows[1] == _reference_marker("c0", 1, want.value)
