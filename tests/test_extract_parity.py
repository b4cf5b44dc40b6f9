"""The pandas extractor (``mapInPandas``, still used by the streaming
twin) and the Arrow extractor (``mapInArrow``, used by batch jobs) must
emit the same rows, error markers included, from the same input batches."""

import base64
import json

import pyarrow as pa
import pytest

from img2table_spark.kernels.encoders import encode_png
from img2table_spark.operators.extract import _make_batch_extract, _make_batch_extract_arrow

from tests.conftest import render_table_page

_HTML = (
    "<table><tr><th>name</th><th>qty</th></tr>"
    "<tr><td>apple</td><td>3</td></tr><tr><td>pear</td><td>5</td></tr></table>"
)


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
    fn = _make_batch_extract(emit_errors)
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
