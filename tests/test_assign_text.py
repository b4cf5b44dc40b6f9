"""Distributed text assignment (cogrouped applyInArrow) equals the in-UDF
embedded-hOCR path, on the reference's golden image and on a planted page."""

import base64
import datetime as dt
import json

from pyspark.sql import functions as F

from img2table_spark.kernels.encoders import encode_png
from img2table_spark.kernels.hocr import parse_hocr_pages
from img2table_spark.operators.assign_text import assign_text
from img2table_spark.operators.extract import extract_tables
from img2table_spark.schema import TRANSCRIPT_SCHEMA, WORD_SCHEMA

from tests.conftest import render_table_page


def _words_df(spark, hocr):
    return spark.createDataFrame(parse_hocr_pages([hocr]), WORD_SCHEMA).select(
        F.lit("c0").alias("conv_id"), F.lit(0).alias("turn_idx"), "*"
    )


def test_assign_text_matches_embedded(spark, ref_tests):
    with open(ref_tests / "document/image/test_data/test.png", "rb") as f:
        png_b64 = base64.b64encode(f.read()).decode()
    with open(ref_tests / "_mock_data/tesseract_hocr.html") as f:
        hocr = f.read()
    ts = dt.datetime(2026, 1, 1)

    # path A: embedded hOCR inside the payload
    df_a = spark.createDataFrame(
        [("c0", 0, "assistant",
          json.dumps({"image": png_b64, "hocr": hocr, "implicit_rows": True}),
          "image/png", ts)],
        TRANSCRIPT_SCHEMA,
    )
    a = extract_tables(df_a).orderBy("x1").collect()

    # path B: geometry-only extraction + words as a separate Spark table
    df_b = spark.createDataFrame(
        [("c0", 0, "assistant",
          json.dumps({"image": png_b64, "implicit_rows": True}),
          "image/png", ts)],
        TRANSCRIPT_SCHEMA,
    )
    geometry = extract_tables(df_b)
    b = assign_text(geometry, _words_df(spark, hocr)).orderBy("x1").collect()

    assert len(a) == len(b) == 2
    for ra, rb in zip(a, b):
        assert (ra["x1"], ra["y1"], ra["x2"], ra["y2"]) == (rb["x1"], rb["y1"], rb["x2"], rb["y2"])
        assert (ra["n_rows"], ra["n_cols"]) == (rb["n_rows"], rb["n_cols"])
        va = [(c["row"], c["col"], c["value"]) for c in ra["cells"]]
        vb = [(c["row"], c["col"], c["value"]) for c in rb["cells"]]
        assert va == vb


def test_assign_text_matches_embedded_on_planted_page(spark):
    """Geometry-only payload + a separate word table gives the tables the
    embedded-hOCR payload gives, and they hold the planted 5×3 grid."""
    img, hocr, grid = render_table_page()
    png_b64 = base64.b64encode(encode_png(img)).decode()
    ts = dt.datetime(2026, 1, 1)

    def extracted(payload):
        df = spark.createDataFrame(
            [("c0", 0, "assistant", json.dumps(payload), "image/png", ts)], TRANSCRIPT_SCHEMA
        )
        return extract_tables(df)

    embedded = extracted({"image": png_b64, "hocr": hocr}).collect()
    assigned = assign_text(extracted({"image": png_b64}), _words_df(spark, hocr)).collect()

    # titles come from the OCR words at extraction time, so only the
    # embedded path has one; everything else must agree
    def shape(rows):
        keys = ("conv_id", "turn_idx", "table_idx", "x1", "y1", "x2", "y2", "html", "n_rows", "n_cols")
        return [([r[k] for k in keys], [c.asDict() for c in r["cells"]]) for r in rows]

    assert len(embedded) == 1
    assert shape(assigned) == shape(embedded)
    (row,) = assigned
    values = [[None] * row["n_cols"] for _ in range(row["n_rows"])]
    for c in row["cells"]:
        values[c["row"]][c["col"]] = c["value"]
    assert values == grid
