"""End-to-end Spark tests: transcripts → extraction → per-turn equality,
plus resumable-pipeline semantics (checkpoint manifests, restart skipping)."""

import json

import pytest
from pyspark.sql import functions as F

from img2table_spark.operators.extract import extract_cells_flat, extract_tables
from img2table_spark.plans.checkpoints import read_committed
from img2table_spark.plans.pipeline import run_pipeline
from img2table_spark.sources.transcripts import golden_transcripts_df


@pytest.fixture(scope="module")
def golden(spark):
    df, expected = golden_transcripts_df(spark)
    return df, expected


def test_extract_per_turn_equality(spark, golden):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering —
    the north_rule invariant, on the golden HTML corpus."""
    df, expected = golden
    flat = extract_cells_flat(df)
    rows = flat.orderBy("conv_id", "turn_idx", "table_idx", "row_idx", "col_idx").collect()
    got: dict[tuple, list] = {}
    for r in rows:
        got.setdefault((r["conv_id"], r["turn_idx"]), []).append(
            (r["row_idx"], r["col_idx"], r["value"])
        )
    for key, exp in expected.items():
        assert got.get(key, []) == [(int(r), int(c), v) for r, c, v in exp], f"turn {key}"
    # no unexpected turns
    assert set(got).issubset({k for k, v in expected.items() if v})


def test_extract_negative_payloads_zero_rows(spark, golden):
    df, _ = golden
    neg = df.filter(~F.col("tool").eqNullSafe("text/html"))
    assert extract_tables(neg).count() == 0


def test_error_markers(spark, golden):
    df, _ = golden
    bad = df.filter(F.col("tool") == "image/png")
    assert bad.count() > 0
    marked = extract_tables(bad, emit_errors=True)
    errs = marked.filter(F.col("table_idx") < 0).collect()
    assert len(errs) == bad.count()
    assert all(e["n_rows"] == 0 for e in errs)


def test_pipeline_resume(spark, golden, tmp_path):
    df, expected = golden
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # Partial run: only the first wave commits.
    s1 = run_pipeline(spark, df, out, ckpt, n_buckets=8, wave_size=3, max_waves=1)
    assert s1["processed_buckets"] == 3
    committed1 = read_committed(ckpt)
    assert set(committed1) == set(range(3)) or len(committed1) == 3

    # Restart: finishes the rest, skips committed buckets.
    s2 = run_pipeline(spark, df, out, ckpt, n_buckets=8, wave_size=3)
    assert s2["skipped_buckets"] == 3
    assert s2["processed_buckets"] == 5

    committed = read_committed(ckpt)
    assert len(committed) == 8
    total_turns = sum(m["n_turns"] for m in committed.values())
    assert total_turns == df.count()
    # manifests carry lineage + metrics
    any_m = next(iter(committed.values()))
    for k in ("app_id", "n_tables", "n_cells", "n_errors", "checksum", "wall_s", "wave"):
        assert k in any_m

    # Output equals a clean one-shot extraction (resume is lossless).
    written = spark.read.parquet(out)
    n_expected_tables = sum(1 for v in expected.values() if v)
    assert written.count() == n_expected_tables
    assert sum(m["n_tables"] for m in committed.values()) == n_expected_tables

    # Idempotent third run: nothing to do.
    s3 = run_pipeline(spark, df, out, ckpt, n_buckets=8, wave_size=3)
    assert s3["processed_buckets"] == 0 and s3["skipped_buckets"] == 8


def test_extract_plan_shape(spark, golden):
    """The job must stay scan → exchange(salt) → project(UDF): exactly one
    exchange, no extra shuffle."""
    df, _ = golden
    plan = extract_tables(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "MapInArrow" in plan


def test_pipeline_mixed_payloads(spark, ref_tests, tmp_path):
    """Resumable pipeline over a mixed corpus: HTML + image (with/without
    OCR) + PDF + negatives; manifests account for every turn and error."""
    import base64
    import datetime as dt
    import json as _json

    from img2table_spark.schema import TRANSCRIPT_SCHEMA

    with open(ref_tests / "document/image/test_data/test.png", "rb") as f:
        png_b64 = base64.b64encode(f.read()).decode()
    with open(ref_tests / "document/pdf/test_data/test.pdf", "rb") as f:
        pdf_b64 = base64.b64encode(f.read()).decode()
    with open(ref_tests / "_mock_data/tesseract_hocr.html") as f:
        hocr = f.read()
    ts = dt.datetime(2026, 1, 1)
    rows = [
        ("m0", 0, "a", "<table><tr><td>x</td><td>y</td></tr></table>", "text/html", ts),
        ("m0", 1, "a", _json.dumps({"image": png_b64, "hocr": hocr, "implicit_rows": True}),
         "image/png", ts),
        ("m1", 0, "a", pdf_b64, "application/pdf", ts),
        ("m1", 1, "a", "plain prose", "text/plain", ts),
        ("m2", 0, "a", "!!!corrupt!!!", "image/png", ts),
        # truncated/garbage bytes behind every codec magic: decoders must
        # raise their typed errors, which the UDF maps to error-marker rows
        ("m2", 1, "a", base64.b64encode(b"BM" + b"\x00" * 30).decode(), "image/bmp", ts),
        ("m2", 2, "a", base64.b64encode(b"II*\x00" + b"\x07" * 20).decode(), "image/tiff", ts),
        ("m2", 3, "a", base64.b64encode(b"\xff\xd8\xff\xc2" + b"\x00" * 16).decode(), "image/jpeg", ts),
        ("m2", 4, "a", base64.b64encode(b"P6\n5 5\n255\nxx").decode(), "image/x-pnm", ts),
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    summary = run_pipeline(spark, df, out, ckpt, n_buckets=4, wave_size=4)
    # 1 html + 2 image + 4 pdf tables
    assert summary["n_tables"] == 7
    assert summary["n_errors"] == 5
    committed = read_committed(ckpt)
    assert sum(m["n_turns"] for m in committed.values()) == 9
    written = spark.read.parquet(out)
    assert written.count() == 7
    titles = {r["title"] for r in written.collect() if r["title"]}
    assert titles == {f"Example of Data Table {i}" for i in range(1, 5)}


def test_pipeline_rejects_foreign_checkpoint(spark, golden, tmp_path):
    """Manifests recorded for a different input path must abort the resume."""
    import pytest as _pytest

    df, _ = golden
    inp1 = str(tmp_path / "in1")
    inp2 = str(tmp_path / "in2")
    df.write.parquet(inp1)
    df.write.parquet(inp2)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_pipeline(spark, inp1, out, ckpt, n_buckets=4, wave_size=4)
    with _pytest.raises(ValueError, match="different"):
        run_pipeline(spark, inp2, out, ckpt, n_buckets=4, wave_size=4)


def test_pipeline_counts_payload_turns_by_tool(spark, tmp_path):
    """n_payload_turns counts exactly the turns extract_payload dispatches to
    a kernel (tool matched case-insensitively); malformed ones are errors."""
    import datetime as dt

    from img2table_spark.schema import TRANSCRIPT_SCHEMA

    ts = dt.datetime(2026, 1, 1)
    html = "<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>"
    rows = [
        ("p0", 0, "a", html, "TEXT/HTML", ts),
        ("p0", 1, "a", html, "html", ts),
        ("p1", 0, "a", "!!!corrupt!!!", "image/png", ts),
        ("p1", 1, "a", "!!!corrupt!!!", "pdf", ts),
        ("p2", 0, "a", html, "text/plain", ts),
        ("p2", 1, "a", html, None, ts),
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    ckpt = str(tmp_path / "ckpt")
    summary = run_pipeline(spark, df, str(tmp_path / "out"), ckpt, n_buckets=2, wave_size=2)
    committed = read_committed(ckpt)
    assert sum(m["n_turns"] for m in committed.values()) == 6
    assert sum(m["n_payload_turns"] for m in committed.values()) == 4
    assert sum(m["n_errors"] for m in committed.values()) == 2
    assert summary["n_tables"] == 2
