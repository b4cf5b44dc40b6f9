"""The resumable job's wave: one write job and one verification scan, with
every manifest count observed during them (``plans/pipeline.py``).

Pins the counts against the collect-based wave they replaced (kept below as
the reference), the catalog-table sink, where the observations sit in the
write plan, and how many Spark jobs a wave runs."""

import base64
import datetime as dt
import re
import threading

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

import img2table_spark.kernels.image_doc as image_doc
import img2table_spark.kernels.pdf_doc as pdf_doc
import img2table_spark.operators.extract as extract_mod
import img2table_spark.sources.iceberg as iceberg
from img2table_spark.kernels.encoders import build_text_pdf
from img2table_spark.operators.extract import extract_payload, extract_tables, payload_tool
from img2table_spark.plans.checkpoints import read_committed, write_manifest
from img2table_spark.plans.pipeline import OUTPUT_SCHEMA, bucket_col, run_pipeline
from img2table_spark.schema import TRANSCRIPT_SCHEMA
from tests.conftest import table_page

N_BUCKETS, WAVE_SIZE = 10, 2
WAVE_TIMEOUT_S = 300
# fields that legitimately differ between two runs of the same wave
UNSTABLE = ("wall_s", "committed_at", "app_id")

TOOLS = [
    "text/html", "TEXT/HTML", "Text/Html", "html", "HTML",
    "application/pdf", "APPLICATION/PDF", "pdf", "PDF",
    "image/png", "IMAGE/PNG", "image/", "image", "images/png",
    "text/plain", "TEXT/PLAIN", None, "", "application/json", "unknown/tool",
    # str.lower() maps these two into ASCII; neither spells a payload tool
    "\u0130MAGE/png", "\u212aTML", "html\n",
]


@pytest.mark.parametrize("tool", TOOLS)
def test_payload_tool_matches_dispatch(spark, tool, monkeypatch):
    """``payload_tool`` is true exactly where ``extract_payload`` hands the
    turn to a kernel."""
    called = []

    def kernel(text):
        called.append(text)
        return []

    monkeypatch.setattr(extract_mod, "parse_html_tables", kernel)
    monkeypatch.setattr(image_doc, "extract_image_payload", kernel)
    monkeypatch.setattr(pdf_doc, "extract_pdf_payload", kernel)
    extract_payload("payload", tool)
    got = spark.createDataFrame([(tool,)], "tool string").select(payload_tool().alias("p")).first()["p"]
    assert bool(got) is bool(called), f"tool {tool!r}: predicate {got}, dispatched {bool(called)}"


# ------------------------------------------------------------ reference wave


def _reread_stats(written):
    """bucket -> (n_tables, n_cells, checksum) rows of written output, by a
    groupBy collect."""
    return {
        int(r["bucket"]): r
        for r in written.groupBy("bucket")
        .agg(
            F.count("*").alias("n_tables"),
            F.sum(F.size("cells")).alias("n_cells"),
            F.sum(
                F.aggregate(
                    F.transform(
                        "cells",
                        lambda c: F.xxhash64(
                            F.col("conv_id"), F.col("turn_idx"), c["row"], c["col"], c["value"]
                        ).cast("decimal(38,0)"),
                    ),
                    F.lit(0).cast("decimal(38,0)"),
                    lambda acc, x: acc + x,
                )
            ).alias("checksum"),
        )
        .collect()
    }


def _reference_pipeline(spark, df, output_dir, checkpoint_dir, n_buckets, wave_size):
    """The collect-based wave ``run_pipeline`` ran before its counts moved
    into observations: a groupBy collect of the input, a persisted extract
    for the write and the error scan, and a groupBy collect of the re-read
    output. Lineage guards and the summary are left out."""
    from img2table_spark.sources.iceberg import overwrite_partitions, read_table

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df = df.withColumn("bucket", bucket_col(n_buckets))
    todo = list(range(n_buckets))
    for wave_idx, i in enumerate(range(0, len(todo), wave_size)):
        wave = todo[i : i + wave_size]
        sub = df.filter(F.col("bucket").isin(wave))
        in_stats = {
            int(r["bucket"]): r
            for r in sub.groupBy("bucket")
            .agg(
                F.count("*").alias("n_turns"),
                F.sum(
                    (F.lower("tool").isin("application/pdf", "html", "pdf", "text/html")
                     | F.lower("tool").startswith("image/")).cast("long")
                ).alias("n_payload_turns"),
            )
            .collect()
        }
        ext = (
            extract_tables(sub, salt=True, emit_errors=True)
            .withColumn("bucket", bucket_col(n_buckets))
            .persist()
        )
        overwrite_partitions(ext.filter(F.col("table_idx") >= 0), output_dir, "bucket")
        try:
            out_stats = _reread_stats(read_table(spark, output_dir).filter(F.col("bucket").isin(wave)))
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(exc):
                raise
            out_stats = {}
        err_stats = {
            int(r["bucket"]): r["n_errors"]
            for r in ext.filter(F.col("table_idx") < 0)
            .groupBy("bucket")
            .agg(F.count("*").alias("n_errors"))
            .collect()
        }
        ext.unpersist()
        for b in wave:
            ins, outs = in_stats.get(b), out_stats.get(b)
            write_manifest(
                checkpoint_dir,
                b,
                {
                    "input_path": None,
                    "n_buckets": n_buckets,
                    "app_id": spark.sparkContext.applicationId,
                    "wave": wave_idx,
                    "n_turns": int(ins["n_turns"]) if ins else 0,
                    "n_payload_turns": int(ins["n_payload_turns"] or 0) if ins else 0,
                    "n_tables": int(outs["n_tables"]) if outs else 0,
                    "n_cells": int(outs["n_cells"] or 0) if outs else 0,
                    "n_errors": int(err_stats.get(b, 0)),
                    "checksum": (int(outs["checksum"] or 0) % (2**63)) if outs else 0,
                    "wall_s": 0.0,
                },
            )


# ------------------------------------------------------------ inputs


def _stable(manifests: dict) -> dict:
    return {b: {k: v for k, v in m.items() if k not in UNSTABLE} for b, m in manifests.items()}


def _run_wave(fn, *args, **kwargs):
    """Call ``fn`` in a daemon thread: a blocked ``Observation.get`` fails
    the test after ``WAVE_TIMEOUT_S`` instead of hanging it."""
    out: dict = {}

    def target():
        try:
            out["value"] = fn(*args, **kwargs)
        except Exception as exc:  # re-raised in the test thread
            out["error"] = exc

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(WAVE_TIMEOUT_S)
    if t.is_alive():
        pytest.fail(f"wave did not finish in {WAVE_TIMEOUT_S} s")
    if "error" in out:
        raise out["error"]
    return out["value"]


@pytest.fixture(scope="module")
def conv_buckets(spark):
    """bucket -> conversation ids that hash into it (N_BUCKETS buckets)."""
    ids = spark.createDataFrame([(f"w{i}",) for i in range(200)], "conv_id string")
    by_bucket: dict[int, list[str]] = {}
    for r in ids.select("conv_id", bucket_col(N_BUCKETS).alias("b")).collect():
        by_bucket.setdefault(r["b"], []).append(r["conv_id"])
    return by_bucket


@pytest.fixture(scope="module")
def mixed(spark, conv_buckets):
    """Waves of two buckets over N_BUCKETS. Buckets 0, 2, 3, 6 and 7 mix
    HTML, plain, null-text, malformed image and PDF, valid PDF and
    unknown-tool turns; bucket 1 has no turns; wave 2 (buckets 4, 5) holds
    only plain turns and wave 4 (buckets 8, 9) none at all."""
    ts = dt.datetime(2026, 1, 1)
    html = "<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>"
    pdf = base64.b64encode(build_text_pdf([table_page()[0]])).decode()
    mixed_turns = [
        (html, "text/html"),
        ("hello", "text/plain"),
        (None, "TEXT/HTML"),
        ("!!!corrupt!!!", "image/png"),
        (pdf, "application/pdf"),
        ("!!!corrupt!!!", "pdf"),
        (html, "IMAGE/PNG"),
        (html, "application/json"),
        (html, None),
    ]
    rows = []
    for b in (4, 5):
        for conv in conv_buckets[b][:3]:
            rows += [(conv, t, "user", f"chat {t}", "text/plain", ts) for t in range(3)]
    for b in (0, 2, 3, 6, 7):
        for k, conv in enumerate(conv_buckets[b][:3]):
            turns = mixed_turns[k::2] if b % 2 else mixed_turns[k:]
            rows += [(conv, t, "tool", text, tool, ts) for t, (text, tool) in enumerate(turns)]
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def test_wave_manifests_equal_reference(spark, mixed, tmp_path):
    """Every manifest field of every wave equals the collect-based wave's,
    on plain-only, mixed, partly empty and empty waves."""
    ref_ckpt = str(tmp_path / "ref-ckpt")
    _run_wave(_reference_pipeline, spark, mixed, str(tmp_path / "ref-out"), ref_ckpt, N_BUCKETS, WAVE_SIZE)

    ckpt = str(tmp_path / "ckpt")
    for _ in range(N_BUCKETS // WAVE_SIZE):
        summary = _run_wave(
            run_pipeline, spark, mixed, str(tmp_path / "out"), ckpt,
            n_buckets=N_BUCKETS, wave_size=WAVE_SIZE, max_waves=1,
        )
        assert summary["waves"] == 1
    got, want = read_committed(ckpt), read_committed(ref_ckpt)
    # the next run's first wave is numbered 0: align the wave index
    for m in got.values():
        m["wave"] = m["bucket"] // WAVE_SIZE
    assert sorted(got) == list(range(N_BUCKETS))
    assert _stable(got) == _stable(want)
    # the input exercises what it claims to
    assert [got[b]["n_turns"] for b in (1, 8, 9)] == [0, 0, 0]
    assert got[4]["n_turns"] > 0 and got[4]["n_payload_turns"] == 0 and got[4]["n_tables"] == 0
    assert sum(m["n_errors"] for m in got.values()) > 0
    assert sum(m["n_tables"] for m in got.values()) > 0


def test_first_wave_without_tables(spark, tmp_path):
    """A first wave that writes no table leaves an output directory with no
    parquet file in it: its verification scan reads zeros, where inferring
    the schema from no file fails."""
    ts = dt.datetime(2026, 1, 1)
    df = spark.createDataFrame([("a", 0, "user", "hi", "text/plain", ts)], TRANSCRIPT_SCHEMA)
    ckpt = str(tmp_path / "ckpt")
    summary = _run_wave(run_pipeline, spark, df, str(tmp_path / "out"), ckpt, n_buckets=2, wave_size=2)
    assert summary["processed_buckets"] == 2 and summary["n_tables"] == 0
    committed = read_committed(ckpt)
    assert sum(m["n_turns"] for m in committed.values()) == 1
    assert all(m["n_tables"] == m["n_cells"] == m["checksum"] == 0 for m in committed.values())


def test_catalog_table_sink(spark, mixed, tmp_path):
    """Into a v1 catalog table (``insertInto``), the manifests equal a direct
    ``spark.table`` re-read: the table-ref branch of the verification scan."""
    name = "pipeline_wave_sink"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.createDataFrame([], OUTPUT_SCHEMA).write.partitionBy("bucket").format("parquet").option(
        "path", str(tmp_path / "tbl")
    ).saveAsTable(name)
    try:
        ckpt = str(tmp_path / "ckpt")
        summary = _run_wave(run_pipeline, spark, mixed, name, ckpt, n_buckets=N_BUCKETS, wave_size=WAVE_SIZE)
        committed = read_committed(ckpt)
        direct = {
            b: (r["n_tables"], r["n_cells"], int(r["checksum"]) % (2**63))
            for b, r in _reread_stats(spark.table(name)).items()
        }
        assert summary["n_tables"] > 0
        assert sorted(committed) == list(range(N_BUCKETS))
        assert {
            b: (m["n_tables"], m["n_cells"], m["checksum"]) for b, m in committed.items() if m["n_tables"]
        } == direct
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _subtree(lines: list[str], i: int) -> list[str]:
    """The lines of the plan node on line ``i`` and of its descendants."""
    depth = _depth(lines[i])
    end = i + 1
    while end < len(lines) and _depth(lines[end]) > depth:
        end += 1
    return lines[i:end]


def _depth(line: str) -> int:
    return re.search(r"[A-Za-z]", line).start()


def test_wave_observes_after_exchange_in_few_jobs(spark, mixed, tmp_path, monkeypatch):
    """Each observation in the wave's write plan sits above the salt
    exchange (in the result stage, counted once per partition), and one
    wave from a parquet input runs at most 4 Spark jobs: the input's schema
    read, the exchange's map stage, the write and the verification scan."""
    src = str(tmp_path / "in")
    mixed.write.parquet(src)
    plans = []
    write = iceberg.overwrite_partitions

    def capture(df, ref, col):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write(df, ref, col)

    monkeypatch.setattr(iceberg, "overwrite_partitions", capture)
    sc = spark.sparkContext
    group = "pipeline-wave-jobs"

    def one_wave():
        # a job group is a property of the thread that starts the jobs
        sc.setJobGroup(group, group)
        try:
            run_pipeline(
                spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"),
                n_buckets=N_BUCKETS, wave_size=WAVE_SIZE, max_waves=1,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    n_jobs = _run_wave(one_wave)
    assert n_jobs <= 4, n_jobs

    (plan,) = plans
    lines = [ln for ln in plan.splitlines() if ln.strip()]
    assert sum("Exchange" in ln for ln in lines) == 1
    metrics = [i for i, ln in enumerate(lines) if "CollectMetrics" in ln]
    assert len(metrics) == 2
    for i in metrics:
        assert any("Exchange" in ln for ln in _subtree(lines, i)), lines[i]


def test_each_write_task_holds_one_bucket(spark, mixed, tmp_path):
    """The wave's exchange gives each bucket ``num_partitions // wave_size``
    partitions of its own, so the partitioned sink writes at most that many
    files per bucket, not one per partition."""
    out = tmp_path / "out"
    _run_wave(
        run_pipeline, spark, mixed, str(out), str(tmp_path / "ckpt"),
        n_buckets=N_BUCKETS, wave_size=WAVE_SIZE, num_partitions=4,
    )
    files = {d.name: len(list(d.glob("*.parquet"))) for d in out.glob("bucket=*")}
    assert files and max(files.values()) <= 4 // WAVE_SIZE, files


def _generated_code(spark, df) -> str:
    """The whole-stage generated code of ``df``'s plan, ids stripped."""
    text = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    code = "".join(part.split("== Subtree")[0] for part in text.split("Generated code:")[1:])
    return re.sub(r"#\d+|_\d+L?\b|\d+L\b", "", code)


def test_waves_share_generated_code(spark, mixed, tmp_path, monkeypatch):
    """Two waves of one size compile to the same code: the bucket ids reach
    it as one array literal, not as inlined constants, so Spark compiles
    and the JIT warms one copy of it a run."""
    codes = []
    write = iceberg.overwrite_partitions

    def capture(df, ref, col):
        codes.append(_generated_code(spark, df))
        return write(df, ref, col)

    monkeypatch.setattr(iceberg, "overwrite_partitions", capture)
    # an adaptive plan shows its generated code only once it has run
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _run_wave(
            run_pipeline, spark, mixed, str(tmp_path / "out"), str(tmp_path / "ckpt"),
            n_buckets=N_BUCKETS, wave_size=WAVE_SIZE, max_waves=2,
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert len(codes) == 2 and "processNext" in codes[0]
    assert codes[0] == codes[1]
