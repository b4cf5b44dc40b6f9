"""The three workloads: set-up, timed loop, output check and traced ledger.

Each workload function takes a ``Run`` and returns a ``Result``. Set-up
(input generation, caching, the untimed warm-up that also checks outputs)
is timed phase by phase; the timed loop then repeats whole passes until
``--seconds`` have elapsed and reports medians. With ``--trace 1`` the
workload instead builds the per-layer ledger (``ledger.py``) over the same
inputs.

Sizes are fixed for every seed, so the cost of a pass does not depend on
the seed; only the planted values change.
"""

from __future__ import annotations

import json
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import check
import gen
import ledger

#: html_turns: turns per document (5000 documents → 50k turns a pass)
HTML_REPEAT = 10
#: html_turns: untimed noop passes after the check pass
HTML_WARM_PASSES = 2
#: pixel_pages: salted partitions the payloads spread over
PIXEL_PARTITIONS = 8
#: resumable_job: turns in the table, buckets, buckets per wave
JOB_TURNS = 20_000
JOB_BUCKETS = 16
JOB_WAVE_SIZE = 4
#: resumable_job: turns in the warm-up table
WARM_TURNS = 1_000


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: Path
    tracer: object
    phases: dict = field(default_factory=dict)

    def phase(self, name: str, fn):
        """Run one set-up phase and record its wall."""
        t0 = time.perf_counter()
        out = fn()
        self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0
        return out


@dataclass
class Result:
    verdict: check.Verdict
    metrics: dict  # name → value (units live in run.py's metric tables)
    detail: dict = field(default_factory=dict)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of p99/p95/p90/p75 with at least
    ten samples beyond it; with fewer than 40 samples, the median."""
    n = len(values)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(values, n=100, method="inclusive")[p - 1]
    return 50, statistics.median(values)


def timed_passes(run: Run, one_pass) -> list[float]:
    """Walls of whole passes, repeated until ``run.seconds`` elapse (at least
    one pass)."""
    walls: list[float] = []
    start = time.perf_counter()
    while not walls or time.perf_counter() - start < run.seconds:
        t0 = time.perf_counter()
        one_pass()
        walls.append(time.perf_counter() - t0)
    return walls


def pass_metrics(walls: list[float], turns: int, payloads: int) -> dict:
    """End-to-end metrics of a workload whose pass is one job of one wave."""
    med = statistics.median(walls)
    _, t = tail(walls)
    return {
        "turns_per_s": turns / med,
        "pages_per_s": payloads / med,
        "job_s": med,
        "wave_s_p50": med,
        "wave_s_tail": t,
    }


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------- html_turns


def html_turns(run: Run) -> Result:
    """50k HTML and plain turns from ``transcripts_from_documents``, held
    in cache, extracted to a noop sink."""
    from pyspark.sql import functions as F

    from img2table_spark.operators.extract import extract_tables
    from img2table_spark.sources.transcripts import transcripts_from_documents

    spark = run.spark
    sf_dir = run.work / "sf"
    run.phase("inputs", lambda: gen.write_documents(run.seed, sf_dir))
    tr = transcripts_from_documents(spark, str(sf_dir), repeat=HTML_REPEAT).persist()
    n_turns = run.phase("inputs", tr.count)
    n_html = n_turns - HTML_REPEAT * sum(1 for d in range(gen.N_DOCS) if d % 11 == 3)

    def observed_docs():
        ext = extract_tables(tr)
        doc = F.floor(F.col("turn_idx") / HTML_REPEAT).cast("long")
        crc = F.aggregate(
            F.transform(
                "cells",
                lambda c: F.crc32(
                    F.concat_ws("|", doc.cast("string"), c["row"].cast("string"), c["col"].cast("string"), c["value"])
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        rows = (
            ext.groupBy(doc.alias("doc"))
            .agg(F.count("*").alias("t"), F.sum(F.size("cells")).alias("c"), F.sum(crc).alias("h"))
            .collect()
        )
        return {int(r["doc"]): (int(r["t"]), int(r["c"]), int(r["h"])) for r in rows}

    # the check pass is also the warm-up: it runs the extractor over every
    # turn. Two noop passes follow it, since the first passes of the timed
    # plan still run measurably slower.
    observed = run.phase("warmup", observed_docs)
    for _ in range(HTML_WARM_PASSES):
        run.phase("warmup", lambda: noop(extract_tables(tr)))
    verdict = check.check_documents(observed, gen.expected_documents(run.seed), HTML_REPEAT)

    if run.trace:
        sample = [
            (r["text"], r["tool"])
            for r in tr.filter(F.col("turn_idx") % HTML_REPEAT == 0).select("text", "tool").collect()
        ]
        metrics = ledger.spark_layers(run, tr, PIXEL_PARTITIONS)
        metrics.update(ledger.html_layers(run, sample))
        detail = {}
    else:
        walls = timed_passes(run, lambda: noop(extract_tables(tr)))
        metrics = pass_metrics(walls, n_turns, n_html)
        detail = {"walls_s": walls}
    tr.unpersist()
    return Result(verdict, metrics, dict(detail, turns=n_turns, html_turns=n_html))


# ------------------------------------------------------------ pixel_pages


def payload_frame(spark, payloads: list):
    """One transcript row per payload; conv ids do not depend on the seed,
    so salted placement is the same for every seed."""
    import datetime as dt

    from img2table_spark.schema import TRANSCRIPT_SCHEMA

    ts = dt.datetime(2026, 1, 1)
    rows = [
        {"conv_id": f"p{i:02d}", "turn_idx": i, "role": "tool", "text": p.text, "tool": p.tool, "ts": ts}
        for i, p in enumerate(payloads)
    ]
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def pixel_pages(run: Run) -> Result:
    """22 planted-truth page payloads (PNG/JPEG/TIFF/WebP with hOCR, vector,
    borderless and scanned PDF, malformed) over 8 salted partitions. Every
    timed pass collects its output and is checked."""
    from img2table_spark.operators.extract import extract_tables

    spark = run.spark
    payloads = run.phase("inputs", lambda: gen.pixel_payloads(run.seed))
    df = payload_frame(spark, payloads).persist()
    n = run.phase("inputs", df.count)

    def extract_checked() -> check.Verdict:
        ext = extract_tables(df, num_partitions=PIXEL_PARTITIONS, emit_errors=True)
        # sorted here, not in Spark: a sort would sample the extractor's output
        # in a job of its own and so run every payload twice
        rows = ext.select("turn_idx", "table_idx", "cells").collect()
        observed, errors = grids_by_turn(sorted(rows, key=lambda r: (r["turn_idx"], r["table_idx"])))
        return check.check_payloads(payloads, observed, errors)

    # warm-up: one checked pass starts every Python worker and loads each
    # decoder and kernel
    verdict = run.phase("warmup", extract_checked)

    if run.trace:
        metrics = ledger.spark_layers(run, df, PIXEL_PARTITIONS)
        in_proc, v = ledger.kernel_layers_ledger(run, gen.one_per_kind(payloads))
        metrics.update(in_proc)
        verdict.merge(v)
        detail = {}
    else:
        walls = timed_passes(run, lambda: verdict.merge(extract_checked()))
        metrics = pass_metrics(walls, n, n)
        detail = {"walls_s": walls}
    df.unpersist()
    return Result(verdict, metrics, dict(detail, payloads=n, kinds=[p.kind for p in payloads]))


def grids_by_turn(rows) -> tuple[dict, set]:
    """Collected extractor rows → (turn → cell-value grids in table order,
    turns that emitted an error marker)."""
    grids: dict[int, list] = {}
    errors: set[int] = set()
    for r in rows:
        if r["table_idx"] < 0:
            errors.add(int(r["turn_idx"]))
            continue
        cells = r["cells"] or []
        n_rows = 1 + max((c["row"] for c in cells), default=-1)
        n_cols = 1 + max((c["col"] for c in cells), default=-1)
        grid = [[None] * n_cols for _ in range(n_rows)]
        for c in cells:
            grid[c["row"]][c["col"]] = c["value"]
        grids.setdefault(int(r["turn_idx"]), []).append(grid)
    return grids, errors


# ---------------------------------------------------------- resumable_job


def read_manifests(ckpt: Path) -> dict[int, dict]:
    out = {}
    for p in sorted(ckpt.glob("bucket-*.json")):
        with open(p) as f:
            m = json.load(f)
        out[int(m["bucket"])] = m
    return out


def reread_output(spark, out_dir: Path) -> dict[int, tuple[int, int, int]]:
    """bucket → (tables, cells, checksum) straight from the written parquet,
    with the manifest's documented checksum formula."""
    from pyspark.sql import functions as F

    if not out_dir.exists():
        return {}
    h = F.aggregate(
        F.transform(
            "cells",
            lambda c: F.xxhash64(F.col("conv_id"), F.col("turn_idx"), c["row"], c["col"], c["value"]).cast(
                "decimal(38,0)"
            ),
        ),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x,
    )
    rows = (
        spark.read.parquet(str(out_dir))
        .groupBy("bucket")
        .agg(F.count("*").alias("t"), F.sum(F.size("cells")).alias("c"), F.sum(h).alias("h"))
        .collect()
    )
    return {int(r["bucket"]): (int(r["t"]), int(r["c"] or 0), int(r["h"] or 0) % (2**63)) for r in rows}


def wave_walls(manifests: dict[int, dict], start_epoch: float) -> list[float]:
    """Per-wave walls from manifest commit times: each wave ends at its last
    commit and starts where the previous wave ended (the first at job start)."""
    ends: dict[int, float] = {}
    for m in manifests.values():
        ends[int(m["wave"])] = max(ends.get(int(m["wave"]), 0.0), float(m["committed_at"]))
    walls, prev = [], start_epoch
    for w in sorted(ends):
        walls.append(ends[w] - prev)
        prev = ends[w]
    return walls


def resumable_job(run: Run) -> Result:
    """``run_pipeline`` over a 20k-turn parquet table (HTML, plain, a few
    pixel and malformed payloads): 16 buckets in 4 waves, from an empty
    output and checkpoint each time. The last timed job's output is
    checked."""
    from img2table_spark.plans.pipeline import run_pipeline

    spark = run.spark
    src, warm_src = run.work / "job_input", run.work / "warm_input"

    def make_input():
        light = gen.pixel_payloads(run.seed, light=True)
        rows, expected = gen.job_rows(run.seed, JOB_TURNS, light)
        gen.write_job_table(rows, src)
        gen.write_job_table(gen.job_rows(run.seed, WARM_TURNS, light)[0], warm_src)
        return expected

    expected = run.phase("inputs", make_input)

    def one_job(table: Path, out: Path, ckpt: Path, n_buckets: int = JOB_BUCKETS) -> list[float]:
        """Run the job from an empty output and checkpoint; its wave walls."""
        for d in (out, ckpt):
            shutil.rmtree(d, ignore_errors=True)
        t_epoch = time.time()
        run_pipeline(spark, str(table), str(out), str(ckpt), n_buckets=n_buckets, wave_size=JOB_WAVE_SIZE)
        return wave_walls(read_manifests(ckpt), t_epoch)

    # warm-up: one wave of the same job over a small table of the same mix
    # starts the Python workers and runs every Spark and kernel code path once
    warm_waves = run.phase(
        "warmup", lambda: one_job(warm_src, run.work / "out-warmup", run.work / "ckpt-warmup", JOB_WAVE_SIZE)
    )

    out, ckpt = run.work / "out", run.work / "ckpt"
    if run.trace:
        metrics = ledger.spark_layers(run, spark.read.parquet(str(src)), PIXEL_PARTITIONS)
        metrics.update(ledger.plans_layers(run, src, out, ckpt, expected["turns"]))
        detail = {}
    else:
        waves: list[float] = []
        jobs = timed_passes(run, lambda: waves.extend(one_job(src, out, ckpt)))
        med = statistics.median(jobs)
        p, t = tail(waves)
        metrics = {
            "turns_per_s": expected["turns"] / med,
            "pages_per_s": expected["payloads"] / med,
            "job_s": med,
            "wave_s_p50": statistics.median(waves),
            "wave_s_tail": t,
        }
        detail = {"job_walls_s": jobs, "wave_walls_s": waves, "tail_percentile": p}
    # the output of the last job is the one checked
    verdict = check.check_job(read_manifests(ckpt), reread_output(spark, out), expected, JOB_BUCKETS)
    return Result(verdict, metrics, dict(detail, expected=expected, warmup_waves_s=warm_waves))


WORKLOADS = {
    "html_turns": html_turns,
    "pixel_pages": pixel_pages,
    "resumable_job": resumable_job,
}
