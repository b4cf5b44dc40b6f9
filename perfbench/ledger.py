"""The per-layer ledger of the traced run.

Spark layers are measured by subtraction, each a median over interleaved
passes to the noop sink:

- ``sources.scan_s``: scan the input;
- ``operators.exchange_s``: scan + salted repartition (includes the scan);
- ``operators.arrow_boundary_s``: an identity ``mapInArrow`` after the
  exchange, minus the exchange;
- ``operators.extract_udf_s``: ``extract_tables``, minus the identity pass.

In-process layers come from spans around the engine's kernel entry points
(``tracing.kernel_layers``); each reports mean self time per call and its
call count. ``trace.overhead_frac`` is the traced in-process wall over the
untraced one, minus one. Plans layers decompose the resumable job's waves.

``MOVES`` records which end-to-end metric, on which workload, each layer
metric should move.
"""

from __future__ import annotations

import shutil
import statistics
import time

import gen
from tracing import kernel_layers

#: layer metric → (unit, the end-to-end metrics and workloads it should move)
MOVES = {
    "sources.scan_s": ("s", "turns_per_s on html_turns"),
    "operators.exchange_s": ("s", "turns_per_s on html_turns"),
    "operators.arrow_boundary_s": ("s", "turns_per_s on html_turns"),
    "operators.extract_udf_s": ("s", "turns_per_s on html_turns; pages_per_s on pixel_pages"),
    "operators.partition_rows_max_over_median": ("ratio", "pages_per_s on pixel_pages; wave_s_tail"),
    "operators.output_build_us": ("us", "turns_per_s on html_turns"),
    "operators.extract_payload_ms": ("ms", "turns_per_s; pages_per_s"),
    "kernels.html_parse_us": ("us", "turns_per_s on html_turns"),
    **{
        f"kernels.decode_ms.{c}": ("ms", "pages_per_s and peak_rss_mb on pixel_pages")
        for c in gen.CODECS
    },
    **{
        f"kernels.{k}_ms": ("ms", "pages_per_s on pixel_pages")
        for k in (
            "preprocess", "lines", "grid", "borderless", "text_assign", "titles",
            "pdf_parse", "pdf_lines", "pdf_render",
        )
    },
    "kernels.coverage_frac": ("ratio", "share of extract_payload busy time the kernel layers explain"),
    "trace.overhead_frac": ("ratio", "tracing cost; none"),
    "plans.sink_write_s": ("s", "job_s and wave_s_p50 on resumable_job"),
    "plans.wave_overhead_s": ("s", "job_s and wave_s_p50 on resumable_job"),
    "plans.manifest_commit_ms": ("ms", "job_s on resumable_job"),
    "plans.spark_jobs_per_wave": ("count", "wave_s_p50 on resumable_job"),
    "plans.bytes_written_per_turn": ("B", "job_s on resumable_job"),
}


def _calls_name(metric: str) -> str:
    """kernels.lines_ms → kernels.lines.calls; kernels.decode_ms.png →
    kernels.decode.png.calls."""
    base, _, rest = metric.partition("_ms")
    if not _:
        base, _, rest = metric.partition("_us")
    return f"{base}{rest}.calls"


#: every per-layer metric name → unit (timed layers also carry a call count)
PER_LAYER = {name: unit for name, (unit, _) in MOVES.items()}
PER_LAYER.update(
    {
        _calls_name(name): "count"
        for name, unit in list(PER_LAYER.items())
        if unit in ("ms", "us")
    }
)


def _layer_metrics(stats: dict[str, tuple[int, float]]) -> dict:
    """Span stats → ``<layer>_ms`` (or ``_us``) mean self time per call and
    ``<layer>.calls``."""
    out = {}
    for span, (calls, busy) in stats.items():
        if span == "kernels.html_parse":
            name, scale = "kernels.html_parse_us", 1e6
        elif span.startswith("kernels.decode."):
            name, scale = "kernels.decode_ms." + span.rsplit(".", 1)[1], 1e3
        elif span.startswith("kernels.") or span == "operators.extract_payload":
            name, scale = span + "_ms", 1e3
        else:
            continue
        if name in PER_LAYER:
            out[name] = busy / calls * scale
            out[_calls_name(name)] = calls
    return out


# ----------------------------------------------------------- Spark layers


def spark_layers(run, df, parts: int, reps: int = 3) -> dict:
    from pyspark.sql import functions as F

    from img2table_spark.operators.extract import extract_tables, with_salt

    slim = df.select("conv_id", "turn_idx", "text", "tool")

    def salted():
        return slim.repartition(parts, with_salt(slim))

    def identity(batches):
        yield from batches

    def noop(d):
        d.write.format("noop").mode("overwrite").save()

    passes = {
        "sources.scan": lambda: noop(slim),
        "operators.exchange": lambda: noop(salted()),
        "operators.identity_arrow": lambda: noop(salted().mapInArrow(identity, slim.schema)),
        "operators.extract_tables": lambda: noop(extract_tables(df, num_partitions=parts)),
    }
    walls: dict[str, list[float]] = {k: [] for k in passes}
    for _ in range(reps):  # interleaved, so drift reaches every layer alike
        for name, one in passes.items():
            with run.tracer.span(name):
                t0 = time.perf_counter()
                one()
                walls[name].append(time.perf_counter() - t0)
    med = {k: statistics.median(v) for k, v in walls.items()}

    counts = dict(
        (int(r[0]), int(r[1]))
        for r in salted().groupBy(F.spark_partition_id()).count().collect()
    )
    rows = [counts.get(p, 0) for p in range(parts)]
    mid = statistics.median(rows) or statistics.mean(rows)
    return {
        "sources.scan_s": med["sources.scan"],
        "operators.exchange_s": med["operators.exchange"],
        "operators.arrow_boundary_s": med["operators.identity_arrow"] - med["operators.exchange"],
        "operators.extract_udf_s": med["operators.extract_tables"] - med["operators.identity_arrow"],
        "operators.partition_rows_max_over_median": max(rows) / mid,
    }


# ------------------------------------------------------- in-process layers


def _extract(text, tool):
    """The extractor's per-turn work: dispatch plus the relevance filter.
    Returns the cell-value grids, or None when the payload is rejected."""
    from img2table_spark.operators.extract import extract_payload
    from img2table_spark.kernels.text import is_relevant_table

    try:
        tables = [t for t in extract_payload(text, tool) if is_relevant_table(t)]
    except Exception:  # a malformed payload: the UDF emits zero rows for it
        return None
    return [[[c.content for c in row] for row in t.rows] for t in tables]


def _traced_pass(run, items) -> tuple[float, float, list, int]:
    """(untraced wall, traced wall, traced results, first span id). The
    untraced pass runs before and after the traced one; its mean is used."""
    def plain():
        t0 = time.perf_counter()
        for text, tool in items:
            _extract(text, tool)
        return time.perf_counter() - t0

    before = plain()
    mark = len(run.tracer.spans)
    results = []
    with kernel_layers(run.tracer):
        t0 = time.perf_counter()
        for text, tool in items:
            with run.tracer.span("operators.extract_payload"):
                results.append(_extract(text, tool))
        traced = time.perf_counter() - t0
    untraced = (before + plain()) / 2
    return untraced, traced, results, mark


def kernel_layers_ledger(run, picked: list) -> tuple[dict, object]:
    """Kernel layers over the given payloads (one of each kind), checked
    against truth."""
    import check

    untraced, traced, results, mark = _traced_pass(run, [(p.text, p.tool) for p in picked])
    observed = {i: r for i, r in enumerate(results) if r}
    errors = {i for i, r in enumerate(results) if r is None}
    verdict = check.check_payloads(picked, observed, errors)

    stats = run.tracer.layers(since=mark)
    out = _layer_metrics(stats)
    total = sum(
        s["end"] - s["start"]
        for s in run.tracer.spans[mark:]
        if s["name"] == "operators.extract_payload"
    )
    kernel_busy = sum(busy for name, (_, busy) in stats.items() if name.startswith("kernels."))
    out["kernels.coverage_frac"] = kernel_busy / total
    out["trace.overhead_frac"] = traced / untraced - 1
    return out, verdict


def html_layers(run, sample: list[tuple[str, str]], reps: int = 3) -> dict:
    """HTML parse per call (traced) and the extractor's output build per
    turn: the batch function on an in-process RecordBatch minus the time of
    its per-turn extraction, both medians of ``reps`` untraced runs."""
    import pyarrow as pa

    from img2table_spark.operators.extract import _make_batch_extract_arrow

    untraced, traced, _, mark = _traced_pass(run, sample)
    out = _layer_metrics(run.tracer.layers(since=mark))
    out["trace.overhead_frac"] = traced / untraced - 1

    batch = pa.RecordBatch.from_pydict(
        {
            "conv_id": pa.array([f"c{i}" for i in range(len(sample))], pa.string()),
            "turn_idx": pa.array(range(len(sample)), pa.int32()),
            "text": pa.array([t for t, _ in sample], pa.string()),
            "tool": pa.array([k for _, k in sample], pa.string()),
        }
    )
    batch_fn = _make_batch_extract_arrow()
    whole, per_turn = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        for _b in batch_fn(iter([batch])):
            pass
        whole.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for text, tool in sample:
            _extract(text, tool)
        per_turn.append(time.perf_counter() - t0)
    out["operators.output_build_us"] = (
        (statistics.median(whole) - statistics.median(per_turn)) / len(sample) * 1e6
    )
    out["operators.output_build.calls"] = len(sample)
    return out


# ------------------------------------------------------------ plans layers


def plans_layers(run, src, out, ckpt, n_turns: int) -> dict:
    """Decompose the resumable job's waves.

    The job runs into ``out`` and ``ckpt``, one wave per
    ``run_pipeline(max_waves=1)`` call (the resume path), each under its own
    job group, so the status tracker counts the Spark jobs of that wave and
    ``write_manifest`` calls are timed by span. Then each wave's input is
    extracted into a cache (extract) and written with
    ``overwrite_partitions`` (write); wave overhead is the wave's wall minus
    both."""
    from pyspark.sql import functions as F

    from img2table_spark.operators.extract import extract_tables
    from img2table_spark.plans import pipeline
    from img2table_spark.sources.iceberg import overwrite_partitions

    import workloads as wl

    spark, sc = run.spark, run.spark.sparkContext
    scratch = run.work / "ledger-sink"
    for d in (out, ckpt, scratch):
        shutil.rmtree(d, ignore_errors=True)
    n_waves = wl.JOB_BUCKETS // wl.JOB_WAVE_SIZE

    walls, jobs = [], []
    mark = len(run.tracer.spans)
    orig = pipeline.write_manifest
    pipeline.write_manifest = run.tracer.wrap(orig, "plans.manifest_commit")
    try:
        for w in range(n_waves):
            group = f"perfbench-wave-{w}"
            sc.setJobGroup(group, group)
            with run.tracer.span("plans.wave"):
                t0 = time.perf_counter()
                pipeline.run_pipeline(
                    spark, str(src), str(out), str(ckpt),
                    n_buckets=wl.JOB_BUCKETS, wave_size=wl.JOB_WAVE_SIZE, max_waves=1,
                )
                walls.append(time.perf_counter() - t0)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        pipeline.write_manifest = orig
        sc.setLocalProperty("spark.jobGroup.id", None)
    commit = run.tracer.layers(since=mark).get("plans.manifest_commit", (1, 0.0))
    written = sum(p.stat().st_size for p in out.rglob("*.parquet"))

    extract_s, write_s = [], []
    df = spark.read.parquet(str(src)).withColumn("bucket", pipeline.bucket_col(wl.JOB_BUCKETS))
    for w in range(n_waves):
        wave = list(range(w * wl.JOB_WAVE_SIZE, (w + 1) * wl.JOB_WAVE_SIZE))
        ext = (
            extract_tables(df.filter(F.col("bucket").isin(wave)), emit_errors=True)
            .withColumn("bucket", pipeline.bucket_col(wl.JOB_BUCKETS))
            .persist()
        )
        with run.tracer.span("plans.extract"):
            t0 = time.perf_counter()
            ext.count()
            extract_s.append(time.perf_counter() - t0)
        with run.tracer.span("plans.sink_write"):
            t0 = time.perf_counter()
            overwrite_partitions(ext.filter(F.col("table_idx") >= 0), str(scratch), "bucket")
            write_s.append(time.perf_counter() - t0)
        ext.unpersist()
    overhead = [wall - e - s for wall, e, s in zip(walls, extract_s, write_s)]
    return {
        "plans.sink_write_s": statistics.median(write_s),
        "plans.wave_overhead_s": statistics.median(overhead),
        "plans.manifest_commit_ms": commit[1] / commit[0] * 1e3,
        "plans.manifest_commit.calls": commit[0],
        "plans.spark_jobs_per_wave": statistics.mean(jobs),
        "plans.bytes_written_per_turn": written / n_turns,
    }
