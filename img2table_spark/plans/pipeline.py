"""The resumable extraction job (SURVEY.md §3.4, north_rule).

Plan shape: scan → exchange(salted) → project(Arrow UDF) → write. The input
is hash-bucketed on conv_id; buckets are processed in waves (one Spark job
per wave), each wave writing its output partitions via dynamic partition
overwrite and then committing one manifest per bucket. A restart skips every
bucket with a committed manifest, so at 10^12-turn scale an interrupted run
loses at most one wave of work and re-runs it idempotently.

Why waves and not per-task commits: output atomicity lives with the parquet
committer; the manifest is only written after the wave's commit, so a
manifest can never claim data that isn't durably on disk.
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from img2table_spark.operators.extract import (
    _HTML_TOOLS,
    _IMAGE_PREFIX,
    _PDF_TOOLS,
    extract_tables,
)
from img2table_spark.plans.checkpoints import read_committed, write_manifest


def bucket_col(n_buckets: int) -> "F.Column":
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame | str,
    output_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
    wave_size: int = 32,
    max_waves: int | None = None,
    num_partitions: int | None = None,
    input_path: str | None = None,
) -> dict:
    """Run (or resume) the extraction job. Returns a summary dict."""
    from img2table_spark.sources.iceberg import overwrite_partitions, read_table

    if isinstance(transcripts, str):
        input_path = input_path or transcripts
        transcripts = read_table(spark, transcripts)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    df = transcripts.withColumn("bucket", bucket_col(n_buckets))

    committed = read_committed(checkpoint_dir)
    # lineage guards: manifests from a different input OR a different bucket
    # count must not be trusted — silently skipping bucket ids that now map
    # to different conv_id sets would lose or duplicate data
    if input_path is not None:
        foreign = {
            b: m["input_path"]
            for b, m in committed.items()
            if m.get("input_path") not in (None, input_path)
        }
        if foreign:
            b, other = next(iter(foreign.items()))
            raise ValueError(
                f"checkpoint dir {checkpoint_dir} holds manifests for a different "
                f"input (bucket {b}: {other!r} != {input_path!r}); use a fresh "
                "checkpoint dir or clear the stale manifests"
            )
    wrong_n = {
        b: m["n_buckets"]
        for b, m in committed.items()
        if m.get("n_buckets") not in (None, n_buckets)
    }
    if wrong_n:
        b, other = next(iter(wrong_n.items()))
        raise ValueError(
            f"checkpoint dir {checkpoint_dir} holds manifests for n_buckets="
            f"{other} (bucket {b}), but this run uses n_buckets={n_buckets}; "
            "bucket ids would map to different conv_id sets — use a fresh "
            "checkpoint dir or rerun with the original n_buckets"
        )
    todo = [b for b in range(n_buckets) if b not in committed]
    waves = [todo[i : i + wave_size] for i in range(0, len(todo), wave_size)]
    if max_waves is not None:
        waves = waves[:max_waves]

    summary = {
        "n_buckets": n_buckets,
        "skipped_buckets": len(committed),
        "processed_buckets": 0,
        "n_tables": 0,
        "n_cells": 0,
        "n_errors": 0,
        "waves": 0,
    }

    for wave_idx, wave in enumerate(waves):
        t0 = time.time()
        sub = df.filter(F.col("bucket").isin(wave))

        # Input-side metrics per bucket (cheap columnar scan, payload pruned).
        in_stats = {
            int(r["bucket"]): r
            for r in sub.groupBy("bucket")
            .agg(
                F.count("*").alias("n_turns"),
                # the tools extract_payload dispatches, lowercased first as
                # it does, so 'TEXT/HTML' turns count as payload turns too
                F.sum(
                    (F.lower("tool").isin(*sorted(_HTML_TOOLS | _PDF_TOOLS))
                     | F.lower("tool").startswith(_IMAGE_PREFIX)).cast("long")
                ).alias("n_payload_turns"),
            )
            .collect()
        }

        # Cache the (small) extracted output: it feeds both the sink write and
        # the error-marker scan; without the cache the Arrow UDF would run
        # twice over the wave's payloads.
        ext = (
            extract_tables(sub, salt=True, num_partitions=num_partitions, emit_errors=True)
            .withColumn("bucket", bucket_col(n_buckets))
            .persist()
        )
        out = ext.filter(F.col("table_idx") >= 0)
        overwrite_partitions(out, output_dir, "bucket")

        # Post-commit metrics from the durably-written output (re-reading the
        # columnar sink verifies what is actually on disk), plus error counts
        # from the cached marker rows. Only a MISSING output path (all-negative
        # wave: nothing written yet) maps to zero metrics — any other failure
        # must fail the wave BEFORE manifests are written, otherwise manifests
        # would durably record n_tables=0/checksum=0 for data that is on disk.
        try:
            written = read_table(spark, output_dir).filter(F.col("bucket").isin(wave))
            out_stats = {
                int(r["bucket"]): r
                for r in written.groupBy("bucket")
                .agg(
                    F.count("*").alias("n_tables"),
                    F.sum(F.size("cells")).alias("n_cells"),
                    # decimal(38,0) accumulator: summing 64-bit hashes in a
                    # long overflows under ANSI mode
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
        except AnalysisException as exc:
            missing = any(
                tok in str(exc)
                for tok in ("PATH_NOT_FOUND", "Path does not exist", "TABLE_OR_VIEW_NOT_FOUND")
            )
            if not missing:
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

        wall = time.time() - t0
        for b in wave:
            ins = in_stats.get(b)
            outs = out_stats.get(b)
            n_err = int(err_stats.get(b, 0))
            write_manifest(
                checkpoint_dir,
                b,
                {
                    "input_path": input_path,
                    "n_buckets": n_buckets,
                    "app_id": spark.sparkContext.applicationId,
                    "wave": wave_idx,
                    "n_turns": int(ins["n_turns"]) if ins else 0,
                    "n_payload_turns": int(ins["n_payload_turns"] or 0) if ins else 0,
                    "n_tables": int(outs["n_tables"]) if outs else 0,
                    "n_cells": int(outs["n_cells"] or 0) if outs else 0,
                    "n_errors": n_err,
                    "checksum": (int(outs["checksum"] or 0) % (2**63)) if outs else 0,
                    "wall_s": round(wall, 3),
                },
            )
            summary["processed_buckets"] += 1
            summary["n_tables"] += int(outs["n_tables"]) if outs else 0
            summary["n_cells"] += int(outs["n_cells"] or 0) if outs else 0
            summary["n_errors"] += n_err
        summary["waves"] += 1

    return summary
