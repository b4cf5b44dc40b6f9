"""The resumable extraction job (SURVEY.md §3.4, north_rule).

Plan shape: scan → exchange(salted, by bucket) → project(Arrow UDF) →
write. The input is hash-bucketed on conv_id; buckets are processed in
waves, each wave writing its output partitions via dynamic partition
overwrite and then committing one manifest per bucket. A restart skips every bucket with a
committed manifest, so at 10^12-turn scale an interrupted run loses at most
one wave of work and re-runs it idempotently.

A wave is two actions, three Spark jobs: the write (the exchange's map
stage, then the UDF and the sink in one result stage) and one scan of the
committed output to a noop sink. Every manifest count rides one of them as
a ``DataFrame.observe`` metric, one ``count_if``/``sum`` per bucket of the
wave: turns, payload turns and error markers during the write, tables,
cells and the checksum during the scan. A path input adds one job a run,
to read its schema. The exchange gives each bucket partitions of its own,
so every write task opens one file. Every expression names a bucket by its
``slot`` in the wave, so each wave runs the code Spark generated for the
first.

Why waves and not per-task commits: output atomicity lives with the parquet
committer; the manifest is only written after the wave's commit, so a
manifest can never claim data that isn't durably on disk.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from img2table_spark.operators.extract import PAYLOAD_TOOL_SQL, SALT_SQL, extract_tables
from img2table_spark.plans.checkpoints import read_committed, write_manifest
from img2table_spark.schema import EXTRACTED_SCHEMA

# what run_pipeline writes: one row per extracted table, partitioned by bucket
OUTPUT_SCHEMA = StructType([*EXTRACTED_SCHEMA.fields, StructField("bucket", IntegerType())])


def bucket_col(n_buckets: int) -> "F.Column":
    return F.expr(f"CAST(pmod(xxhash64(conv_id), {n_buckets}) AS INT)")


def _slot(wave: list[int]) -> str:
    """SQL for the row's position in the wave (from ``bucket``), -1 outside
    it. The wave's bucket ids form one array literal, which generated code
    reads as a reference instead of inlining it: every wave of one size
    compiles to the same classes, so the first wave's code serves the rest
    and the JIT warms one copy of it, not one per wave."""
    return f"CAST(array_position(array({', '.join(map(str, wave))}), bucket) - 1 AS INT)"


def _per_slot(name: str, size: int, agg: str) -> "F.Column":
    """One observed metric: the SQL aggregate ``agg`` (over ``{i}``, a
    ``slot``) for each bucket of the wave, as an array in wave order. A SQL
    string is one call into the JVM, where a Column chain per bucket costs
    several: ~8 ms a bucket on 4 CPUs, about a second a wave at
    ``wave_size`` 32."""
    return F.expr(f"array({', '.join(agg.format(i=i) for i in range(size))}) AS {name}")


def _observed(obs: Observation, wave: list[int], *names: str) -> dict[int, tuple[int, ...]]:
    """bucket -> the values of the ``_per_slot`` metrics ``names``, nulls
    (a sum over no rows) read as 0."""
    row = obs.get
    return {b: tuple(int(row[n][i] or 0) for n in names) for i, b in enumerate(wave)}


def _wave_turns(df: DataFrame, wave: list[int], num_partitions: int | None) -> DataFrame:
    """The turns of the wave's buckets with their ``slot`` and ``payload``
    flag (``payload_tool``), behind the wave's one exchange, each partition
    holding the turns of one bucket.

    The sink opens one file per task and bucket. With ``salted``'s hash salt
    every bucket reaches every task: ``num_partitions`` x wave size files a
    wave. Here each bucket owns ``num_partitions // len(wave)`` partitions
    (at least one) and the same salt spreads its turns over them, so each
    task writes one file."""
    if num_partitions is None:
        # salted's rule: the UDF stage is Python-CPU-bound, two tasks a core
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    per_bucket = max(1, num_partitions // len(wave))
    turns = df.selectExpr(
        "conv_id", "turn_idx", "text", "tool", f"{_slot(wave)} AS slot", f"{PAYLOAD_TOOL_SQL} AS payload"
    ).where("slot >= 0")
    part = F.expr(f"CAST(slot * {per_bucket} + pmod({SALT_SQL}, {per_bucket}) AS INT)")
    return turns.repartitionById(per_bucket * len(wave), part)


def _write_wave(
    df: DataFrame, wave: list[int], n_buckets: int, num_partitions: int | None, output_dir: str
) -> dict[int, tuple[int, ...]]:
    """Extract the turns of one wave's buckets and write their tables: one
    write action. Returns bucket -> (n_turns, n_payload_turns, n_errors),
    observed during the write.

    Both observations sit after the wave's exchange, in the write's result
    stage, where Spark applies each task's metrics once. Observed below the
    exchange, they would run in its map stage and count again whenever that
    stage is retried."""
    from img2table_spark.sources.iceberg import overwrite_partitions

    inp, ext_obs = Observation(), Observation()
    size = len(wave)
    turns = _wave_turns(df, wave, num_partitions).observe(
        inp,
        _per_slot("turns", size, "count_if(slot = {i})"),
        _per_slot("payload", size, "count_if(slot = {i} AND payload)"),
    )
    ext = (
        extract_tables(turns, salt=False, emit_errors=True)
        .withColumn("bucket", bucket_col(n_buckets))
        .withColumn("slot", F.expr(_slot(wave)))
        .observe(ext_obs, _per_slot("errors", size, "count_if(slot = {i} AND table_idx < 0)"))
    )
    overwrite_partitions(ext.where("table_idx >= 0").drop("slot"), output_dir, "bucket")
    counts, errors = _observed(inp, wave, "turns", "payload"), _observed(ext_obs, wave, "errors")
    return {b: counts[b] + errors[b] for b in wave}


def _verify_wave(spark: SparkSession, output_dir: str, wave: list[int]) -> dict[int, tuple[int, int, int]]:
    """bucket -> (n_tables, n_cells, checksum) re-read from the committed
    output: one scan to a noop sink, counted by an observation.

    Re-reading verifies what is actually on disk, so any failure here fails
    the wave BEFORE its manifests are written. The write always leaves the
    output in place, with no parquet file in it when no wave has written a
    table yet; the known schema reads that as empty."""
    from img2table_spark.sources.iceberg import read_table

    rows = (
        read_table(spark, output_dir, OUTPUT_SCHEMA)
        .where(f"bucket IN ({', '.join(map(str, wave))})")
        .selectExpr(
            f"{_slot(wave)} AS slot",
            "size(cells) AS n_cells",
            # decimal(38,0) accumulator: summing 64-bit hashes in a long
            # overflows under ANSI mode
            "aggregate(transform(cells, c -> CAST(xxhash64(conv_id, turn_idx, c.row, c.col, c.value)"
            " AS DECIMAL(38,0))), CAST(0 AS DECIMAL(38,0)), (acc, x) -> acc + x) AS checksum",
        )
    )
    obs = Observation()
    size = len(wave)
    rows.observe(
        obs,
        _per_slot("tables", size, "count_if(slot = {i})"),
        _per_slot("cells", size, "sum(if(slot = {i}, n_cells, NULL))"),
        _per_slot("checksum", size, "sum(if(slot = {i}, checksum, NULL))"),
    ).write.format("noop").mode("overwrite").save()
    return {
        b: (t, c, h % (2**63))
        for b, (t, c, h) in _observed(obs, wave, "tables", "cells", "checksum").items()
    }


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
    from img2table_spark.sources.iceberg import read_table

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
        ins = _write_wave(df, wave, n_buckets, num_partitions, output_dir)
        outs = _verify_wave(spark, output_dir, wave)

        wall = time.time() - t0
        for b in wave:
            n_turns, n_payload_turns, n_errors = ins[b]
            n_tables, n_cells, checksum = outs[b]
            write_manifest(
                checkpoint_dir,
                b,
                {
                    "input_path": input_path,
                    "n_buckets": n_buckets,
                    "app_id": spark.sparkContext.applicationId,
                    "wave": wave_idx,
                    "n_turns": n_turns,
                    "n_payload_turns": n_payload_turns,
                    "n_tables": n_tables,
                    "n_cells": n_cells,
                    "n_errors": n_errors,
                    "checksum": checksum,
                    "wall_s": round(wall, 3),
                },
            )
            summary["processed_buckets"] += 1
            summary["n_tables"] += n_tables
            summary["n_cells"] += n_cells
            summary["n_errors"] += n_errors
        summary["waves"] += 1

    return summary
