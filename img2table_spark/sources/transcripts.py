"""Transcript-table sources: readers plus two deterministic synthesizers.

1. ``golden_transcripts`` — a small local corpus embedding golden-table HTML
   payloads (values from the reference's expected_tables.json plus seeded
   synthetic grids with col/row spans) and negative payloads. Used by e2e
   tests: expected output is known exactly per (conv_id, turn_idx).
2. ``transcripts_from_documents`` — scales the driver's documents.parquet
   into a transcript table with pure SQL expressions (JVM-side, no Python),
   used by queries()/bench. Cell values are a deterministic function of
   (doc_id, row, col, text tokens) so a DuckDB oracle can recompute them.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from img2table_spark.schema import TRANSCRIPT_SCHEMA
from img2table_spark.session import session_artifact

REF_TESTS = Path("/root/reference/tests")


# ------------------------------------------------------- golden local corpus


def _golden_html_payloads() -> list[tuple[str, list[tuple[int, int, str | None]]]]:
    """(html, expected flat (row, col, value)) pairs from the reference's
    expected_tables.json golden (tests/tables/objects/test_data/)."""
    from img2table_spark.kernels.html_io import table_to_html
    from img2table_spark.kernels.objects import Cell, Table

    path = REF_TESTS / "tables/objects/test_data/expected_tables.json"
    if not path.exists():
        return []
    with open(path) as f:
        raw = json.load(f)
    out = []
    for tb in raw:
        pool: dict[tuple, Cell] = {}
        rows = []
        for row in tb:
            cells = []
            for el in row:
                k = (el["x1"], el["y1"], el["x2"], el["y2"], el.get("content"))
                if k not in pool:
                    pool[k] = Cell(**el)
                cells.append(pool[k])
            rows.append(cells)
        t = Table(rows=rows)
        expected = [
            (r, c, cell.content) for r, row in enumerate(t.rows) for c, cell in enumerate(row)
        ]
        out.append((table_to_html(t), expected))
    return out


def _synthetic_html(i: int) -> tuple[str, list[tuple[int, int, str | None]]]:
    """Seeded synthetic HTML grid with optional col/row spans (FIXTURES.md §5).
    Returns (html, expected flat cells with merged values duplicated)."""
    rng = random.Random(1000 + i)
    n_rows = rng.randint(2, 6)
    n_cols = rng.randint(2, 5)
    mode = i % 3  # 0: colspan on row 0, 1: rowspan on col 0, 2: plain

    def val(r, c):
        v = f"t{i}r{r}c{c}"
        if (r * n_cols + c + i) % 7 == 0:
            v += "\nx"  # exercise <br> path
        return v

    grid = [[val(r, c) for c in range(n_cols)] for r in range(n_rows)]

    def td(v: str, attrs: str = "") -> str:
        return f"<td{attrs}>{v.replace(chr(10), '<br>')}</td>"

    rows_html = []
    if mode == 0:
        span = min(2, n_cols)
        tds = [td(grid[0][0], f' colspan="{span}"')]
        tds += [td(grid[0][c]) for c in range(span, n_cols)]
        rows_html.append("<tr>" + "".join(tds) + "</tr>")
        for c in range(1, span):
            grid[0][c] = grid[0][0]
        start = 1
    elif mode == 1 and n_rows >= 2:
        tds = [td(grid[0][0], ' rowspan="2"')]
        tds += [td(grid[0][c]) for c in range(1, n_cols)]
        rows_html.append("<tr>" + "".join(tds) + "</tr>")
        rows_html.append("<tr>" + "".join(td(grid[1][c]) for c in range(1, n_cols)) + "</tr>")
        grid[1][0] = grid[0][0]
        start = 2
    else:
        start = 0
    for r in range(start, n_rows):
        rows_html.append("<tr>" + "".join(td(grid[r][c]) for c in range(n_cols)) + "</tr>")
    html = "<table>" + "".join(rows_html) + "</table>"
    expected = [(r, c, grid[r][c]) for r in range(n_rows) for c in range(n_cols)]
    return html, expected


def golden_transcripts(
    n_convs: int = 8, turns_per_conv: int = 12
) -> tuple[list[dict], dict[tuple[str, int], list[tuple[int, int, str | None]]]]:
    """Deterministic local corpus: returns (transcript rows, expected flat
    cells keyed by (conv_id, turn_idx)); non-table turns map to []."""
    payloads: list[tuple[str, str, list]] = []  # (tool, text, expected)
    for html, exp in _golden_html_payloads():
        payloads.append(("text/html", html, exp))
    for i in range(20):
        html, exp = _synthetic_html(i)
        payloads.append(("text/html", html, exp))
    # Negative payloads (FIXTURES.md §6)
    payloads.append(("text/plain", "no tables in plain prose", []))
    payloads.append(("text/html", "<p>markup without tables</p>", []))
    payloads.append(("text/html", "<table></table>", []))
    payloads.append(("image/png", "!!!not-base64!!!", []))  # corrupt → 0 rows
    payloads.append((None, None, []))

    rows: list[dict] = []
    expected: dict[tuple[str, int], list] = {}
    k = 0
    base_ts = dt.datetime(2026, 1, 1)
    roles = ["user", "assistant", "tool"]
    for ci in range(n_convs):
        conv_id = f"conv{ci:03d}"
        for ti in range(turns_per_conv):
            tool, text, exp = payloads[k % len(payloads)]
            k += 1
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": ti,
                    "role": roles[ti % 3],
                    "text": text,
                    "tool": tool,
                    "ts": base_ts + dt.timedelta(minutes=ci * 1000 + ti),
                }
            )
            expected[(conv_id, ti)] = exp
    return rows, expected


def golden_transcripts_df(spark: SparkSession, **kwargs) -> tuple[DataFrame, dict]:
    rows, expected = golden_transcripts(**kwargs)
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), expected


# ------------------------------------------ SQL synthesizer over documents


#: Max rows/cols of the synthesized grids (kept tiny: the oracle recomputes
#: every cell value in SQL).
_N_CONVS = 500

# Cell value = deterministic function of (doc_id, r, c, tokens of text):
#   'd{doc}_r{r}_c{c}_{tok[(r*7+c*3) % ntok]}'
_VALUE_EXPR = (
    "concat('d', doc_id, '_r', {r}, '_c', {c}, '_', "
    "element_at(toks, cast(({r} * 7 + {c} * 3) % size(toks) AS INT) + 1))"
)


@session_artifact
def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Source-table reader, one plan handle per (session, dir, table): a
    DataFrame is an immutable logical-plan handle, so reusing it skips the
    driver-side file listing + parquet footer schema read every consumer
    repaid per call. Nothing is persisted — every execution still scans
    the parquet input."""
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")


def transcripts_from_documents(
    spark: SparkSession, sf_dir: str, repeat: int = 1
) -> DataFrame:
    """documents.parquet → transcript table, entirely with JVM-side SQL
    expressions. doc_id % 11 == 3 rows become plain-text (negative) turns;
    doc_id % 5 == 0 rows carry a colspan-2 merged first cell."""
    docs = _t(spark, sf_dir, "documents")
    # The source is a single small file (one input split): without an explicit
    # repartition the explode + HTML synthesis below would run in ONE task and
    # serialize the whole stage. The partition COUNT must be explicit — with
    # AQE, repartition(col) alone gets size-coalesced (tiny bytes, heavy CPU)
    # back down to one partition.
    docs = docs.repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    d = docs.select("doc_id", "text").withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(repeat - 1))))
    d = d.withColumn("idx", F.col("doc_id") * repeat + F.col("rep"))
    d = (
        d.withColumn("toks", F.split(F.col("text"), " "))
        .withColumn("nr", (F.lit(2) + F.pmod("doc_id", F.lit(3))).cast("int"))
        .withColumn("nc", (F.lit(2) + F.pmod("doc_id", F.lit(2))).cast("int"))
        .withColumn("merged", F.pmod("doc_id", F.lit(5)) == 0)
    )
    v = _VALUE_EXPR
    row0 = (
        "concat('<tr>', "
        f"IF(merged, concat('<td colspan=\"2\">', {v.format(r=0, c=0)}, '</td>'), "
        f"concat('<td>', {v.format(r=0, c=0)}, '</td><td>', {v.format(r=0, c=1)}, '</td>')), "
        # sequence(a, b) with a > b counts DOWN in Spark → guard nc < 3
        "IF(nc >= 3, array_join(transform(sequence(2, nc - 1), c -> "
        f"concat('<td>', {v.format(r=0, c='c')}, '</td>')), ''), ''), '</tr>')"
    )
    rest = (
        "array_join(transform(sequence(1, nr - 1), r -> concat('<tr>', "
        "array_join(transform(sequence(0, nc - 1), c -> "
        f"concat('<td>', {v.format(r='r', c='c')}, '</td>')), ''), '</tr>')), '')"
    )
    html = f"concat('<table>', {row0}, {rest}, '</table>')"
    d = d.withColumn(
        "text",
        F.when(F.pmod("doc_id", F.lit(11)) == 3, F.col("text")).otherwise(F.expr(html)),
    ).withColumn(
        "tool",
        F.when(F.pmod("doc_id", F.lit(11)) == 3, F.lit("text/plain")).otherwise(
            F.lit("text/html")
        ),
    )
    # Skewed conversation mapping: ~1/17 of turns pile onto one heavy conv.
    return d.select(
        F.when(F.pmod("idx", F.lit(17)) == 0, F.lit("c_heavy"))
        .otherwise(F.concat(F.lit("c"), F.pmod("idx", F.lit(_N_CONVS))))
        .alias("conv_id"),
        F.col("idx").cast("int").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        "text",
        "tool",
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )
