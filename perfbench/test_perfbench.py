"""Tests of the benchmark itself: seeded inputs, the output checkers and the
metric names. Run from the root of a checkout:

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import json
import re
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import check  # noqa: E402
import gen  # noqa: E402
import ledger  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _files(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for k in ("a", "b"):
        gen.write_documents(7, tmp_path / k / "sf", n_docs=200)
        light = gen.pixel_payloads(7, light=True)
        rows, _ = gen.job_rows(7, 300, light)
        gen.write_job_table(rows, tmp_path / k / "job")
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert [p.text for p in gen.pixel_payloads(7)] == [p.text for p in gen.pixel_payloads(7)]


def test_another_seed_gives_other_inputs():
    assert gen.documents(7, 50) != gen.documents(8, 50)
    assert [p.text for p in gen.pixel_payloads(7, light=True)] != [
        p.text for p in gen.pixel_payloads(8, light=True)
    ]


def test_every_hocr_line_carries_an_id():
    hocr = json.loads(gen.pixel_payloads(3, light=True)[0].text)["hocr"]
    lines = re.findall(r'<span class="ocr_line"([^>]*)>', hocr)
    assert lines and all(' id="' in attrs for attrs in lines)


def test_payload_checker_flags_a_planted_wrong_cell():
    truth = gen.pixel_payloads(5, light=True)
    observed = {i: copy.deepcopy(p.tables) for i, p in enumerate(truth) if not p.malformed}
    errors = {i for i, p in enumerate(truth) if p.malformed}
    ok = check.check_payloads(truth, observed, errors)
    assert (ok.attempted, ok.failed, ok.rejected) == (len(truth), 0, 2)

    observed[0][0][1][1] = "wrong"
    bad = check.check_payloads(truth, observed, errors)
    assert bad.failed == 1 and "payload 0" in bad.problems[0]


def test_payload_checker_fails_a_malformed_payload_that_yields_tables():
    truth = gen.pixel_payloads(5, light=True)
    observed = {i: p.tables or [[["x"]]] for i, p in enumerate(truth)}
    v = check.check_payloads(truth, observed, set())
    assert (v.failed, v.rejected) == (2, 0)


def test_document_checker_flags_a_planted_wrong_cell():
    seed, n_docs, turns_per_doc = 9, 60, 4
    want = gen.expected_documents(seed, n_docs)
    observed = {d: tuple(x * turns_per_doc for x in v) for d, v in want.items()}
    assert check.check_documents(observed, want, turns_per_doc).failed == 0

    doc_id, text = gen.documents(seed, n_docs)[1]
    grid = gen.expected_doc_grid(doc_id, text)
    wrong = gen.cell_hash(doc_id, 0, 0, "wrong") - gen.cell_hash(doc_id, 0, 0, grid[0][0])
    t, c, h = observed[doc_id]
    observed[doc_id] = (t, c, h + wrong)
    v = check.check_documents(observed, want, turns_per_doc)
    assert v.failed == turns_per_doc and f"doc {doc_id}" in v.problems[0]


def test_job_checker_flags_a_manifest_that_disagrees_with_the_output():
    expected = {"turns": 6, "payloads": 5, "tables": 3, "cells": 12, "malformed": 1}
    manifests = {
        0: {"n_turns": 3, "n_tables": 2, "n_cells": 8, "checksum": 11, "n_errors": 1},
        1: {"n_turns": 3, "n_tables": 1, "n_cells": 4, "checksum": 22, "n_errors": 0},
    }
    reread = {0: (2, 8, 11), 1: (1, 4, 22)}
    ok = check.check_job(manifests, reread, expected, 2)
    assert (ok.failed, ok.rejected) == (0, 1)

    reread[1] = (1, 4, 23)
    assert check.check_job(manifests, reread, expected, 2).failed == 3
    del manifests[1]
    assert check.check_job(manifests, {0: (2, 8, 11)}, expected, 2).failed == 6


def test_metric_and_workload_names():
    names = [*run.END_TO_END, *ledger.PER_LAYER, *run.WORKLOAD_NAMES]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))


def test_benchmark_json_matches_the_code():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == ledger.PER_LAYER
