"""Output checks against the planted truth.

Each checker is a pure function from what the engine produced (already
collected to Python) to a ``Verdict``. A well-formed input whose output
differs from the truth counts as failed; a malformed payload that yields
no table rows counts as rejected.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Verdict:
    attempted: int = 0
    failed: int = 0
    rejected: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        if len(self.problems) < 5:
            self.problems.append(why)

    def merge(self, other: "Verdict") -> "Verdict":
        self.attempted += other.attempted
        self.failed += other.failed
        self.rejected += other.rejected
        self.problems.extend(other.problems[: max(0, 5 - len(self.problems))])
        return self


def check_documents(
    observed: dict[int, tuple[int, int, int]],
    expected: dict[int, tuple[int, int, int]],
    turns_per_doc: int,
) -> Verdict:
    """HTML turns: per document, (tables, cells, cell checksum) summed over
    its ``turns_per_doc`` turns must equal ``turns_per_doc`` × the planted
    values. Every turn of a mismatched document counts as failed."""
    v = Verdict(attempted=len(expected) * turns_per_doc)
    for doc_id, (tables, cells, checksum) in expected.items():
        want = (tables * turns_per_doc, cells * turns_per_doc, checksum * turns_per_doc)
        got = observed.get(doc_id, (0, 0, 0))
        if tuple(got) != want:
            v.fail(turns_per_doc, f"doc {doc_id}: got {tuple(got)}, want {want}")
    extra = set(observed) - set(expected)
    if extra:
        v.fail(len(extra) * turns_per_doc, f"output for unplanted docs {sorted(extra)[:3]}")
    return v


def check_payloads(
    truth: list,
    observed: dict[int, list[list[list[str | None]]]],
    errors: set[int] | None = None,
) -> Verdict:
    """Page payloads: ``observed[i]`` is the list of cell-value grids the
    engine returned for payload ``i`` (in table order); it must equal the
    planted grids exactly, shape and text. ``errors`` holds the payloads
    that produced an error marker; a malformed payload is rejected when it
    yields no tables (and, where markers are collected, a marker)."""
    v = Verdict(attempted=len(truth))
    for i, p in enumerate(truth):
        got = observed.get(i, [])
        if p.malformed:
            if got:
                v.fail(1, f"payload {i} ({p.kind}): malformed but produced {len(got)} tables")
            elif errors is not None and i not in errors:
                v.fail(1, f"payload {i} ({p.kind}): malformed but no error marker")
            else:
                v.rejected += 1
            continue
        if got != p.tables:
            v.fail(1, f"payload {i} ({p.kind}): got {_shape(got)}, want {_shape(p.tables)}")
    return v


def _shape(grids) -> list:
    return [(len(g), len(g[0]) if g else 0) for g in grids]


def check_job(
    manifests: dict[int, dict],
    reread: dict[int, tuple[int, int, int]],
    expected: dict,
    n_buckets: int,
) -> Verdict:
    """Resumable job: every bucket has a manifest; each manifest's
    (n_tables, n_cells, checksum) equals a direct re-read of the output;
    totals equal the planted tables and cells; every malformed payload is
    counted in ``n_errors`` (rejected) and nothing else is."""
    v = Verdict(attempted=expected["turns"])
    missing = [b for b in range(n_buckets) if b not in manifests]
    if missing:
        v.fail(expected["turns"], f"no manifest for buckets {missing[:5]}")
        return v
    for b, m in sorted(manifests.items()):
        got = (int(m["n_tables"]), int(m["n_cells"]), int(m["checksum"]))
        want = reread.get(b, (0, 0, 0))
        if got != want:
            v.fail(int(m["n_turns"]), f"bucket {b}: manifest {got} != output re-read {want}")
    tables = sum(int(m["n_tables"]) for m in manifests.values())
    cells = sum(int(m["n_cells"]) for m in manifests.values())
    turns = sum(int(m["n_turns"]) for m in manifests.values())
    errors = sum(int(m["n_errors"]) for m in manifests.values())
    if (tables, cells) != (expected["tables"], expected["cells"]):
        v.fail(1, f"totals: {tables} tables / {cells} cells, want {expected['tables']} / {expected['cells']}")
    if turns != expected["turns"]:
        v.fail(abs(turns - expected["turns"]) or 1, f"manifests count {turns} turns, want {expected['turns']}")
    if errors != expected["malformed"]:
        v.fail(abs(errors - expected["malformed"]), f"{errors} error rows, want {expected['malformed']}")
    v.rejected = min(errors, expected["malformed"])
    return v
