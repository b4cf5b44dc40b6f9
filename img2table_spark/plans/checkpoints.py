"""Per-partition checkpoint manifests (north_rule resumability).

One JSON manifest per conv_id-hash bucket, written atomically (tmp + rename)
AFTER that bucket's output partition is durably written. A restart reads the
manifest directory and skips committed buckets, so work is re-done only for
buckets whose wave was interrupted mid-write (their output partitions are
then overwritten via dynamic partition overwrite — idempotent).

Manifest payload carries lineage + extraction metrics:
  bucket, input_path, app_id, wave, n_turns, n_payload_turns, n_tables,
  n_cells, n_errors, checksum (order-insensitive sum of cell-value hashes),
  wall_s, committed_at.

The metrics are ``DataFrame.observe`` results of the wave's two actions
(``plans/pipeline.py``):
  - the write observes its salted input for n_turns and n_payload_turns
    (``operators.extract.payload_tool``), and the extractor's output for
    n_errors (error-marker rows, ``table_idx < 0``, which are not written);
  - the scan of the committed output observes n_tables (rows), n_cells
    (``sum(size(cells))``) and checksum (the decimal(38,0) sum of
    ``xxhash64(conv_id, turn_idx, row, col, value)`` over every cell, taken
    mod 2^63).
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from pathlib import Path

MANIFEST_PREFIX = "bucket-"


def manifest_path(checkpoint_dir: str, bucket: int) -> Path:
    return Path(checkpoint_dir) / f"{MANIFEST_PREFIX}{bucket:05d}.json"


def read_committed(checkpoint_dir: str) -> dict[int, dict]:
    """bucket -> manifest for every committed bucket."""
    out: dict[int, dict] = {}
    d = Path(checkpoint_dir)
    if not d.exists():
        return out
    for p in sorted(d.glob(f"{MANIFEST_PREFIX}*.json")):
        try:
            with open(p) as f:
                m = json.load(f)
            out[int(m["bucket"])] = m
        except (json.JSONDecodeError, KeyError, ValueError):
            # torn/corrupt manifest == not committed; it will be rewritten
            continue
    return out


def write_manifest(checkpoint_dir: str, bucket: int, payload: dict) -> None:
    d = Path(checkpoint_dir)
    d.mkdir(parents=True, exist_ok=True)
    payload = dict(payload, bucket=bucket, committed_at=time.time())
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".tmp-manifest-")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, manifest_path(checkpoint_dir, bucket))
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
