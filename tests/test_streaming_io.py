"""Every streaming twin reads and writes through ``streaming/io.py``.

Source-level checks (no Spark): stream readers, stream writers and the
trigger appear only in the I/O module, and no public ``stream_*`` entry
point grows a trigger flag back."""

import ast
from pathlib import Path

import img2table_spark.streaming as streaming_pkg

STREAMING = Path(streaming_pkg.__file__).parent
MODULES = sorted(p for p in STREAMING.glob("*.py") if p.name != "__init__.py")


def test_stream_io_only_in_io_module():
    assert (STREAMING / "io.py") in MODULES
    offenders = [
        f"{p.name}: {word}"
        for p in MODULES
        if p.name != "io.py"
        for word in ("readStream", "writeStream", "availableNow")
        if word in p.read_text()
    ]
    assert not offenders, offenders


def test_no_stream_entry_point_takes_available_now():
    entry_points = {}
    for p in MODULES:
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, ast.FunctionDef) and node.name.startswith("stream_"):
                a = node.args
                entry_points[f"{p.stem}.{node.name}"] = {
                    x.arg for x in (*a.posonlyargs, *a.args, *a.kwonlyargs)
                }
    assert len(entry_points) == 19, sorted(entry_points)
    flagged = sorted(name for name, args in entry_points.items() if "available_now" in args)
    assert not flagged, flagged
