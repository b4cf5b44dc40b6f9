"""The 12 streaming twins, named in one place: each twin module and the
batch query whose output its stream reproduces (each module's own test
file holds the batch ≡ stream check).

``sessions``, ``dedup`` and ``extract_stream`` are streaming operators
outside the twin count, and ``io`` is the shared source and sink."""

import importlib
import inspect
import pkgutil

import img2table_spark.streaming as streaming
from img2table_spark.queries import QUERIES

TWINS = (
    ("funnel", "q36_funnel"),
    ("sft", "q44_sft_pairs"),
    ("burst", "q52_rolling_burst"),
    ("sketch", "q56_distinct_sketch"),
    ("cms", "q55_cms_heavy_hitters"),
    ("joins", "q30_range_join"),
    ("neardup", "q58_incremental_dedup"),
    ("histo", "q59_histogram_quantiles"),
    ("scd", "q90_scd2_intervals"),
    ("anomaly", "q103_rate_anomaly"),
    ("classify", "q101_lang_id"),
    ("drift", "q108_token_drift"),
)
NOT_TWINS = {"sessions", "dedup", "extract_stream", "io"}


def test_twelve_twins_each_mirror_a_query():
    assert len(TWINS) == 12
    assert len({m for m, _ in TWINS}) == 12
    assert len({q for _, q in TWINS}) == 12
    for _, query in TWINS:
        assert query in QUERIES, query


def test_each_twin_module_has_a_stream_function():
    for module, _ in TWINS:
        mod = importlib.import_module(f"img2table_spark.streaming.{module}")
        fns = [
            name for name, fn in inspect.getmembers(mod, inspect.isfunction)
            if name.startswith("stream_") and fn.__module__ == mod.__name__
        ]
        assert fns, module


def test_every_streaming_module_is_classified():
    modules = {m.name for m in pkgutil.iter_modules(streaming.__path__)}
    assert modules == {m for m, _ in TWINS} | NOT_TWINS
