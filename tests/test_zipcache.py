"""The stat-keyed ``zipimporter.invalidate_caches`` (``img2table_spark.zipcache``):
an unchanged archive is not re-read, a changed one is re-read once, a
deleted one leaves empty directories, and reused Spark workers keep it."""

import importlib
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

import img2table_spark  # noqa: F401  (installs the shim)
from img2table_spark import zipcache

PKG = "i2t_zipcache_probe"


def _write_archive(path, extra=False):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "TOP = 0\n")
        for sub in ("a", "b"):
            z.writestr(f"{PKG}/{sub}/__init__.py", "")
            z.writestr(f"{PKG}/{sub}/mod.py", f"NAME = {sub!r}\n")
        if extra:
            z.writestr(f"{PKG}/b/late.py", "LATE = 1\n")


@pytest.fixture
def archive(tmp_path):
    """A zip holding a package with two subpackages, imported from all three
    (four importers: the sys.path entry and one per package directory)."""
    path = str(tmp_path / "probe.zip")
    _write_archive(path)
    saved_path = list(sys.path)
    sys.path.insert(0, path)
    try:
        for name in (PKG, f"{PKG}.a.mod", f"{PKG}.b.mod"):
            importlib.import_module(name)
        yield path
    finally:
        sys.path[:] = saved_path
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(path, None)


def _importers(path):
    return [
        f
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == path
    ]


def _reads(monkeypatch, path, call):
    """Calls to ``zipimport._read_directory`` for ``path`` made by ``call()``."""
    seen = []
    original = zipimport._read_directory

    def counted(archive):
        if archive == path:
            seen.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    call()
    monkeypatch.setattr(zipimport, "_read_directory", original)
    return len(seen)


def _eager_interpreter() -> bool:
    """Whether this interpreter's own ``invalidate_caches`` re-reads the
    directory, which is where the shim must be installed."""
    method = zipimport.zipimporter.invalidate_caches
    method = getattr(method, "__wrapped__", method)
    return "_read_directory" in method.__code__.co_names


needs_shim = pytest.mark.skipif(
    not _eager_interpreter(), reason="zipimporter reads lazily on this interpreter"
)


@needs_shim
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    importers = _importers(archive)
    assert len(importers) == 4
    assert _reads(monkeypatch, archive, importlib.invalidate_caches) == 0
    assert _reads(monkeypatch, archive, importlib.invalidate_caches) == 0
    original = zipimport.zipimporter.invalidate_caches.__wrapped__

    def unshimmed():
        for f in importers:
            original(f)

    # What the shim removes: one full parse per cached importer.
    assert _reads(monkeypatch, archive, unshimmed) == 4
    assert _reads(monkeypatch, archive, importlib.invalidate_caches) == 0
    cached = zipimport._zip_directory_cache[archive]
    assert all(f._files is cached for f in importers)


@needs_shim
def test_changed_archive_is_reread_once(archive, monkeypatch):
    _write_archive(archive, extra=True)
    assert _reads(monkeypatch, archive, importlib.invalidate_caches) == 1
    assert importlib.import_module(f"{PKG}.b.late").LATE == 1
    cached = zipimport._zip_directory_cache[archive]
    assert all(f._files is cached for f in _importers(archive))


@needs_shim
def test_deleted_archive_leaves_empty_directories(archive, tmp_path):
    importers = _importers(archive)
    (tmp_path / "probe.zip").unlink()
    importlib.invalidate_caches()
    assert [f._files for f in importers] == [{}] * len(importers)
    assert archive not in zipimport._zip_directory_cache


@needs_shim
def test_install_keys_archives_read_before_it(tmp_path):
    """A worker reads pyspark.zip before it imports the engine: install()
    keys those archives, so the next invalidate_caches() reads nothing."""
    path = str(tmp_path / "probe.zip")
    _write_archive(path)
    script = f"""
import importlib, sys, zipimport
sys.path.insert(0, {path!r})
import {PKG}.a.mod, {PKG}.b.mod
import img2table_spark
reads = []
read = zipimport._read_directory
zipimport._read_directory = lambda archive: reads.append(archive) or read(archive)
importlib.invalidate_caches()
print(len(reads))
"""
    root = str(Path(img2table_spark.__file__).resolve().parents[1])
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=root, capture_output=True, text=True, check=True
    )
    assert out.stdout.split() == ["0"]


def test_install_twice_and_lazy_interpreters(monkeypatch):
    current = zipimport.zipimporter.invalidate_caches
    assert zipcache.install() is zipcache.installed() is _eager_interpreter()
    assert zipimport.zipimporter.invalidate_caches is current

    def lazy(self):  # the body of interpreters that read on first lookup
        zipimport._zip_directory_cache.pop(self.archive, None)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", lazy)
    assert zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is lazy


def test_reused_spark_workers_keep_the_shim(spark):
    from img2table_spark.operators.extract import extract_tables
    from img2table_spark.sources.transcripts import golden_transcripts_df

    def _probe_task(batches):
        """One row per task: worker pid, whether the shim is installed, the
        worker's zipimporters, and the directory reads one
        ``importlib.invalidate_caches()`` makes."""
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        from img2table_spark import zipcache

        reads = []
        original = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return original(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        for _ in batches:
            pass
        importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict(
            {
                "pid": [os.getpid()],
                "shim": [zipcache.installed()],
                "importers": [importers],
                "reads": [len(reads)],
            }
        )

    df, _ = golden_transcripts_df(spark, n_convs=4, turns_per_conv=4)
    extract_tables(df).count()
    ids = spark.range(64).repartition(8)
    schema = "pid long, shim boolean, importers long, reads long"
    runs = [ids.mapInArrow(_probe_task, schema).collect() for _ in range(2)]
    tasks = runs[0] + runs[1]
    assert len(tasks) == 16
    # Worker reuse (PySpark's default, kept by get_spark) is what lets the
    # shim outlive the task that installed it.
    assert {r.pid for r in runs[0]} & {r.pid for r in runs[1]}
    if not _eager_interpreter():
        pytest.skip("zipimporter reads lazily on this interpreter")
    assert all(r.shim for r in tasks)
    assert all(r.importers > 0 for r in tasks)
    assert [r.reads for r in tasks] == [0] * 16
