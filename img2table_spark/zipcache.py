"""Re-read a zip archive's directory on ``invalidate_caches()`` only when the
archive changed.

PySpark's worker runs ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py:setup_spark_files``). On CPython 3.11,
``zipimport.zipimporter.invalidate_caches`` eagerly parses the whole archive
directory again, once for every cached importer. A worker holds about 16
importers for paths inside ``pyspark.zip`` and the py4j zip, so each task
parses ~26,700 zip entries: 0.3-0.5 s of fixed cost per Python task on a
4-CPU box, whatever the row count.

``install()`` keys every directory read by the archive's ``os.stat``
``(st_mtime_ns, st_size)``, taken just before the read. When that key is
unchanged and ``zipimport._zip_directory_cache`` holds the archive, an
importer's ``invalidate_caches`` takes the cached directory. Anything else
(a changed archive, a failed ``stat``, no cache entry) runs the original
method, ZipImportError branch included, and the directory it reads is then
shared by the archive's other importers. On interpreters whose
``invalidate_caches`` no longer reads eagerly, nothing is installed.
"""

from __future__ import annotations

import os
import sys
import zipimport


def installed() -> bool:
    """Whether ``zipimporter.invalidate_caches`` is this module's version."""
    return getattr(zipimport.zipimporter.invalidate_caches, "__module__", None) == __name__


def _stat_key(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> bool:
    """Install the stat-keyed directory cache once per interpreter.

    Returns whether it is installed. A second call changes nothing."""
    if installed():
        return True
    read = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches
    names = getattr(getattr(invalidate, "__code__", None), "co_names", ())
    if "_read_directory" not in names or "_files" not in names:
        return False  # lazy or unknown body: leave it alone
    keys: dict[str, tuple[int, int]] = {}

    def _read_directory(archive):
        keys.pop(archive, None)
        key = _stat_key(archive)
        files = read(archive)
        if key is not None:
            keys[archive] = key
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        key = keys.get(self.archive)
        if files is not None and key is not None and key == _stat_key(self.archive):
            self._files = files
        else:
            invalidate(self)

    invalidate_caches.__doc__ = invalidate.__doc__
    invalidate_caches.__wrapped__ = invalidate
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # Directories cached before now carry no key: read each archive once
    # more so that later calls re-read it only when it changes.
    seen = set()
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive not in seen:
            seen.add(finder.archive)
            finder.invalidate_caches()
    return True
