"""Re-read a zip archive on ``invalidate_caches()`` only when it changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` once per
task, after it adds the task's ``--py-files`` to ``sys.path``. Before
CPython 3.13, every ``zipimporter`` answers that call by reading its
archive's whole central directory again. With ``pyspark.zip`` (about
1 300 files) and the Spark core jar on the worker's path, that is a
fixed cost of 0.1-0.2 s per task before the task's function runs
(4-vCPU x86 host, CPython 3.11). CPython 3.13 already makes the method
lazy: it only drops the cache entry.

``install`` replaces ``zipimporter.invalidate_caches`` with a version
that stamps each archive with ``(st_mtime_ns, st_size)``. It re-reads an
archive the first time it sees it and whenever the stamp differs;
otherwise it keeps the directory cached in
``zipimport._zip_directory_cache``. A worker is a long-lived process
that serves many tasks, so the replacement stays for its lifetime.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _reread(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stat before the read: a change racing the read leaves an older
    # stamp, so the next call reads the archive again
    _reread(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimport.zipimporter`` for this process (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
