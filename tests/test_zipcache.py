"""The zip-directory cache installed by ``import skyway_spark``: an
unchanged archive is not re-read on ``importlib.invalidate_caches()``,
a changed one is, and a reused Python worker keeps the patch."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import skyway_spark  # noqa: F401  (installs the patch)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is already lazy; nothing is installed",
)


def test_invalidate_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipcache_probe_a.py", "A = 1\n")
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zipcache_probe_a").A == 1
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        # read once on first sight, then served from the cache
        assert reads.count(str(archive)) == 1

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("zipcache_probe_b.py", "B = 2\n")
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 2
        assert importlib.import_module("zipcache_probe_b").B == 2
    finally:
        for name in ("zipcache_probe_a", "zipcache_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_reused_python_worker_keeps_the_patch(spark):
    def probe(batches):
        import os
        import sys
        import zipimport

        from skyway_spark import _zipcache

        archives = {
            imp.archive
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
        }
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "pid": [os.getpid()],
                "installed": [
                    zipimport.zipimporter.invalidate_caches is _zipcache._invalidate_caches
                ],
                "n_archives": [len(archives)],
                "all_stamped": [archives <= set(_zipcache._stamps)],
            }
        )

    df = spark.range(1, numPartitions=1)
    schema = "pid long, installed boolean, n_archives long, all_stamped boolean"
    # earlier tests can leave many idle workers, and each run may get
    # another one of them before a pid comes back
    seen, reused = set(), []
    for _ in range(40):
        (r,) = df.mapInArrow(probe, schema).collect()
        assert r["installed"]
        if r["pid"] in seen:
            reused.append(r)
            if len(reused) == 2:
                break
        seen.add(r["pid"])
    assert reused, "no Python worker was reused"
    # the task's own invalidate_caches() call, made before its function
    # was unpickled, went through the patch for every archive on the path
    for r in reused:
        assert r["n_archives"] > 0 and r["all_stamped"]
