"""The worker-side zip reload guard (``sketchlib.zipcache``): an archive
on ``sys.path`` is re-read by ``importlib.invalidate_caches()`` only when
it changed, in PySpark workers on CPython < 3.12, and nowhere else."""

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pandas as pd

from sketchlib import zipcache


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def _force_on(monkeypatch) -> None:
    """Install the guard as a worker would; undone after the test."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setitem(sys.modules, "pyspark.worker",
                        types.ModuleType("pyspark.worker"))
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is zipcache.invalidate_caches


def _spy_reads(monkeypatch) -> list:
    """Archive paths whose directory ``zipimport`` reads from now on."""
    reads = []
    real = zipimport._read_directory

    def spy(archive):
        reads.append(archive)
        return real(archive)
    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "pkgs.zip")
    _write_zip(archive, {"zipcache_old_mod": "X = 1\n"})
    _force_on(monkeypatch)
    monkeypatch.syspath_prepend(archive)
    try:
        importlib.import_module("zipcache_old_mod")
        importer = sys.path_importer_cache[archive]
        reads = _spy_reads(monkeypatch)
        # an importer made before the guard ran has no recorded stat
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1

        # a replaced archive (new inode, size, mtime) is read again
        _write_zip(archive + ".new", {"zipcache_old_mod": "X = 1\n",
                                      "zipcache_new_mod": "Y = 2\n"})
        os.replace(archive + ".new", archive)
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module("zipcache_new_mod").Y == 2
        importlib.invalidate_caches()
        assert reads.count(archive) == 2

        # a failing stat runs the stdlib reload, which empties the index
        os.remove(archive)
        importlib.invalidate_caches()
        assert reads.count(archive) == 3 and importer._files == {}
    finally:
        for name in ("zipcache_old_mod", "zipcache_new_mod"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_guard_is_off_on_the_driver_and_on_python_3_12(monkeypatch):
    # pytest is a driver: importing sketchlib left the stdlib reload
    assert zipimport.zipimporter.invalidate_caches is \
        zipcache._stdlib_invalidate
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    monkeypatch.setitem(sys.modules, "pyspark.worker",
                        types.ModuleType("pyspark.worker"))
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is \
        zipcache._stdlib_invalidate


def test_worker_task_rereads_no_unchanged_archive(spark):
    """In a Spark Python worker, after one warm-up reload, the reload a
    task makes re-reads none of the worker's zip archives (pyspark.zip
    and py4j among them), where the stdlib reload re-reads each."""
    def rereads(batches):
        import sketchlib  # noqa: F401  (installs the guard)
        from sketchlib import zipcache as zc
        for _ in batches:
            pass
        # the warm-up: the first reload since the guard was installed
        # reads each archive once. Done in this task, because Spark may
        # give the next task to another idle worker.
        importlib.invalidate_caches()
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter)]
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
            guarded = len(reads)
            for importer in importers:
                zc._stdlib_invalidate(importer)
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({"installed": [
            zipimport.zipimporter.invalidate_caches is zc.invalidate_caches],
            "importers": [len(importers)], "guarded": [guarded],
            "stdlib": [len(reads) - guarded]})

    schema = "installed boolean, importers int, guarded int, stdlib int"
    row = spark.range(1, numPartitions=1).mapInPandas(rereads, schema).first()
    assert row.installed and row.importers > 0, row
    assert row.guarded == 0 and row.stdlib == row.importers, row
