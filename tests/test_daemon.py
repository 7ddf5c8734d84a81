"""The worker daemon's zip re-read guard (``daemon.guard_zip_rereads``).

Every Spark Python task calls ``importlib.invalidate_caches()``; without the
guard each zip importer on the worker's ``sys.path`` re-reads its archive's
whole central directory. These tests check, without timing, that a worker
forked from the package daemon re-reads no unchanged archive, and (Spark-free)
that a rewritten archive is still re-read while an unchanged one is not.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from embulk_input_parquet_hadoop_spark import daemon


def test_worker_invalidate_caches_rereads_no_zip(spark):
    # nested so cloudpickle ships it by value (the worker cannot import
    # this test module)
    def zip_rereads_in_task(_rows):
        importers = [v for v in sys.path_importer_cache.values()
                     if isinstance(v, zipimport.zipimporter)]
        before = [imp._files for imp in importers]
        importlib.invalidate_caches()
        yield len(importers), sum(imp._files is files
                                  for imp, files in zip(importers, before))

    sc = spark.sparkContext
    [(n_importers, n_kept)] = (sc.parallelize([0], 1)
                               .mapPartitions(zip_rereads_in_task).collect())
    # the worker imports pyspark from pyspark.zip, so the check is not vacuous
    assert n_importers > 0
    assert n_kept == n_importers
    assert sc.parallelize(range(4), 2).map(lambda x: x * x).sum() == 14


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def guarded_zip_on_path(tmp_path, monkeypatch):
    """A zip of one module on ``sys.path``, imported once, with the guard
    installed; everything is restored at teardown."""
    zpath = str(tmp_path / "pkgs.zip")
    _write_zip(zpath, {"zguard_a": "A = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(zpath)
    for name in ("zguard_a", "zguard_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("zguard_a")
    daemon.guard_zip_rereads()
    yield zpath
    for name in ("zguard_a", "zguard_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(zpath, None)


def test_guard_skips_unchanged_archive(guarded_zip_on_path, monkeypatch):
    importer = sys.path_importer_cache[guarded_zip_on_path]
    files = importer._files
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive)
                        or read_directory(archive))
    importlib.invalidate_caches()
    assert reads == []
    assert importer._files is files


def test_guard_rereads_rewritten_archive(guarded_zip_on_path):
    with pytest.raises(ImportError):
        importlib.import_module("zguard_b")
    _write_zip(guarded_zip_on_path, {"zguard_a": "A = 1\n",
                                     "zguard_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zguard_b").B == 2
