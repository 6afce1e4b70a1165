"""The zip-directory guard (``smartglass_ocr_spark.zipcache``): an
unchanged archive is not re-read on ``importlib.invalidate_caches()``,
a rewritten one is, and inside a Spark worker the guard is in place
from the package's first import."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from smartglass_ocr_spark import zipcache

_MOD = "zipcache_probe_mod"


def _write_zip(path, source: str) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{_MOD}.py", source)
    os.replace(tmp, path)


def _import_fresh():
    sys.modules.pop(_MOD, None)
    return importlib.import_module(_MOD)


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path, monkeypatch):
    # restore the stock method and the stamps whatever install() does
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(zipcache, "_read_stamps", {})
    archive = tmp_path / "probe.zip"
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert _import_fresh().VALUE == 1
        zipcache.install()
        calls: list[str] = []
        stock = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda archive: calls.append(archive) or stock(archive))

        importlib.invalidate_caches()
        assert calls == []
        assert _import_fresh().VALUE == 1

        _write_zip(archive, "VALUE = 2\n")  # same size, new inode
        importlib.invalidate_caches()
        assert str(archive) in calls
        assert _import_fresh().VALUE == 2

        calls.clear()
        importlib.invalidate_caches()
        assert calls == []

        archive.unlink()  # a missing archive takes the stock path
        importlib.invalidate_caches()
        assert str(archive) in calls
        assert str(archive) not in zipcache._read_stamps
    finally:
        sys.modules.pop(_MOD, None)


def test_driver_does_not_install(spark):
    zipcache.install_in_worker()
    assert zipimport.zipimporter.invalidate_caches is not zipcache._invalidate_if_changed


def test_worker_task_setup_rereads_no_unchanged_zip(spark):
    """Each run of a Python stage that imports the package reports, from
    inside the worker, how many zip directories the next task's set-up
    (``importlib.invalidate_caches()``, as ``setup_spark_files`` calls
    it) re-reads; the second run's answer is 0."""

    def probe(batches):
        import zipimport as zi

        import pandas as pd

        import smartglass_ocr_spark.pipeline  # noqa: F401  as every program stage does

        for _ in batches:
            pass
        importers = sum(isinstance(f, zi.zipimporter)
                        for f in sys.path_importer_cache.values())
        calls = []
        stock = zi._read_directory

        def counting(archive):
            calls.append(archive)
            return stock(archive)

        zi._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zi._read_directory = stock
        yield pd.DataFrame({"importers": [importers], "reads": [len(calls)]})

    df = spark.range(1, numPartitions=1)
    schema = "importers long, reads long"
    runs = [df.mapInPandas(probe, schema).collect()[0] for _ in range(2)]
    if runs[1].importers == 0:
        pytest.skip("the Python worker has no zip on its path")
    assert runs[1].reads == 0
