"""The worker-side zip directory cache (``raquet_spark._cache_zip_directories``).

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task; on CPython 3.11 that re-reads the central directory of
every zip on the worker's path once per importer. Inside a worker the
hook re-reads an archive only when it changed on disk, once for all of
its importers.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import raquet_spark

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 needs no hook"
)


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def worker_state(monkeypatch):
    """This process posing as a PySpark worker; the stock
    ``invalidate_caches`` is restored afterwards."""
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    return monkeypatch


def test_unchanged_archive_is_not_reread(tmp_path, worker_state):
    archive = tmp_path / "zdc.zip"
    _write_zip(archive, {"zdc_pkg/__init__.py": "", "zdc_pkg/a.py": "A = 1\n"})
    worker_state.syspath_prepend(str(archive))
    try:
        import zdc_pkg.a  # two importers: the archive and zdc_pkg/ inside it

        assert zdc_pkg.a.A == 1
        path = sys.path_importer_cache[str(archive)].archive
        reads: list[str] = []
        read = zipimport._read_directory
        worker_state.setattr(
            zipimport, "_read_directory", lambda p: reads.append(p) or read(p)
        )

        def rereads() -> int:
            reads.clear()
            importlib.invalidate_caches()
            return reads.count(path)

        assert rereads() == 2  # stock: once per importer

        raquet_spark._cache_zip_directories()
        hook = zipimport.zipimporter.invalidate_caches
        assert hasattr(hook, "stamps")
        raquet_spark._cache_zip_directories()
        assert zipimport.zipimporter.invalidate_caches is hook  # idempotent

        assert rereads() == 1  # first call: one read, shared
        assert rereads() == 0
        assert rereads() == 0

        _write_zip(archive, {
            "zdc_pkg/__init__.py": "",
            "zdc_pkg/a.py": "A = 1\n",
            "zdc_pkg/b.py": "B = 2\n",
        })
        assert rereads() == 1  # changed on disk: one read for both importers
        import zdc_pkg.b

        assert zdc_pkg.b.B == 2
        assert rereads() == 0
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zdc_pkg"]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(str(archive))]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(str(archive), None)


def test_no_hook_on_the_driver_or_newer_python(worker_state):
    from pyspark.core.files import SparkFiles

    stock = zipimport.zipimporter.invalidate_caches
    worker_state.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    raquet_spark._cache_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is stock
    worker_state.undo()

    assert not SparkFiles._is_running_on_worker
    raquet_spark._cache_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_workers_install_the_hook(spark):
    """After a raquet_spark UDF has run, a worker that imported
    raquet_spark has the hook; the driver keeps the stdlib method."""
    from raquet_spark.session import ensure_package_shipped
    from raquet_spark.testing import make_synthetic_raster

    ensure_package_shipped(spark)
    tiles, _ = make_synthetic_raster(spark, tiles_x=2, tiles_y=2, block_size=8)
    assert tiles.count() == 4

    def report(batches):
        import zipimport

        import pandas as pd

        import raquet_spark  # noqa: F401

        for _ in batches:
            hook = zipimport.zipimporter.invalidate_caches
            yield pd.DataFrame({"hooked": [hasattr(hook, "stamps")]})

    rows = spark.range(4, numPartitions=4).mapInPandas(
        report, "hooked boolean"
    ).collect()
    assert rows and all(r["hooked"] for r in rows)

    stock = zipimport.zipimporter.invalidate_caches
    assert stock.__module__ == "zipimport" and not hasattr(stock, "stamps")
