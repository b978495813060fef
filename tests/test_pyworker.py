"""The Python-worker set-up (n5_dask_spark/_pyworker.py): reused workers
re-read a zip archive's directory only when the archive changed, and
freeze their heap once the libraries every kernel uses are imported."""

from __future__ import annotations

import gc
import importlib
import sys
import zipfile
import zipimport

import pytest

from n5_dask_spark import _pyworker


def test_gate_is_installed_in_workers_not_on_the_driver(spark):
    from n5_dask_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)

    def kernel(batches):
        import zipimport

        import n5_dask_spark._pyworker as pw

        patched = zipimport.zipimporter.invalidate_caches is pw._invalidate_if_changed
        for pdf in batches:
            yield pdf.assign(patched=patched)

    rows = (
        spark.range(0, 8, 1, 4)
        .mapInPandas(kernel, "id long, patched boolean")
        .collect()
    )
    assert len(rows) == 8 and all(r.patched for r in rows)
    assert not _pyworker.in_pyspark_worker()
    assert zipimport.zipimporter.invalidate_caches is _pyworker._read_directory


def test_worker_heap_is_frozen_not_the_drivers(spark):
    from n5_dask_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    driver_frozen = gc.get_freeze_count()

    def kernel(batches):
        import gc

        import n5_dask_spark  # noqa: F401  (a kernel's unpickling imports it)

        for pdf in batches:
            yield pdf.assign(frozen=gc.get_freeze_count())

    rows = (
        spark.range(0, 8, 1, 4)
        .mapInPandas(kernel, "id long, frozen long")
        .collect()
    )
    assert len(rows) == 8 and all(r.frozen > 0 for r in rows)
    assert gc.get_freeze_count() == driver_frozen


@pytest.fixture
def gated(monkeypatch):
    """Install the gate for one test (monkeypatch restores Python's method)
    and count the directory reads it hands on."""
    reads: list[str] = []
    original = _pyworker._read_directory

    def counting(self):
        reads.append(self.archive)
        original(self)

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(_pyworker, "_read_directory", counting)
    monkeypatch.setattr(gc, "freeze", lambda: None)  # the test process stays unfrozen
    _pyworker.install()
    return reads


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, gated):
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, {"n5ds_zip_a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    assert gated == [archive]
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert gated == [archive]


def test_archive_rewritten_in_place_is_reread(tmp_path, monkeypatch, gated):
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, {"n5ds_zip_b": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("n5ds_zip_b", "n5ds_zip_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import n5ds_zip_b

    importer = sys.path_importer_cache[archive]
    importlib.invalidate_caches()
    _write_zip(archive, {"n5ds_zip_b": "X = 1\n", "n5ds_zip_c": "Y = 2\n"})
    importlib.invalidate_caches()
    import n5ds_zip_c

    assert sys.path_importer_cache[archive] is importer
    assert n5ds_zip_b.X == 1 and n5ds_zip_c.Y == 2
    assert n5ds_zip_c.__loader__ is importer
