"""The stat-guarded zip directory reload (easy_solr4files_index_spark/
zipguard.py): in-process on a temp archive, and inside the engine's
PySpark workers, where it removes the per-task re-read of every
zipimporter's archive directory."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from easy_solr4files_index_spark.operators.wand import search
from easy_solr4files_index_spark.zipguard import install_zip_guard

guarded_python = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy on Python >= 3.13")


def _write_zip(path: str, modules: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def _guarded(*archives: str) -> list:
    """Importers of a zipimporter subclass that then gets the guard, as
    in a worker: the importers exist and their archives are cached when
    the package is first imported. The subclass keeps the process-wide
    zipimporter the stdlib one."""
    class GuardedZip(zipimport.zipimporter):
        pass
    importers = [GuardedZip(a) for a in archives]
    assert install_zip_guard(GuardedZip)
    return importers


@pytest.fixture
def archive(tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zg_old": "X = 1\n"})
    yield path
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@guarded_python
def test_unchanged_archive_is_not_reread(archive, reads):
    importers = _guarded(archive, archive)
    assert len(reads) == 1  # the first constructor's read
    for imp in importers:
        imp.invalidate_caches()
        assert "zg_old.py" in imp._files
    assert len(reads) == 1


@guarded_python
def test_rewritten_archive_is_reread_and_new_module_imports(
        archive, reads, monkeypatch):
    [imp] = _guarded(archive)
    _write_zip(archive, {"zg_old": "X = 1\n", "zg_new": "X = 2\n"})
    imp.invalidate_caches()
    assert reads == [archive, archive]
    assert "zg_new.py" in imp._files
    # a second call on the rewritten, now unchanged archive reads nothing
    imp.invalidate_caches()
    assert reads == [archive, archive]

    monkeypatch.setitem(sys.path_importer_cache, archive, imp)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zg_new").X == 2
    finally:
        sys.modules.pop("zg_new", None)


@guarded_python
def test_deleted_archive_falls_back_to_stdlib(archive):
    [imp] = _guarded(archive)
    os.remove(archive)
    imp.invalidate_caches()
    assert imp._files == {}
    assert archive not in zipimport._zip_directory_cache


@guarded_python
def test_install_is_idempotent(archive):
    [imp] = _guarded(archive)
    cls = type(imp)
    assert install_zip_guard(cls)
    assert cls.invalidate_caches.__wrapped__ is zipimport.zipimporter.invalidate_caches


def test_worker_does_not_reread_archives_per_task(spark, code_index):
    """After an engine query, the importers in a worker re-read no
    archive directory on importlib.invalidate_caches() (the call
    PySpark makes at the start of every task); without the guard
    Python 3.11 re-reads one directory per zipimporter, 16 in all."""
    _, idx = code_index
    search(idx, "parse merge", k=3).page.collect()

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import easy_solr4files_index_spark  # noqa: F401 (installs the guard)

        for _ in batches:
            pass
        seen = []
        real = zipimport._read_directory

        def counting(path):
            seen.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        yield pd.DataFrame({"reads": [len(seen)], "importers": [n_zip]})

    rows = (spark.range(0, 8, numPartitions=4)
            .mapInPandas(probe, "reads long, importers long").collect())
    assert len(rows) == 4
    assert all(r["importers"] > 0 for r in rows), rows
    assert [r["reads"] for r in rows] == [0, 0, 0, 0]
    # the driver keeps the stdlib method
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
