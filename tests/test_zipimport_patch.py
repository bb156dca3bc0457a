"""``zipimporter.invalidate_caches`` re-reads an archive only when it
changed (``session.py``). No Spark session: these run with the
structural tests.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task. On CPython 3.11 each zipimporter then re-parses its archive's
whole directory, once per importer; with the patch an unchanged archive
costs a stat. A rewritten or missing archive must still be seen.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import time_series_prediction_spark.session as session

OLD_PYTHON = sys.version_info < (3, 12)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(name, body)


MODULES = {
    "zpkg/__init__.py": "",
    "zpkg/sub/__init__.py": "",
    "zpkg/sub/mod.py": "VALUE = 1\n",
}


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding ``zpkg.sub.mod`` on ``sys.path``, imported, so that
    three importers (the archive, ``zpkg/`` and ``zpkg/sub/``) share
    it; and a log of the ``_read_directory`` calls made on it."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, MODULES)
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    sys.path.insert(0, archive)
    try:
        importlib.import_module("zpkg.sub.mod")
        reads.clear()  # the import's own read
        yield archive, reads
    finally:
        sys.path.remove(archive)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
            del sys.modules[name]
        zipimport._zip_directory_cache.pop(archive, None)
        if OLD_PYTHON:
            session._ZIP_DIRECTORIES.pop(archive, None)


def _importers(archive: str) -> list:
    return [
        v for k, v in sys.path_importer_cache.items()
        if k.startswith(archive) and isinstance(v, zipimport.zipimporter)
    ]


@pytest.mark.skipif(not OLD_PYTHON, reason="CPython 3.12+ invalidates lazily")
def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    assert len(_importers(archive)) == 3
    # the first call records the archive's stat: one read for all
    # three importers, where the stdlib method reads once per importer
    importlib.invalidate_caches()
    assert len(reads) == 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("zpkg.sub.mod").VALUE == 1


@pytest.mark.skipif(not OLD_PYTHON, reason="CPython 3.12+ invalidates lazily")
def test_rewritten_or_missing_archive_is_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.invalidate_caches()
    _write_zip(archive, {**MODULES, "zpkg/sub/new.py": "VALUE = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 1  # one re-read, shared by the three importers
    assert importlib.import_module("zpkg.sub.new").VALUE == 2

    os.remove(archive)
    importlib.invalidate_caches()
    assert all(imp._files == {} for imp in _importers(archive))
    assert archive not in zipimport._zip_directory_cache


@pytest.mark.skipif(OLD_PYTHON, reason="the patch applies before CPython 3.12")
def test_stdlib_method_untouched_on_new_python():
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert not hasattr(session, "_ZIP_DIRECTORIES")
