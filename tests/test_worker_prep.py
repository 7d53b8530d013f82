"""``pipeline.prepare_worker``: a zipimporter re-reads its archive on
``importlib.invalidate_caches()`` only when the archive changed on disk.

Pure Python, no Spark. Each test restores ``zipimporter.invalidate_caches``,
the module flag and ``sys.path`` so the pytest process is left as it was.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from pdf_extractor_spark.spark import pipeline

eager = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy on Python >= 3.13",
)


@pytest.fixture
def fresh_worker(monkeypatch):
    """A worker that has not been prepared yet; undone after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(pipeline, "_worker_prepared", False)
    monkeypatch.setattr(sys, "path", list(sys.path))
    importers = set(sys.path_importer_cache)
    dirs = set(zipimport._zip_directory_cache)
    yield
    # drop what the test imported from its archive and the importers and
    # directory reads it left behind
    for name in [m for m in sys.modules if m.startswith("wprep_")]:
        del sys.modules[name]
    for key in set(sys.path_importer_cache) - importers:
        del sys.path_importer_cache[key]
    for key in set(zipimport._zip_directory_cache) - dirs:
        del zipimport._zip_directory_cache[key]


@pytest.fixture
def reads(monkeypatch):
    """Count calls of ``zipimport._read_directory`` (the eager re-read)."""
    calls = []
    orig = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr("wprep_pkg/__init__.py", "")
        for name, src in modules.items():
            zf.writestr(f"wprep_pkg/{name}.py", src)
    os.replace(tmp, path)  # a rewrite gets a new inode, as addPyFile's copy


def _importers(archive: str) -> list:
    return [
        f
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]


@eager
def test_unchanged_archive_is_not_reread(fresh_worker, reads, tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"a": "X = 1\n"})
    sys.path.insert(0, archive)
    importlib.import_module("wprep_pkg.a")
    assert len(_importers(archive)) == 2  # the archive root + wprep_pkg/

    reads.clear()
    importlib.invalidate_caches()  # unpatched: every importer re-reads
    assert reads.count(archive) == 2

    pipeline.prepare_worker()
    reads.clear()
    importlib.invalidate_caches()  # no stat key stored yet: read as before
    assert reads.count(archive) == 2
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 2


@eager
def test_rewritten_archive_is_reread_and_new_module_imports(
    fresh_worker, reads, tmp_path
):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"a": "X = 1\n"})
    sys.path.insert(0, archive)
    importlib.import_module("wprep_pkg.a")
    pipeline.prepare_worker()
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("wprep_pkg.b")

    _write_zip(archive, {"a": "X = 1\n", "b": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("wprep_pkg.b").Y == 2

    # a same-size rewrite is a change too (new inode and mtime)
    size = os.path.getsize(archive)
    _write_zip(archive, {"a": "X = 1\n", "b": "Y = 3\n"})
    assert os.path.getsize(archive) == size
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 2


@eager
def test_failed_stat_rereads_as_before(fresh_worker, reads, tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"a": "X = 1\n"})
    sys.path.insert(0, archive)
    importlib.import_module("wprep_pkg.a")
    pipeline.prepare_worker()
    importlib.invalidate_caches()

    os.remove(archive)
    importlib.invalidate_caches()  # the original path: read fails, empty
    assert archive not in zipimport._zip_directory_cache
    assert all(f._files == {} for f in _importers(archive))


def test_second_prepare_worker_does_not_wrap_twice(fresh_worker):
    orig = zipimport.zipimporter.invalidate_caches
    pipeline.prepare_worker()
    once = zipimport.zipimporter.invalidate_caches
    pipeline.prepare_worker()
    assert zipimport.zipimporter.invalidate_caches is once
    if sys.version_info >= (3, 13):
        assert once is orig
    else:
        assert once.__wrapped__ is orig
