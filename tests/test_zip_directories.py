"""The package's stat-gated ``zipimporter.invalidate_caches``: an archive
on ``sys.path`` is re-read only when its (mtime, size) changed since the
wrapper last read it, and nothing is wrapped on CPython >= 3.13."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import glirel_spark

needs_wrapper = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="installed on CPython < 3.13 only"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zipped(tmp_path, monkeypatch):
    """A zip on sys.path holding one imported module, and a counter of
    ``zipimport._read_directory`` calls on that archive from then on."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipcache_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    import zipcache_a

    assert zipcache_a.X == 1
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in ("zipcache_a", "zipcache_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@needs_wrapper
def test_unchanged_archive_is_read_once(zipped):
    archive, reads = zipped
    for _ in range(4):
        importlib.invalidate_caches()
    assert len(reads) == 1
    importer = sys.path_importer_cache[archive]
    assert importer._files is zipimport._zip_directory_cache[archive]


@needs_wrapper
def test_rewritten_archive_is_read_again(zipped):
    archive, reads = zipped
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1
    _write_zip(archive, {"zipcache_a": "X = 1\n", "zipcache_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 2
    import zipcache_b

    assert zipcache_b.Y == 2
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_not_installed_on_python_313(monkeypatch):
    cls = zipimport.zipimporter
    original = getattr(cls.invalidate_caches, "__wrapped__", cls.invalidate_caches)
    monkeypatch.setattr(cls, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    glirel_spark._keep_unchanged_zip_directories()
    assert cls.invalidate_caches is original


@needs_wrapper
def test_install_is_idempotent(monkeypatch):
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches.__wrapped__)
    glirel_spark._keep_unchanged_zip_directories()
    wrapper = cls.invalidate_caches
    assert wrapper.__module__ == "glirel_spark"
    glirel_spark._keep_unchanged_zip_directories()
    assert cls.invalidate_caches is wrapper
