"""Stat-gated zip directory re-reads (nreadability_spark/spark/zipcache.py),
without Spark: importlib.invalidate_caches() must skip an unchanged
archive and still pick up one rewritten in place."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from nreadability_spark.spark import zipcache

pytestmark = pytest.mark.skipif(sys.version_info >= (3, 13),
                                reason="zipimporter is lazy from 3.13 on")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding one module, already imported from."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_first": 1})
    monkeypatch.syspath_prepend(path)
    importlib.import_module("zc_first")
    assert isinstance(sys.path_importer_cache[path], zipimport.zipimporter)
    yield path
    for name in ("zc_first", "zc_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in order."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_package_import_installs_it():
    assert zipimport.zipimporter.invalidate_caches is \
        zipcache._invalidate_caches


def test_unchanged_archive_is_not_reread(archive, reads):
    importlib.invalidate_caches()  # first call: no read recorded yet
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads


def test_archive_rewritten_in_place_is_reread(archive, reads):
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zc_second")
    _write_zip(archive, {"zc_first": 1, "zc_second": 2})
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zc_second").VALUE == 2


def test_same_size_rewrite_is_reread(archive, reads):
    """The mtime half of the stamp: a rewrite of identical size."""
    importlib.invalidate_caches()
    before = os.stat(archive)
    _write_zip(archive, {"zc_first": 3})
    assert os.stat(archive).st_size == before.st_size
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_removed_archive_clears_the_directory(archive):
    importer = sys.path_importer_cache[archive]
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer._files == {}


def test_install_twice_is_a_no_op(archive, reads):
    zipcache.install()
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is \
        zipcache._invalidate_caches
    assert zipcache._eager_invalidate is not zipcache._invalidate_caches
    importlib.invalidate_caches()
    del reads[:]
    importlib.invalidate_caches()
    assert archive not in reads


def test_lazy_interpreter_is_left_alone(monkeypatch):
    """From CPython 3.13 invalidate_caches only drops the cached
    directory; the version gate must not replace it there."""
    eager = zipcache._eager_invalidate
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", eager)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is eager
