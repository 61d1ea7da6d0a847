"""The worker-side zip-directory gate (``probably_jl_spark._worker``),
without Spark: the worker flag is forced, and the re-reads are counted
through ``zipimport._read_directory``."""

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark.core.files import SparkFiles

from probably_jl_spark import _worker

gated_version = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 invalidates zip caches lazily"
)


def _write_zip(path, source):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("m.py", source)


@pytest.fixture
def stdlib_invalidate(monkeypatch):
    """The stdlib method, restored after the test whatever it installs."""
    original = zipimport.zipimporter.invalidate_caches
    assert original.__module__ == "zipimport"
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    return original


@pytest.fixture
def reads(monkeypatch):
    """Archives passed to ``zipimport._read_directory``, in call order."""
    seen = []
    read_directory = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def zipped_m(tmp_path, monkeypatch):
    """A zip holding module ``m`` on ``sys.path``; ``m`` is imported once."""
    path = str(tmp_path / "m.zip")
    _write_zip(path, "X = 1\n")
    monkeypatch.syspath_prepend(path)
    monkeypatch.delitem(sys.modules, "m", raising=False)
    assert importlib.import_module("m").X == 1
    yield path
    sys.modules.pop("m", None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@gated_version
def test_gate_skips_unchanged_and_rereads_rewritten_archive(
    stdlib_invalidate, zipped_m, reads, monkeypatch
):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    _worker.install()
    gated = zipimport.zipimporter.invalidate_caches
    assert gated is not stdlib_invalidate

    importlib.invalidate_caches()  # first read after install records each stat
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(zipped_m, "X = 22\n")
    importlib.invalidate_caches()
    assert reads == [zipped_m]
    del sys.modules["m"]
    assert importlib.import_module("m").X == 22

    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is gated


def test_gate_is_noop_off_worker(stdlib_invalidate, zipped_m, reads, monkeypatch):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib_invalidate
    if sys.version_info < (3, 13):
        importlib.invalidate_caches()
        assert zipped_m in reads
