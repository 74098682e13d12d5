"""The once-per-process worker set-up's zip stamp, in process (no Spark):
an unchanged archive is not re-read on importlib.invalidate_caches(),
a rewritten one is re-read exactly once and its new content imports."""

import importlib
import inspect
import sys
import zipfile
import zipimport

import pytest

from polars_mas_spark.functions import native_threads


@pytest.fixture
def unstamped(monkeypatch):
    # Start from the stdlib method even if this process already installed
    # the stamp; monkeypatch puts back whatever was there afterwards.
    cls = zipimport.zipimporter
    monkeypatch.setattr(
        cls, "invalidate_caches", inspect.unwrap(cls.invalidate_caches)
    )
    monkeypatch.setattr(native_threads, "_ARCHIVE_STAMPS", {})


def _write_package(archive, value):
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zstamp_pkg/__init__.py", "")
        zf.writestr("zstamp_pkg/mod.py", f"VALUE = {value!r}\n")


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="3.12+ invalidates zip caches lazily"
)
def test_zip_stamp_rereads_only_changed_archives(tmp_path, monkeypatch, unstamped):
    archive = tmp_path / "stamp.zip"
    _write_package(archive, "old")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zstamp_pkg", "zstamp_pkg.mod"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zstamp_pkg.mod").VALUE == "old"
    # One importer for the archive root, one for the package directory.
    ours = [
        v for v in sys.path_importer_cache.values()
        if isinstance(v, zipimport.zipimporter) and v.archive == str(archive)
    ]
    assert len(ours) == 2

    native_threads.stamp_zip_importers()
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert reads == []

    # Rewritten in place (same inode, new size): one read refreshes both
    # importers, and the package importer serves the new bytes.
    _write_package(archive, "rewritten in place")
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    del sys.modules["zstamp_pkg.mod"]
    assert importlib.import_module("zstamp_pkg.mod").VALUE == "rewritten in place"
    importlib.invalidate_caches()
    assert reads == [str(archive)]


def test_zip_stamp_is_a_no_op_from_python_312(monkeypatch, unstamped):
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    before = zipimport.zipimporter.invalidate_caches
    native_threads.stamp_zip_importers()
    assert zipimport.zipimporter.invalidate_caches is before
    assert native_threads._ARCHIVE_STAMPS == {}
