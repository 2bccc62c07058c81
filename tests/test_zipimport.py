"""Stat-guarded ``zipimporter.invalidate_caches`` (``_zipimport.py``): an
unchanged archive is not re-read, a rewritten one is, and Python workers that
unpickle engine code run with the patch."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from ophidia_io_server_spark import _zipimport


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding ``zi_first``; its importer and a counter of
    directory reads of this archive."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zi_first.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    for mod in ("zi_first", "zi_second"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive_path):
        if archive_path == path:
            reads.append(archive_path)
        return real_read(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    assert importlib.import_module("zi_first").VALUE == 1
    importer = sys.path_importer_cache[path]
    assert isinstance(importer, zipimport.zipimporter)
    yield path, reads
    sys.path_importer_cache.pop(path, None)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="patch is for Python < 3.12")
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    assert zipimport.zipimporter.invalidate_caches is _zipimport.invalidate_caches
    importlib.invalidate_caches()  # stamps the importer (at most one read)
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="patch is for Python < 3.12")
def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(path, {"zi_first.py": "VALUE = 1\n", "zi_second.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads == [path]
    assert importlib.import_module("zi_second").VALUE == 2


def test_not_installed_on_python_312(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _zipimport._original_invalidate_caches)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert _zipimport.install() is False
    assert zipimport.zipimporter.invalidate_caches is _zipimport._original_invalidate_caches


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="patch is for Python < 3.12")
def test_python_worker_runs_patched_invalidate(spark):
    """A Python worker that unpickles engine code runs the engine's
    ``invalidate_caches``, and a repeated ``importlib.invalidate_caches()``
    in the task re-reads no archive."""
    from ophidia_io_server_spark.sources.netcdf_import import flat_range_to_slabs

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        list(flat_range_to_slabs((2,), 0, 2))  # engine code: imports the package
        for _ in batches:
            pass
        engine = sys.modules["ophidia_io_server_spark._zipimport"].invalidate_caches
        importlib.invalidate_caches()
        reads = []
        real_read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real_read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        yield pa.RecordBatch.from_pydict({
            "patched": [zipimport.zipimporter.invalidate_caches is engine],
            "reads": [len(reads)],
        })

    df = spark.range(1, numPartitions=1)
    schema = "patched boolean, reads long"
    df.mapInArrow(probe, schema).collect()  # warm-up task
    (row,) = df.mapInArrow(probe, schema).collect()
    assert row.patched is True
    assert row.reads == 0
