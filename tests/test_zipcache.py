"""The zip-directory hook keeps CPython's refresh semantics: a changed
archive is re-read on `importlib.invalidate_caches()`, an unchanged one
is not."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import skar_spark  # noqa: F401  (installs the hook)
from skar_spark import zipcache


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "shipped.zip")
    _write_zip(path, {"skar_zc_a": 1})
    monkeypatch.syspath_prepend(path)
    reads = []
    read_directory = zipimport._read_directory

    def counted(p):
        if p == path:
            reads.append(p)
        return read_directory(p)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield path, reads
    sys.path_importer_cache.pop(path, None)
    for name in ("skar_zc_a", "skar_zc_b"):
        sys.modules.pop(name, None)


def test_changed_archive_refreshes_unchanged_is_not_reread(archive):
    path, reads = archive
    assert importlib.import_module("skar_zc_a").VALUE == 1
    assert isinstance(sys.path_importer_cache[path], zipimport.zipimporter)

    _write_zip(path, {"skar_zc_a": 1, "skar_zc_b": 2})
    importlib.invalidate_caches()
    assert importlib.import_module("skar_zc_b").VALUE == 2

    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_missing_archive_still_refreshes(archive):
    path, reads = archive
    importlib.import_module("skar_zc_a")
    importlib.invalidate_caches()
    reads.clear()
    os.remove(path)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [path, path]
    assert sys.path_importer_cache[path]._files == {}


def test_install_twice_wraps_once():
    hooked = zipimport.zipimporter.invalidate_caches
    assert hooked.skar_keyed
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is hooked


def test_reused_worker_rereads_no_archive(spark):
    """After one engine task, the refresh PySpark runs before each task
    leaves the worker's zip importers alone: a further
    `importlib.invalidate_caches()` reads no archive directory. Python
    workers are reused from an idle queue, so the probe task runs until
    it lands on a worker that has run engine code."""
    from skar_spark.synth import synth_documents

    def refresh_reads(batches):
        """Runs in a worker and imports nothing of the engine: one row of
        (pid, engine imported before, zip importers, archive directories
        one `importlib.invalidate_caches()` reads)."""
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = \
            lambda p: reads.append(p) or read_directory(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pylist([{
            "pid": os.getpid(), "warm": "skar_spark" in sys.modules,
            "importers": importers, "reads": len(reads)}])

    assert len(synth_documents(spark, 1, partitions=1).collect()) == 1
    probe = spark.range(0, 1, 1, 1).mapInArrow(
        refresh_reads, "pid long, warm boolean, importers long, reads long")
    seen = []
    for _ in range(16):
        row = probe.collect()[0].asDict()
        seen.append(row)
        if row["warm"]:
            break
    assert row["warm"], seen
    assert row["importers"] > 0, seen
    assert row["reads"] == 0, seen
