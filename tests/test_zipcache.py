"""Zip-directory cache around ``zipimporter.invalidate_caches``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
worker call; before CPython 3.13 that re-read the central directory of
every zip archive on ``sys.path`` once per importer. The engine wraps the
method so an unchanged archive is not re-read, while a rewritten one still
is (the stdlib contract).
"""

import importlib
import sys
import zipfile
import zipimport

import pytest

import hadoop_bam_spark  # noqa: F401  (installs the wrapper)

PATCHED = sys.implementation.name == "cpython" and sys.version_info < (3, 13)
PKG = "zipcache_probe_pkg"


def _write_archive(path, extra=()):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{PKG}/__init__.py", "")
        for sub in ("a", "b", "c"):
            zf.writestr(f"{PKG}/{sub}/__init__.py", "")
            zf.writestr(f"{PKG}/{sub}/mod.py", f"NAME = {sub!r}\n")
        for name, src in extra:
            zf.writestr(name, src)


@pytest.fixture
def probe_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_archive(archive)
    monkeypatch.syspath_prepend(archive)
    for sub in ("a", "b", "c"):  # one sub-package zipimporter each
        importlib.import_module(f"{PKG}.{sub}.mod")
    importers = [
        k for k, v in sys.path_importer_cache.items()
        if isinstance(v, zipimport.zipimporter) and k.startswith(archive)
    ]
    assert len(importers) >= 4, importers
    reads = []
    real_read = zipimport._read_directory

    def spy(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    yield archive, reads
    for name in [m for m in sys.modules if m.split(".")[0] == PKG]:
        del sys.modules[name]
    for key in importers:
        sys.path_importer_cache.pop(key, None)


@pytest.mark.skipif(not PATCHED, reason="CPython >= 3.13 re-reads lazily")
def test_unchanged_archive_is_not_reread(probe_archive):
    archive, reads = probe_archive
    importlib.invalidate_caches()
    assert len(reads) <= 1  # at most the one read that records the stamp
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(probe_archive):
    archive, reads = probe_archive
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module(f"{PKG}.a.fresh")
    reads.clear()
    _write_archive(archive, extra=[(f"{PKG}/a/fresh.py", "VALUE = 42\n")])
    importlib.invalidate_caches()
    if PATCHED:
        assert reads == [archive]  # one read shared by every importer
    assert importlib.import_module(f"{PKG}.a.fresh").VALUE == 42
    assert importlib.import_module(f"{PKG}.b.mod").NAME == "b"


def test_worker_runs_the_engine_wrapper(spark, tmp_path):
    import pyarrow as pa

    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.sam import SAM_SCHEMA
    from hadoop_bam_spark.sources import register_all
    from tests.test_bai import _header, _row

    register_all(spark)
    path = str(tmp_path / "probe.bam")
    rows = [_row(f"r{i}", "chr1", 100 + i) for i in range(50)]
    sinks.write_bam(spark.createDataFrame(rows, SAM_SCHEMA), path, _header())
    reads = spark.read.format("bam").load(path)
    assert reads.count() == 50

    engine = hadoop_bam_spark

    def report(batches):
        # Unpickling this closure imports the engine package in the worker,
        # as unpickling a data source class or a sink closure does.
        import zipimport as zi

        assert engine.__name__ == "hadoop_bam_spark"
        owner = zi.zipimporter.invalidate_caches.__module__
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"owner": [owner] * b.num_rows}, pa.schema([("owner", pa.string())])
            )

    owners = {
        r.owner
        for r in reads.coalesce(1).mapInArrow(report, "owner string").collect()
    }
    assert owners == {"hadoop_bam_spark._zipcache" if PATCHED else "zipimport"}
