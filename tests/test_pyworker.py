"""The engine's Python worker daemon (`duckdb_pipeline_spark.pyworker`):
the staleness-checked `zipimporter.invalidate_caches` skips the re-read
of an unchanged archive but still picks up a rewritten or deleted one,
and Spark workers started by `build_spark` actually run under it.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from duckdb_pipeline_spark import pyworker


def _write_zip(path, files):
    # write beside the target, then rename: a new inode, like a real
    # redeploy of an archive
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding `pyworker_probe_a.py`, first on sys.path, imported
    through its zipimporter, with the staleness-checked method patched
    in for this test only."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"pyworker_probe_a.py": "X = 1\n"})
    monkeypatch.setattr(pyworker, "_reads", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches
    )
    sys.path.insert(0, path)
    try:
        import pyworker_probe_a

        assert pyworker_probe_a.X == 1
        yield path
    finally:
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
        for name in ("pyworker_probe_a", "pyworker_probe_b"):
            sys.modules.pop(name, None)


def _count_reads(monkeypatch, path):
    calls = []
    stock = zipimport._read_directory

    def counting(archive):
        if archive == path:
            calls.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    importlib.invalidate_caches()  # first sight: read and stamp
    calls = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []
    # the importer still serves the archive
    sys.modules.pop("pyworker_probe_a")
    assert importlib.import_module("pyworker_probe_a").X == 1


def test_rewritten_archive_is_reread(archive, monkeypatch):
    importlib.invalidate_caches()
    calls = _count_reads(monkeypatch, archive)
    _write_zip(
        archive,
        {"pyworker_probe_a.py": "X = 1\n", "pyworker_probe_b.py": "Y = 2\n"},
    )
    importlib.invalidate_caches()
    assert calls == [archive]
    assert importlib.import_module("pyworker_probe_b").Y == 2


def test_deleted_archive_falls_back_to_stock(archive):
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[archive]
    assert archive in pyworker._reads
    os.remove(archive)
    importlib.invalidate_caches()  # stock path: no new exception
    assert archive not in pyworker._reads
    assert importer._files == {}
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("pyworker_probe_b")


def test_spark_workers_run_the_engine_daemon(spark):
    def probe(batches):
        import zipimport

        mod = zipimport.zipimporter.invalidate_caches.__module__
        for pdf in batches:
            yield pdf.assign(mod=mod)

    rows = (
        spark.range(0, 100, numPartitions=2)
        .mapInPandas(probe, "id long, mod string")
        .collect()
    )
    assert sorted(r.id for r in rows) == list(range(100))
    assert {r.mod for r in rows} == {"duckdb_pipeline_spark.pyworker"}
