"""Zip-directory cache for Spark Python workers
(shipping.cache_zip_directories): ``importlib.invalidate_caches()`` must
not re-read unchanged zip archives, and must still pick up a rewritten
one."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from colonnade_spark import shipping


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def counted_reads(monkeypatch):
    """Counts zipimport directory reads; restores zipimport afterwards."""
    calls = []
    orig = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    # re-set to the current value so monkeypatch restores it afterwards
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(shipping, "_zip_stamps", {})
    monkeypatch.setattr(shipping, "_zip_invalidate_orig", None)
    return calls


def test_unchanged_zip_not_reread_and_rewrite_picked_up(tmp_path,
                                                        counted_reads,
                                                        monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"czd_m": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("czd_m").X == 1
        # the unpatched method re-reads on every invalidation: the count
        # is a real signal on this interpreter
        importlib.invalidate_caches()
        assert archive in counted_reads

        shipping.cache_zip_directories()
        shipping.cache_zip_directories()  # idempotent
        assert (zipimport.zipimporter.invalidate_caches
                is shipping._invalidate_zip_directory)
        counted_reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert counted_reads == []

        # a rewritten archive is re-read on the next invalidation
        _write_zip(archive, {"czd_m": "X = 1\n", "czd_n": "Y = 2\n"})
        importlib.invalidate_caches()
        assert counted_reads.count(archive) == 1
        assert importlib.import_module("czd_n").Y == 2
        counted_reads.clear()
        importlib.invalidate_caches()
        assert counted_reads == []
    finally:
        for name in ("czd_m", "czd_n"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_spark_workers_have_cache_installed(spark):
    """After ensure_shipped, a worker task runs with the cache installed
    (the package __init__ installs it in workers) and two invalidations
    read no zip directory; the driver stays unpatched."""
    from colonnade_spark.shipping import ensure_shipped

    ensure_shipped(spark)

    def probe(batches):
        import importlib as _il
        import zipimport as _zi

        import pyarrow as pa

        from colonnade_spark import shipping as _sh

        reads = [0]
        orig = _zi._read_directory

        def counting(archive):
            reads[0] += 1
            return orig(archive)

        _zi._read_directory = counting
        try:
            _il.invalidate_caches()
            _il.invalidate_caches()
        finally:
            _zi._read_directory = orig
        for _ in batches:
            pass
        installed = (_zi.zipimporter.invalidate_caches
                     is _sh._invalidate_zip_directory)
        yield pa.RecordBatch.from_pydict({"installed": [installed],
                                          "reads": [reads[0]]})

    n = max(int(spark.sparkContext.defaultParallelism), 1)
    rows = (spark.range(n, numPartitions=n)
            .mapInArrow(probe, "installed boolean, reads long").collect())
    assert len(rows) == n
    assert all(r["installed"] for r in rows)
    assert [r["reads"] for r in rows] == [0] * n
    assert (zipimport.zipimporter.invalidate_caches
            is not shipping._invalidate_zip_directory)
