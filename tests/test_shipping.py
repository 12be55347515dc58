"""Worker set-up for Spark Python workers.  The zip-directory cache
(shipping.cache_zip_directories): ``importlib.invalidate_caches()`` must
not re-read unchanged zip archives, and must still pick up a rewritten
one.  The heap freeze (shipping.freeze_import_heap): a worker's heap is
frozen once, at its first full collection, and later garbage is still
collected; the driver's heap is never frozen."""

import gc
import importlib
import json
import os
import subprocess
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


# ----------------------------------------------------------------------------
# heap freeze (shipping.freeze_import_heap)
# ----------------------------------------------------------------------------

def _package_gc_hooks() -> list:
    return [cb for cb in gc.callbacks
            if getattr(cb, "__module__", "").startswith("colonnade_spark")]


def test_worker_import_heap_frozen_once_and_later_garbage_collected(spark):
    """After ensure_shipped every worker has frozen its import-time heap,
    so the daemon's per-task collection walks a small heap; the freeze
    happened once (its count is the same in two jobs), and a reference
    cycle made inside a task is still collected.  The driver's heap is
    never frozen."""
    from colonnade_spark.shipping import ensure_shipped

    ensure_shipped(spark)

    def probe(batches):
        import gc as _gc
        import os as _os
        import weakref

        import pyarrow as pa

        for _ in batches:
            pass
        frozen = _gc.get_freeze_count()
        tracked = len(_gc.get_objects())

        class Node:
            pass

        a, b = Node(), Node()
        a.other, b.other = b, a
        ref = weakref.ref(a)
        del a, b
        _gc.collect()
        yield pa.RecordBatch.from_pydict({
            "pid": [_os.getpid()], "frozen": [frozen], "tracked": [tracked],
            "cycle_freed": [ref() is None],
            "frozen_after": [_gc.get_freeze_count()]})

    n = max(int(spark.sparkContext.defaultParallelism), 1)
    schema = ("pid long, frozen long, tracked long, cycle_freed boolean, "
              "frozen_after long")
    jobs = [spark.range(n, numPartitions=n).mapInArrow(probe, schema).collect()
            for _ in range(2)]
    counts = {}
    for rows in jobs:
        assert len(rows) == n
        for r in rows:
            assert r["frozen"] > 0, r
            assert r["tracked"] < 0.1 * r["frozen"], r
            assert r["cycle_freed"], r
            assert r["frozen_after"] == r["frozen"], r
            counts.setdefault(r["pid"], set()).add(r["frozen"])
    assert all(len(c) == 1 for c in counts.values()), counts
    assert gc.get_freeze_count() == 0
    assert _package_gc_hooks() == []


def test_package_import_freezes_worker_heap_at_first_full_collection():
    """In a process Spark would start as a worker (the worker secret is in
    its environment), importing the package installs the hook; the first
    full collection freezes the heap, and the second freezes nothing, not
    even objects still alive that were made after the first."""
    code = (
        "import gc, json\n"
        "import colonnade_spark\n"
        "from colonnade_spark import shipping\n"
        "shipping.freeze_import_heap()\n"
        "hooks = [cb for cb in gc.callbacks\n"
        "         if cb.__module__ == 'colonnade_spark.shipping']\n"
        "before = gc.get_freeze_count()\n"
        "gc.collect()\n"
        "first = gc.get_freeze_count()\n"
        "alive = [[] for _ in range(1000)]\n"
        "gc.collect()\n"
        "print(json.dumps([len(hooks), before, first,"
        " gc.get_freeze_count()]))\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHON_WORKER_FACTORY_SECRET="test",
               PYTHONPATH=root)
    out = subprocess.run([sys.executable, "-c", code], env=env, cwd=root,
                         capture_output=True, text=True, check=True)
    hooks, before, first, second = json.loads(out.stdout.splitlines()[-1])
    assert hooks == 1  # installed once, a second install is a no-op
    assert before == 0
    assert first > 0
    assert second == first
