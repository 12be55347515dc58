"""Ship the package to executors (spark-submit --py-files equivalent,
done programmatically so the driver contract works from any session)."""

from __future__ import annotations

import gc
import os
import zipfile
import zipimport

from .session import kernel_partitions

_shipped: set = set()

# archive path -> (st_ino, st_mtime_ns, st_size) of the file at its last
# directory read; see cache_zip_directories
_zip_stamps: dict = {}
_zip_invalidate_orig = None
# set by the first full collection after freeze_import_heap is installed
_heap_frozen = False


def _zip_stamp(path: str) -> tuple:
    st = os.stat(path)
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def _invalidate_zip_directory(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the file changed since its last read; otherwise
    the importer keeps the cached directory."""
    try:
        stamp = _zip_stamp(self.archive)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if (stamp is not None and files is not None
            and _zip_stamps.get(self.archive) == stamp):
        self._files = files
        return
    # stat before the read: a rewrite racing the read leaves an old stamp
    # next to new contents, which only costs one more re-read later
    _zip_invalidate_orig(self)
    _zip_stamps[self.archive] = stamp


def cache_zip_directories() -> None:
    """Stop ``importlib.invalidate_caches()`` from re-reading unchanged
    zip archives.  Idempotent; installed by the package's ``__init__`` in
    Spark Python workers only, never in the driver.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``), and CPython's
    ``zipimporter.invalidate_caches`` re-reads the whole central directory
    of its archive, once per cached importer.  A worker holds 16-19 of
    them, most on package prefixes inside ``pyspark.zip`` (1328 entries),
    so every task paid ~0.2 CPU-s before any program code ran.  With this
    installed an archive is re-read only when its ``(inode, mtime, size)``
    changed, so a rewritten or replaced zip is still picked up.

    Archives already cached are stamped as current at install time.  In a
    worker that holds: the package is first imported inside a task, whose
    set-up has just re-read every archive."""
    global _zip_invalidate_orig
    cls = zipimport.zipimporter
    if (cls.invalidate_caches is _invalidate_zip_directory
            or not hasattr(zipimport, "_zip_directory_cache")):
        return
    _zip_invalidate_orig = cls.invalidate_caches
    for archive in list(zipimport._zip_directory_cache):
        try:
            _zip_stamps[archive] = _zip_stamp(archive)
        except OSError:
            pass
    cls.invalidate_caches = _invalidate_zip_directory


def _freeze_after_first_full_collection(phase: str, info: dict) -> None:
    global _heap_frozen
    if _heap_frozen or phase != "stop" or info["generation"] != 2:
        return
    # a flag, not gc.callbacks.remove: CPython walks the live callback list
    # by index, so removing this entry mid-walk would skip the next one
    _heap_frozen = True
    gc.freeze()


def freeze_import_heap() -> None:
    """Move everything alive at the first full collection into the
    permanent generation, once.  Idempotent; installed by the package's
    ``__init__`` in Spark Python workers only, never in the driver.

    A reused PySpark worker runs ``gc.collect()`` after every task
    (``pyspark/daemon.py``), and each full collection walked the whole
    import-time heap: numpy, pyarrow, pandas, pyspark and this package,
    ~76k tracked objects, ~45 ms of worker CPU per task.  After the first
    full collection (in a warmed worker, the daemon's collection after the
    ``ensure_shipped`` warm-up task) that heap is frozen, so later
    collections walk only what later tasks allocate (~3k objects).

    Frozen once and never again: a freeze after every collection would
    park each task's cyclic garbage in the permanent generation for good,
    and worker memory would grow without bound.  Frozen objects are still
    freed by refcounting; only reference cycles among objects alive at the
    first full collection can outlive their use, and everything allocated
    later is still collected."""
    if _freeze_after_first_full_collection not in gc.callbacks:
        gc.callbacks.append(_freeze_after_first_full_collection)


def package_zip(dest_dir: str = "/tmp") -> str:
    """Deterministic zip of the colonnade_spark package for --py-files.

    Atomic publish (unique tmp + os.replace, the repo-wide discipline):
    concurrent driver processes — parallel pytest workers, simultaneous
    submit_job runs — otherwise race on the shared fixed path and an
    executor can addPyFile a torn zip."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(dest_dir, "colonnade_spark_pyfiles.zip")
    tmp = f"{out}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in sorted(files):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.join("colonnade_spark",
                                   os.path.relpath(full, pkg_dir))
                z.write(full, rel)
    os.replace(tmp, out)
    return out


def ensure_shipped(spark) -> None:
    """Idempotently addPyFile the package zip to the session, then verify
    the ship by importing the package in every executor python worker.

    The verification doubles as the executor warm-up (once per session):
    it forks each python worker, imports numpy/pyarrow/colonnade_spark and
    dlopens the C kernels, and exercises the mapInArrow + AQE codegen
    paths — one-time session costs (~1-2 s) that otherwise land inside
    whichever measured job happens to run the first Python stage (guide
    §1: measure the computation, not the environment spin-up; same
    stance as bench._warm_workers for the query phase).  The import also
    installs :func:`cache_zip_directories` in each warmed worker before
    the first measured task, and :func:`freeze_import_heap`, so the
    daemon's collection after this warm-up task freezes each warmed
    worker's import-time heap before any measured task runs."""
    sc = spark.sparkContext
    if sc.applicationId in _shipped:
        return
    sc.addPyFile(package_zip())
    _shipped.add(sc.applicationId)

    def probe(batches):
        # import-check the shipped package where it matters: in the worker.
        # get_lib() builds/dlopens the C kernels; the micro round-trip
        # first-touches the numpy codec paths.
        import pyarrow as _pa

        from colonnade_spark import blocks
        from colonnade_spark.codecs import _native
        _native.get_lib()
        blocks.decode_block(blocks.encode_block(_pa.array(["warm", "up"])))
        for batch in batches:
            yield batch

    # the warm-up plan mirrors the engine's shape — broadcast join,
    # hash repartition, in-partition sort, mapInArrow, partial+final agg —
    # so Catalyst's analyzer/optimizer rules and the whole-stage codegen
    # for those operators JIT here, not in the first measured query
    from pyspark.sql import functions as F

    n = kernel_partitions(spark)
    small = spark.range(4).selectExpr("cast(id as int) as g", "id as sk")
    (spark.range(n * 2, numPartitions=n)
     .selectExpr("cast(id as string) as s", "cast(id % 4 as int) as g")
     .join(F.broadcast(small), "g")
     .repartition(max(n, 4), F.col("g"))
     .sortWithinPartitions("g", "s")
     .select("s")
     .mapInArrow(probe, "s string")
     .write.format("noop").mode("overwrite").save())
