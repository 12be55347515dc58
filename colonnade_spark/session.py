"""SparkSession factory with the configs this engine assumes, and the
partitioning policy: every task count a stage gets is decided here."""

from __future__ import annotations

import os
import re

# glibc malloc tuning: without this, every >128 KB numpy temporary is an
# mmap/munmap pair → page-fault storm (93% sys time observed) and the mm lock
# serializes all executor python workers. Must be set before the JVM starts
# so python workers inherit it. On a real cluster: spark.executorEnv.* .
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
    "MALLOC_MMAP_MAX_": "0",
}


def _apply_malloc_env() -> None:
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)


# Spark's byte-size suffixes (JavaUtils.byteStringAsBytes); no suffix = bytes
_BYTE_SUFFIXES = {"", "b", "k", "kb", "m", "mb", "g", "gb", "t", "tb", "p", "pb"}


def env_int(name: str, default: int, minimum: int = 1) -> int:
    """An integer env knob.  A non-integer, or a value below ``minimum``,
    raises ``ValueError`` instead of being clamped silently."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        val = int(raw)
    except ValueError:
        raise ValueError(f"{name}={raw!r} is not an integer") from None
    if val < minimum:
        raise ValueError(f"{name}={raw!r} is below {minimum}")
    return val


def env_byte_size(name: str, default: str) -> str:
    """A byte-size env knob, returned as given once it parses the way Spark
    parses byte sizes (``32m``, ``1g``, ``1048576``; whole numbers only).
    Anything else raises ``ValueError`` here, not at the first scan."""
    raw = os.environ.get(name, default)
    m = re.fullmatch(r"([0-9]+)([a-z]*)", raw.strip().lower())
    if not m or m.group(2) not in _BYTE_SUFFIXES or int(m.group(1)) < 1:
        raise ValueError(f"{name}={raw!r} is not a positive Spark byte size "
                         f"(e.g. 32m, 1g)")
    return raw


def get_spark(app: str = "colonnade_spark", cores: int | None = None,
              driver_mem: str = "48g", ui: bool = False, io_codec: str = "lz4"):
    _apply_malloc_env()
    from pyspark.sql import SparkSession

    cores = cores or env_int("SPARK_GRAFT_CPUS", 0, minimum=0) or os.cpu_count() or 4
    builder = SparkSession.builder
    for k, v in _MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    return (
        builder
        .master(f"local[{cores}]")
        .appName(app)
        # JVM-side exchanges (joins, aggregations, connected components):
        # AQE coalesces these by bytes, so this is only their ceiling
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # shuffle/broadcast block codec.  lz4 default: the round-4 zstd
        # switch cost ~1.5 s per latency-bound query (zstd context setup on
        # every tiny shuffle/broadcast stream — measured on
        # embedding_neardup_lsh, 2.3 s lz4 vs 4.0 s zstd interleaved), and
        # after the staged-v2 layout + probe gating the encode staging win
        # inverted too (local[8] best wall 9.9 s lz4 vs 11.4 s zstd).  On a
        # REAL cluster with network-bound shuffle, pass io_codec="zstd":
        # ~45% smaller shuffle blocks cut fetch bytes where that matters.
        # JVM-fixed: set at session creation, not mutable per job.
        .config("spark.io.compression.codec", io_codec)
        # input split size: Spark's own bytesPerCore rule only kicks in
        # when a single scan is bigger than cores x 128 MB, so a ~500 MB
        # input at local[4] otherwise splits into six file-sized tasks —
        # 1.5 waves, a quarter of the cores idle in the tail (measured on
        # the encode ladder's corpus scan).  32 MB splits pack low-core
        # sessions evenly at negligible overhead for high-core ones; on a
        # real cluster with fast sequential storage RAISE this (512 MB-1 GB,
        # guide §6) via SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config("spark.sql.files.maxPartitionBytes",
                env_byte_size("SPARK_GRAFT_MAX_PARTITION_BYTES", "32m"))
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # cap arrow transfer batches by BYTES too: a batch of giant binary
        # cells/fragments can overflow 32-bit binary offsets long before
        # 8192 rows (the JVM default is effectively unlimited)
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(256 << 20))
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.log.level", "WARN")
        .getOrCreate()
    )


def kernel_partitions(spark) -> int:
    """Task count for stages that feed Python kernels: keyed exchanges in
    front of ``mapInArrow`` pair kernels and the ngram block kernel,
    :func:`spread`, generated inputs, and (capped at 4 waves) the file-index
    reads of decode.  The count MUST be explicit on an
    exchange: AQE coalesces exchanges by shuffle BYTES and cannot see
    Python-side CPU, collapsing a ~25 MB exchange to 1-2 tasks (round-6
    structural finding; measured 10.4 s vs 1.4 s on the ngram kernel).

    1 × defaultParallelism: same-session interleaved A/B at sf0.1 AND on a
    10× corpus read 1× faster than 2× on every kernel query (each extra
    task wave costs ~5-15 ms of Arrow/task overhead while the per-bucket
    work is already balanced by the hash partitioning; e.g. embedding
    pairs 1.26 → 1.01 s), and ½× was worse again (the kernel CPU then
    under-parallelizes).  Scale-adaptive: derived from the cluster's
    parallelism, never a tuned constant."""
    return int(spark.sparkContext.defaultParallelism)


def shuffle_partitions(spark) -> int:
    """The session's ``spark.sql.shuffle.partitions`` (``max(cores, 8)``
    from :func:`get_spark`): the one explicit count for JVM-only keyed
    exchanges that AQE must not coalesce (connected components' cached
    edge layout)."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def spread(df):
    """``df`` with at least :func:`kernel_partitions` partitions, so a
    Python UDF or a heavy projection over it uses the cluster: a small
    parquet file is one split (one row group), which would serialize the
    whole kernel on one task.  An input that already has enough splits
    comes back unchanged (at scale the scan supplies them; no shuffle).

    Runs no Spark job.  An input with an exchange plans adaptively, and
    its partition count is only known once AQE has run its query stages,
    so it is repartitioned to an explicit count (REPARTITION_BY_NUM, which
    AQE does not coalesce).  Any other plan's count is read from its RDD,
    which building runs nothing."""
    n = kernel_partitions(df.sparkSession)
    plan = df._jdf.queryExecution().executedPlan()
    if (plan.nodeName() == "AdaptiveSparkPlan"
            or plan.execute().getNumPartitions() < n):
        return df.repartition(n)
    return df
