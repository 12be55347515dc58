"""One partitioning policy: ``session`` decides every task count, and
``session.spread`` runs no Spark job to decide it."""

import glob
import os
import re

from conftest import run_jobs

from colonnade_spark.session import kernel_partitions, spread

SF = "/root/testdata/sf0.001"
PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "colonnade_spark")


def _repartitions(df):
    return re.findall(r"Exchange RoundRobinPartitioning\((\d+)\), (\w+)",
                      df._jdf.queryExecution().executedPlan().toString())


def test_spread_runs_no_job_on_an_exchange(spark):
    """An input with an exchange plans adaptively: reading its partition
    count would run AQE's query stages now (and again at the action), so
    spread repartitions it to an explicit count instead."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = kernel_partitions(spark)
    out, jobs = run_jobs(spark, lambda: spread(docs.groupBy("lang").count()
                                               .join(docs, "lang")))
    assert jobs == []
    assert _repartitions(out) == [(str(n), "REPARTITION_BY_NUM")]


def test_spread_one_split_scan_and_enough_splits(spark):
    """A one-file scan (one split) spreads to kernel_partitions; an input
    that already has that many splits comes back unchanged.  No job runs."""
    n = kernel_partitions(spark)
    scan = spark.read.parquet(f"{SF}/documents.parquet")
    wide = spark.range(4 * n, numPartitions=n + 1)
    (one, same), jobs = run_jobs(spark, lambda: (spread(scan), spread(wide)))
    assert jobs == []
    assert _repartitions(one) == [(str(n), "REPARTITION_BY_NUM")]
    assert same is wide


def test_only_session_reads_parallelism_or_shuffle_partitions():
    """Task counts come from session.kernel_partitions and
    session.shuffle_partitions; no other module reads the cluster's
    parallelism or the shuffle-partitions conf itself."""
    reads = re.compile(r"\.defaultParallelism\b|spark\.sql\.shuffle\.partitions")
    offenders = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        if os.path.basename(path) == "session.py":
            continue
        with open(path) as f:
            offenders += [f"{os.path.relpath(path, PKG)}:{i}"
                          for i, line in enumerate(f, 1) if reads.search(line)]
    assert offenders == []
