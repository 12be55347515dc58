"""Per-operation CPU split by process for the perfbench ``roundtrip`` shape.

    python scripts/cpu_split.py [--files 12000] [--seed 5] [--rounds 4]

Runs on a ``local[nproc]`` session: generates the seeded corpus, ships
the package (``ensure_shipped``, which also warms the Python workers),
runs one unmeasured warm-up round, then ``--rounds`` measured rounds of
the operations below.  Each operation's CPU is split into the driver JVM,
the Python workers (every Python process the JVM started, the reaped ones
included) and the driver Python, read as ``/proc`` deltas; JIT ms is the
driver JVM's ``CompilationMXBean`` delta.  Prints one markdown row per
operation, min-max (median) over the measured rounds, then each worker's
GC-tracked and frozen object counts.

Operations: ``encode`` (fused, overwrite, ``salt_sample_fraction=0.05``,
as perfbench calls it), ``salt sizing`` (``assign_buckets`` alone), the
four reads of a round (full, two column subsets, one repo zone) each
reduced to perfbench's digest, and ``no-op`` (one ``mapInArrow`` task per
core that passes its batches through; ``NOOP_JOBS`` such jobs per sample,
reported per job).  Run nothing else on the host
while it runs.  Everything it writes goes to a temporary directory.
"""

from __future__ import annotations

import argparse
import os
import random
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

TICK = os.sysconf("SC_CLK_TCK")
# the daemon collects after a task's result is sent: let that finish
# before the reading that closes an operation
SETTLE_S = 0.3
# /proc counts CPU in ticks (10 ms) per process: the no-op sample runs
# this many jobs and is reported per job
NOOP_JOBS = 10


def _procs() -> dict:
    """pid -> (ppid, comm, own CPU ticks, reaped children's CPU ticks)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                text = f.read()
        except OSError:
            continue  # exited between listdir and open
        comm = text[text.index("(") + 1:text.rindex(")")]
        rest = text.rsplit(")", 1)[1].split()
        out[int(d)] = (int(rest[1]), comm, int(rest[11]) + int(rest[12]),
                       int(rest[13]) + int(rest[14]))
    return out


def _descendants(procs: dict, root: int) -> list:
    kids: dict = {}
    for pid, (ppid, *_rest) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def cpu_split(jvm_pid: int) -> dict:
    """CPU seconds used so far by the driver JVM, by the Python workers
    (the JVM's descendants, plus the children the JVM has reaped) and by
    this driver Python process."""
    procs = _procs()
    me = os.times()
    _ppid, _comm, jvm_own, jvm_reaped = procs[jvm_pid]
    workers = jvm_reaped
    for pid in _descendants(procs, jvm_pid):
        _ppid, _comm, own, reaped = procs[pid]
        workers += own + reaped
    return {"jvm": jvm_own / TICK, "workers": workers / TICK,
            "driver_py": me.user + me.system}


def _jvm_pid() -> int:
    procs = _procs()
    java = [p for p in _descendants(procs, os.getpid()) if procs[p][1] == "java"]
    if len(java) != 1:
        raise RuntimeError(f"expected one driver JVM under this process, got {java}")
    return java[0]


def _worker_heaps(spark, n: int) -> list:
    """(pid, GC-tracked objects, frozen objects) per worker that ran one of
    ``n`` tasks."""
    def probe(batches):
        import gc
        import os as _os

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [_os.getpid()], "tracked": [len(gc.get_objects())],
            "frozen": [gc.get_freeze_count()]})

    rows = (spark.range(n, numPartitions=n)
            .mapInArrow(probe, "pid long, tracked long, frozen long").collect())
    return sorted({(r["pid"], r["tracked"], r["frozen"]) for r in rows})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--files", type=int, default=12000)
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--rounds", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from colonnade_spark import engine, plan, session, shipping
    from colonnade_spark.corpus import generate_corpus
    from workloads import _ALL, _SUBSETS, _digest

    cores = len(os.sched_getaffinity(0))
    spark = session.get_spark("cpu_split", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    jvm = _jvm_pid()
    comp = (spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getCompilationMXBean())
    shipping.ensure_shipped(spark)
    n_tasks = session.kernel_partitions(spark)
    cplan = plan.corpus_plan()

    with tempfile.TemporaryDirectory(prefix="cpu_split_") as work:
        src = os.path.join(work, "corpus")
        generate_corpus(spark, args.files, seed=args.seed) \
            .write.mode("overwrite").parquet(src)
        df = spark.read.parquet(src)
        content = df.select(F.sum(F.octet_length("content"))).collect()[0][0]
        n_buckets = max(cores, int(content // (24 << 20)) + 1)
        sizes = {r["repo"]: r["count"] for r in df.groupBy("repo").count().collect()}
        small = sorted(r for r, c in sizes.items() if c < 0.05 * sum(sizes.values()))
        repo = random.Random(args.seed).choice(small)
        wh = os.path.join(work, "wh")

        def noop(batches):
            yield from batches

        def noop_jobs():
            for _ in range(NOOP_JOBS):
                (spark.range(n_tasks, numPartitions=n_tasks)
                 .mapInArrow(noop, "id long").write.format("noop")
                 .mode("overwrite").save())

        ops = {
            "encode": lambda: engine.encode_table(
                spark, df, cplan, wh, n_buckets=n_buckets, mode="overwrite",
                input_token="cpu_split", fused=True, salt_sample_fraction=0.05),
            "salt sizing": lambda: engine.assign_buckets(
                df, cplan, n_buckets, target_salt_bytes=64 << 20,
                salt_sample_fraction=0.05),
            "full read": lambda: _digest(engine.decode_table(spark, wh), _ALL),
            **{f"subset read ({', '.join(c)})":
               (lambda c=c: _digest(engine.decode_table(spark, wh, columns=c), c))
               for c in _SUBSETS},
            "zone read": lambda: _digest(
                engine.decode_table(spark, wh, zone_filter=("repo", repo, repo))
                .filter(F.col("repo").between(repo, repo)), _ALL),
            f"no-op ({n_tasks} tasks), per job": noop_jobs,
        }
        samples = {name: [] for name in ops}
        for rnd in range(args.rounds + 1):  # round 0 is the warm-up
            for name, fn in ops.items():
                time.sleep(SETTLE_S)
                c0, j0 = cpu_split(jvm), comp.getTotalCompilationTime()
                fn()
                time.sleep(SETTLE_S)
                c1, j1 = cpu_split(jvm), comp.getTotalCompilationTime()
                if rnd:
                    jobs = NOOP_JOBS if fn is noop_jobs else 1
                    d = {**{k: c1[k] - c0[k] for k in c0}, "jit_ms": j1 - j0}
                    samples[name].append({k: v / jobs for k, v in d.items()})
        heaps = _worker_heaps(spark, n_tasks)
    spark.stop()

    def cell(xs: list, fmt: str) -> str:
        return (f"{min(xs):{fmt}}-{max(xs):{fmt}} "
                f"({statistics.median(xs):{fmt}})")

    print(f"{args.files} files, seed {args.seed}, local[{cores}], "
          f"{n_buckets} buckets, zone repo {repo!r}, rounds 1-{args.rounds}; "
          "CPU-s min-max (median)")
    print("| op | driver JVM | Python workers | driver Python | JIT ms |")
    print("|---|---|---|---|---|")
    for name, rows in samples.items():
        print(f"| {name} | " + " | ".join(
            cell([r[k] for r in rows], ".3f" if k != "jit_ms" else ".0f")
            for k in ("jvm", "workers", "driver_py", "jit_ms")) + " |")
    for pid, tracked, frozen in heaps:
        print(f"worker {pid}: {tracked} GC-tracked objects, {frozen} frozen")


if __name__ == "__main__":
    main()
