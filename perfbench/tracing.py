"""Spans, Spark status-store readers and host samplers for the benchmark.

Everything here observes the program from outside: spans are opened by
the benchmark around its calls into ``colonnade_spark``, Spark's own
status stores are read through the session's JVM handle after each
traced operation, and memory is sampled from ``/proc`` and read from
the JVM's memory bean.  No listener is registered and nothing in the
package is changed, except that, while a traced run is active, a few engine functions that the engine and the
streaming layer call on each other are swapped for span-opening
wrappers (see :data:`NESTED_CALLS`) and restored afterwards.
"""

from __future__ import annotations

import gc
import json
import os
import re
import threading
import time
from contextlib import contextmanager

import numpy as np

# (module, function) pairs that other colonnade_spark functions call
# through a module-global lookup on the driver; wrapping them is the only
# way to see nested layer boundaries (encode_table -> assign_buckets,
# verify_roundtrip / stream_decode -> decode_table, stream_encode ->
# encode_table) from outside.  None of them is referenced by code that
# runs in executor processes, so the wrappers are never pickled.
NESTED_CALLS = [("engine", "assign_buckets"), ("engine", "encode_table"),
                ("engine", "decode_table")]

LAYERS = ["session", "shipping", "corpus", "engine", "blocks", "streaming",
          "host", "bench"]


class Tracer:
    """In-memory spans: (id, parent, name, start, end, run id), recorded
    only while ``active``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list = []
        self.active = False
        self._stack: list = []
        self._patched: list = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        rec = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), "end": None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def patch(self, modules: dict) -> None:
        for mod_name, fn_name in NESTED_CALLS:
            mod = modules[mod_name]
            orig = getattr(mod, fn_name)
            setattr(mod, fn_name, self._wrap(orig, f"{mod_name}.{fn_name}"))
            self._patched.append((mod, fn_name, orig))

    def _wrap(self, fn, name: str):
        def wrapper(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return wrapper

    def unpatch(self) -> None:
        for mod, fn_name, orig in reversed(self._patched):
            setattr(mod, fn_name, orig)
        self._patched.clear()

    def self_times(self, root: int) -> tuple:
        """Per-layer self time under a root span, and the root's own
        unattributed time.  A span's self time is its duration minus the
        part its children cover (children of one span run sequentially,
        so their durations add); the layer is the span name's prefix."""
        children: dict = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        out = {layer: 0.0 for layer in LAYERS}

        def own(s):
            kids = children.get(s["id"], [])
            return (s["end"] - s["start"]) - sum(k["end"] - k["start"] for k in kids)

        def walk(s):
            layer = s["name"].split(".", 1)[0]
            out[layer if layer in out else "bench"] += max(own(s), 0.0)
            for k in children.get(s["id"], []):
                walk(k)

        r = self.spans[root]
        for k in children.get(root, []):
            walk(k)
        return out, max(own(r), 0.0)

    def total(self, name: str, within: set) -> float:
        """Summed duration of the spans with this name that have an
        ancestor named in ``within``."""
        out = 0.0
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] not in within:
                p = self.spans[p]["parent"]
            if p is not None:
                out += s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# Spark status stores
# --------------------------------------------------------------------------

_PY_METRICS = {
    "time to start Python workers": "start_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
    "data sent to Python workers": "bytes_to",
    "data returned from Python workers": "bytes_from",
}
_UNIT = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
         "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_VALUE = re.compile(r"([\d.,]+)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")

SPARK_KEYS = ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
              "input_bytes", "driver_gap_s"]
PYWORKER_KEYS = list(_PY_METRICS.values())


def _parse_metric(text: str) -> float:
    """A SQL metric as the SQL status store formats it: either one value
    ("26 ms") or a "total (min, med, max ...)" header line followed by the
    total first on the next line."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


class SparkStatus:
    """Reads the stage, job and SQL status stores of a live session.

    Each :meth:`since_last` call returns what completed since the previous
    call, so a reading brackets exactly one operation."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._stage_mark = self._max_stage()
        self._job_mark = self._max_job()
        self._exec_mark = self._max_exec()

    def _drain(self) -> None:
        # the status stores are fed by the asynchronous listener bus
        self._jsc.listenerBus().waitUntilEmpty(10_000)

    def _stages(self):
        jl = self._jvm.java.util.ArrayList
        return self._store.stageList(jl(), False, False,
                                     self._gw.new_array(self._jvm.double, 0), jl())

    def _max_stage(self) -> int:
        lst = self._stages()
        return lst.apply(0).stageId() if lst.size() else -1

    def _max_job(self) -> int:
        lst = self._store.jobsList(self._jvm.java.util.ArrayList())
        return max((lst.apply(i).jobId() for i in range(lst.size())), default=-1)

    def _max_exec(self) -> int:
        lst = self._sql.executionsList()
        return max((lst.apply(i).executionId() for i in range(lst.size())),
                   default=-1)

    def since_last(self, t0: float, t1: float) -> dict:
        """Spark runtime and Python-worker totals for work since the last
        call; ``driver_gap_s`` is the part of [t0, t1] when no stage ran."""
        self._drain()
        out = {k: 0.0 for k in SPARK_KEYS}
        out.update({f"py_{k}": 0.0 for k in PYWORKER_KEYS})
        lst = self._stages()
        spans, top = [], self._stage_mark
        for i in range(lst.size()):
            s = lst.apply(i)
            sid = s.stageId()
            if sid <= self._stage_mark:
                break  # the list is newest first
            top = max(top, sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["input_bytes"] += s.inputBytes()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        self._stage_mark = top
        job_top = self._max_job()
        out["jobs"] = max(job_top - self._job_mark, 0)
        self._job_mark = job_top
        out["driver_gap_s"] = max((t1 - t0) - _covered(spans, t0, t1), 0.0)
        execs = self._sql.executionsList()
        exec_top = self._exec_mark
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= self._exec_mark:
                continue
            exec_top = max(exec_top, eid)
            for k, v in self._python_metrics(eid).items():
                out[f"py_{k}"] += v
        self._exec_mark = exec_top
        return out

    def _python_metrics(self, eid: int) -> dict:
        ids = {}
        nodes = self._sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            ms = nodes.apply(i).metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                key = _PY_METRICS.get(m.name())
                if key:
                    ids[m.accumulatorId()] = key
        out = {}
        if not ids:
            return out
        it = self._sql.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            key = ids.get(kv._1())
            if key:
                out[key] = out.get(key, 0.0) + _parse_metric(kv._2())
        return out


def _covered(spans: list, t0: float, t1: float) -> float:
    """Length of the union of intervals, clipped to [t0, t1]."""
    total, end = 0.0, t0
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total


# --------------------------------------------------------------------------
# host
# --------------------------------------------------------------------------

def host_probe_ms() -> float:
    """Fixed-work numpy probe: a reading well above the quiet-host value
    flags a throttled window."""
    a = np.random.default_rng(0).random(1_000_000)
    t0 = time.perf_counter()
    for _ in range(20):
        (a * a).sum()
    return (time.perf_counter() - t0) * 1000


def jvm_memory_mb(spark) -> tuple:
    """(heap, non-heap) in use by the driver JVM, in MB, the heap read after
    full collections: the memory the JVM holds on to, independent of when
    it last chose to collect.  Non-heap (metaspace, code cache) is reported
    apart: it grows with how much code the JIT has compiled."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getMemoryMXBean()
    # Python-side garbage still pins JVM objects through py4j; and Spark's
    # context cleaner frees broadcast and shuffle state only after a
    # collection has found their owners unreachable, on its own thread, so
    # collect until the heap stops shrinking
    gc.collect()
    heap = float("inf")
    for _ in range(5):
        mx.gc()
        used = mx.getHeapMemoryUsage().getUsed() / (1 << 20)
        if used > 0.98 * heap:
            break
        heap = used
        time.sleep(0.3)
    return min(heap, used), mx.getNonHeapMemoryUsage().getUsed() / (1 << 20)


def cpu_times() -> list:
    """The host's aggregate CPU counters from ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list, after: list) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_times` readings: a run with a high share ran on a host
    busy with someone else's work."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d[:8]), 1)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process it started, the ones already reaped included: the work the
    program did, without the time the hypervisor gave to other guests."""
    me = os.times()
    total = me.user + me.system + me.children_user + me.children_system
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # process exited between listdir and open
        parent[int(d)] = int(rest[1])
        ticks[int(d)] = sum(int(x) for x in rest[11:15])
    root = os.getpid()
    for pid, t in ticks.items():
        p = parent.get(pid)
        while p and p != root:
            p = parent.get(p)
        if p == root:
            total += t / os.sysconf("SC_CLK_TCK")
    return total


class RssSampler:
    """Peak resident memory of this process's descendants, sampled: of the
    whole tree (driver JVM and the Python workers it forks), and of the
    Python processes alone, as the sum of each one's high-water mark
    (``VmHWM``), which sampling cannot miss."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_bytes = 0
        self.peak_python_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self.interval):
            tree, python = self._tree_rss(root)
            self.peak_bytes = max(self.peak_bytes, tree)
            self.peak_python_bytes = max(self.peak_python_bytes, python)

    def _tree_rss(self, root: int) -> tuple:
        parent, rss, python = {}, {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{d}/statm") as f:
                    pages = int(f.read().split()[1])
                comm, rest = stat.split("(", 1)[1].rsplit(")", 1)
                if comm.startswith("python"):
                    with open(f"/proc/{d}/status") as f:
                        hwm = next(int(line.split()[1]) << 10 for line in f
                                   if line.startswith("VmHWM:"))
            except (OSError, ValueError, IndexError, StopIteration):
                continue  # process exited between listdir and open
            pid = int(d)
            parent[pid] = int(rest.split()[1])
            rss[pid] = pages * self._page
            if comm.startswith("python"):
                python[pid] = hwm
        total = total_python = 0
        for pid in rss:
            p = parent.get(pid)
            while p and p != root:
                p = parent.get(p)
            if p == root:
                total += rss[pid]
                total_python += python.get(pid, 0)
        return total, total_python
