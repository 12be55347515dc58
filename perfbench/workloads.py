"""The benchmark workloads and the per-run bookkeeping they share.

Every workload is a closed loop driven by one client (this process) on a
``local[nproc]`` session: set-up, then rounds of operations until the
run's seconds are spent.  A round is a fixed multiset of operations in a
seeded order, so every run measures the same mix.  Each operation is
checked outside its own timing; a failed call or a failed check counts
against ``ok_frac`` instead of stopping the run.
"""

from __future__ import annotations

import glob
import os
import random
import sys
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

import pyarrow.compute as pc
import pyarrow.parquet as pq

from tracing import (PYWORKER_KEYS, SPARK_KEYS, SparkStatus, Tracer,
                     host_probe_ms, jvm_memory_mb, tree_cpu_s)

CODECS = ["plain", "forbp", "delta", "dict", "rle", "alpha4", "fcode", "fsst",
          "fbss", "frag"]


class Run:
    """One benchmark run: the session, its samples and its counters."""

    def __init__(self, cs: dict, work: str, seed: int, seconds: float,
                 trace: bool, sizes: dict):
        self.cs = cs  # colonnade_spark modules by short name
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sizes = sizes
        self.rng = random.Random(seed)
        self.tracer = Tracer(f"{os.getpid()}-{seed}")
        self.tracer.active = trace
        self.spark = None
        self.status = None
        self.cores = len(os.sched_getaffinity(0))  # what nproc reports
        self.attempted = 0
        self.failed = 0
        self.ops: list = []
        self.samples: dict = defaultdict(list)  # name -> [values]
        self.layer: dict = defaultdict(float)   # per-layer metric sums
        self.traced_ops = 0
        self.round = -1  # the loop's round number; -1 in set-up
        self.bookkeeping_s = 0.0
        self.t_start = time.time()
        self.setup_s = 0.0
        self.detail: dict = {}

    # ---------------------------------------------------------------- set-up
    def start_session(self) -> None:
        with self.tracer.span("session.get_spark"):
            t0 = time.time()
            self.spark = self.cs["session"].get_spark("perfbench",
                                                      cores=self.cores)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.layer["session.start_s"] = time.time() - t0
        with self.tracer.span("shipping.ensure_shipped"):
            t0 = time.time()
            self.cs["shipping"].ensure_shipped(self.spark)
            self.layer["shipping.ship_s"] = time.time() - t0
        if self.trace:
            self.status = SparkStatus(self.spark)

    # ------------------------------------------------------------ operations
    @contextmanager
    def op(self, kind: str, span: str):
        """Time one operation under a span named for the layer doing its
        work, in wall and in CPU seconds of the whole process tree.  The
        body may record ``lats`` (latencies other than the wall, e.g. per
        micro-batch) and ``bytes``.  Exceptions count as failures."""
        rec = {"kind": kind, "ok": True, "bytes": 0, "round": self.round}
        self.attempted += 1
        if self.status is not None:
            self.status.since_last(0.0, 0.0)  # drop work done between ops
        cpu0 = tree_cpu_s()
        t0 = time.time()
        try:
            with self.tracer.span(span):
                yield rec
        except Exception as e:  # a failed operation is counted, not fatal
            rec["ok"] = False
            print(f"perfbench: {kind} failed: {type(e).__name__}: {e}"[:2000],
                  file=sys.stderr)
        t1 = time.time()
        rec["wall"] = t1 - t0
        rec["cpu"] = tree_cpu_s() - cpu0
        if not rec["ok"]:
            self.failed += 1
        self.ops.append(rec)
        if self.status is not None:
            with self.tracer.span("bench.status_read"):
                st = self.status.since_last(t0, t1)
            for k in SPARK_KEYS:
                self.layer[f"spark.{k}"] += st[k]
            for k in PYWORKER_KEYS:
                self.layer[f"pyworker.{k}"] += st[f"py_{k}"]
            self.traced_ops += 1
            self.bookkeeping_s += time.time() - t1

    def fail(self, rec: dict, why: str) -> None:
        if rec["ok"]:
            rec["ok"] = False
            self.failed += 1
        print(f"perfbench: {rec['kind']} check failed: {why}"[:2000],
              file=sys.stderr)

    def warmup_op(self) -> dict:
        """The set-up's warm-up call, counted as one attempted operation
        (checked, but not timed as part of the loop)."""
        self.attempted += 1
        return {"kind": "warmup", "ok": True}

    @contextmanager
    def checking(self, rec: dict, what: str, span: str | None = "bench.check"):
        """Untimed work on behalf of ``rec`` (its check, or a warm-up
        call): if it raises, ``rec`` fails and the run goes on."""
        try:
            with self.tracer.span(span) if span else nullcontext():
                yield
        except Exception as e:
            self.fail(rec, f"{what} raised {type(e).__name__}: {e}")

    @contextmanager
    def bookkeeping(self, name: str):
        """Tracing-only work between operations (lineage reads): its wall
        counts as tracing overhead, like the status-store reads."""
        t0 = time.time()
        with self.tracer.span(name):
            yield
        self.bookkeeping_s += time.time() - t0

    def probe_host(self) -> None:
        with self.tracer.span("host.probe"):
            self.samples["host.probe_ms"].append(host_probe_ms())

    def read_jvm_memory(self) -> None:
        with self.tracer.span("bench.jvm_memory"):
            heap, nonheap = jvm_memory_mb(self.spark)
        self.samples["jvm_heap_mb"].append(heap)
        self.samples["jvm_nonheap_mb"].append(nonheap)

    def loop(self, round_fn, min_rounds: int = 4) -> None:
        """Closed loop: whole rounds until the run's seconds are spent, and
        at least ``min_rounds``: the first measured round still runs a
        little warm from JIT compilation, and with four samples the median
        rests on later ones.
        The driver JVM's memory is read after set-up and after the first
        round, so the reading does not depend on how many rounds fit."""
        self.read_jvm_memory()
        t0 = time.time()
        n = 0
        while n < min_rounds or time.time() - t0 < self.seconds:
            self.probe_host()
            self.round = n
            if round_fn(n) is False:
                break
            n += 1
            if n == 1:
                self.read_jvm_memory()
        self.detail["rounds"] = n
        self.detail["loop_s"] = time.time() - t0

    # ---------------------------------------------------------- engine reads
    def read_lineage(self, warehouse: str) -> None:
        """Fold a warehouse's lineage (which codec won each block, bytes
        in and out, encode ms) into the codec metrics."""
        if not self.trace:
            return
        with self.bookkeeping("bench.lineage"):
            files = glob.glob(os.path.join(warehouse, "lineage", "*.parquet"))
            if not files:
                return
            t = pq.read_table(files)
            for row in t.group_by("codec").aggregate(
                    [("n_rows", "count"), ("bytes_in", "sum"),
                     ("bytes_out", "sum"), ("enc_ms", "sum")]).to_pylist():
                c = row["codec"]
                self.layer[f"codec.{c}.blocks"] += row["n_rows_count"]
                self.layer[f"codec.{c}.bytes_in"] += row["bytes_in_sum"]
                self.layer[f"codec.{c}.bytes_out"] += row["bytes_out_sum"]
                self.layer[f"codec.{c}.enc_s"] += row["enc_ms_sum"] / 1e3
            self.layer["engine.blocks_written"] += t.num_rows

    def decode_split(self, warehouses: list) -> None:
        """Decode every block of the warehouses in this process with
        ``blocks.decode_block`` and time it per codec (fragment sets via
        ``decode_cell_fragments``)."""
        if not self.trace:
            return
        B = self.cs["blocks"]
        with self.tracer.span("blocks.decode_block"):
            for wh in warehouses:
                t = pq.read_table(os.path.join(wh, "blocks"),
                                  columns=["bucket", "stripe", "column", "codec",
                                           "frag", "block"])
                frags: dict = defaultdict(list)
                rows = t.to_pylist()
                for r in rows:
                    if r["frag"] is not None and r["frag"] >= 0:
                        frags[(r["bucket"], r["stripe"], r["column"])].append(r)
                        continue
                    self._time_decode(r["codec"], B.decode_block, r["block"])
                for group in frags.values():
                    group.sort(key=lambda r: r["frag"])
                    self._time_decode("frag", B.decode_cell_fragments,
                                      [r["block"] for r in group])

    def _time_decode(self, codec: str, fn, arg) -> None:
        t0 = time.perf_counter()
        try:
            fn(arg)
        except Exception as e:  # the measured reads count bad blocks
            print(f"perfbench: {codec} block skipped in the decode split: {e}",
                  file=sys.stderr)
            return
        self.layer[f"codec.{codec}.dec_s"] += time.perf_counter() - t0

# --------------------------------------------------------------------------
# digests: row count, bytes and an order-independent row hash
# --------------------------------------------------------------------------

def _digests(df, col_sets: dict, *, sha: bool = False) -> dict:
    """{key: (rows, string bytes, hash sum)} for each column set of ``df``,
    all in one aggregation.

    The hash sum adds a per-row hash of the set's columns as an exact
    decimal, so it does not depend on row order; ``sha`` uses sha256 of
    the row instead of the cheaper xxhash64."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("n")]
    for i, cols in enumerate(col_sets.values()):
        if sha:
            row = F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"),
                                                   F.lit("\x00NULL")) for c in cols])
            h = F.conv(F.substring(F.sha2(row, 256), 1, 15), 16, 10)
        else:
            h = F.xxhash64(*cols)
        nbytes = sum((F.coalesce(F.octet_length(c), F.lit(0)) for c in cols),
                     F.lit(0))
        aggs += [F.sum(nbytes.cast("bigint")).alias(f"b{i}"),
                 F.sum(h.cast("decimal(38,0)")).alias(f"h{i}")]
    r = df.agg(*aggs).collect()[0]
    return {k: (int(r["n"]), int(r[f"b{i}"] or 0), str(r[f"h{i}"]))
            for i, k in enumerate(col_sets)}


def _digest(df, cols, *, sha: bool = False) -> tuple:
    return _digests(df, {0: cols}, sha=sha)[0]


def _corpus(run: Run, n_files: int, out: str):
    with run.tracer.span("corpus.generate_corpus"):
        t0 = time.time()
        (run.cs["corpus"].generate_corpus(run.spark, n_files, seed=run.seed)
         .write.mode("overwrite").parquet(out))
        run.layer["corpus.generate_s"] += time.time() - t0
    return run.spark.read.parquet(out)


def _encode(run: Run, df, wh: str, n_buckets: int, token: str) -> dict:
    eng, plan = run.cs["engine"], run.cs["plan"]
    return eng.encode_table(run.spark, df, plan.corpus_plan(), wh,
                            n_buckets=n_buckets, mode="overwrite",
                            input_token=token, fused=True,
                            salt_sample_fraction=0.05)


def _n_buckets(run: Run, content_bytes: int) -> int:
    # bucket count sized by data (~24 MB/bucket), floored at the core count
    return max(run.cores, int(content_bytes // (24 << 20)) + 1)


def _verify(run: Run, df, wh: str, rec: dict) -> None:
    eng, plan = run.cs["engine"], run.cs["plan"]
    with run.checking(rec, "verify_roundtrip"):
        with run.tracer.span("engine.verify_roundtrip"):
            t0 = time.time()
            v = eng.verify_roundtrip(run.spark, df, plan.corpus_plan(), wh)
            run.samples["engine.verify_roundtrip_s"].append(time.time() - t0)
        if not v["ok"] or v["rows_source"] != v["rows_decoded"]:
            run.fail(rec, f"verify_roundtrip: {v}")


# --------------------------------------------------------------------------
# roundtrip
# --------------------------------------------------------------------------

_SUBSETS = [["repo", "lang"], ["path", "content"]]
_ALL = ["repo", "path", "commit", "lang", "content"]


def _zone_stripes(wh: str, lo: str, hi: str) -> tuple:
    """(kept stripes, all stripes, rows in kept stripes) for a string zone
    range on ``repo``, by the overlap rule the decoder applies."""
    t = pq.read_table(os.path.join(wh, "blocks"),
                      columns=["bucket", "stripe", "column", "n_rows",
                               "smin", "smax"])
    t = t.filter(pc.equal(t.column("column"), "repo"))
    lob, hib = lo.encode(), hi.encode()
    kept = rows = 0
    for r in t.to_pylist():
        if r["smin"] is not None and (r["smax"] is None or r["smax"] >= lob) \
                and r["smin"] <= hib:
            kept += 1
            rows += r["n_rows"]
    return kept, t.num_rows, rows


def roundtrip(run: Run) -> None:
    """The encode -> decode round trip, repeated: each round encodes the
    corpus into the same warehouse (overwrite), then reads it back with a
    seeded set of requests, each checked against the source."""
    from pyspark.sql import functions as F

    eng = run.cs["engine"]
    df = _corpus(run, run.sizes["files"], os.path.join(run.work, "corpus"))
    content = df.select(F.sum(F.octet_length("content"))).collect()[0][0]
    nb = _n_buckets(run, content)
    wh = os.path.join(run.work, "wh")
    # the requests: one full read, two column subsets and one zone read of
    # a seeded repo, never the giant one that holds ~30% of the corpus; the
    # seed also picks their order
    sizes = {r["repo"]: r["count"] for r in df.groupBy("repo").count().collect()}
    small = sorted(r for r, n in sizes.items() if n < 0.05 * sum(sizes.values()))
    repo = run.rng.choice(small)
    reqs = [("full", None, None), ("zone", _ALL, (repo, repo))]
    reqs += [("subset", cols, None) for cols in _SUBSETS]
    run.rng.shuffle(reqs)
    with run.tracer.span("bench.expected"):
        expected = _digests(df, {"full": _ALL, **{tuple(c): c for c in _SUBSETS}})
        expected["zone"] = _digest(df.filter(F.col("repo").between(repo, repo)),
                                   _ALL)
    run.detail.update(files=run.sizes["files"], content_bytes=int(content),
                      n_buckets=nb, requests=[[k, c, z] for k, c, z in reqs])

    def want_of(kind, cols):
        return expected[tuple(cols) if kind == "subset" else kind]

    def read(kind, cols, zone):
        if kind == "zone":
            lo, hi = zone
            d = eng.decode_table(run.spark, wh, zone_filter=("repo", lo, hi))
            d = d.filter(F.col("repo").between(lo, hi))
        else:
            d = eng.decode_table(run.spark, wh, columns=cols)
        return _digest(d, cols or _ALL)

    # a warm-up round trip: first-use codegen, worker start and most JIT
    # compilation stay in set-up.  Its encode is checked by the sha256
    # engine.verify_roundtrip; every measured encode must then write the
    # same manifest counts (encode is deterministic), and every read must
    # match the source.
    warm = run.warmup_op()
    want = None
    with run.tracer.span("bench.warmup"):
        t0 = time.time()
        with run.checking(warm, "warm-up encode", span=None):
            want = _encode(run, df, wh, nb, "roundtrip")
        run.layer["engine.prepare_encode_s"] = time.time() - t0
        for kind, cols, zone in reqs:
            with run.checking(warm, f"warm-up {kind} read", span=None):
                got = read(kind, cols, zone)
                if got != want_of(kind, cols):
                    run.fail(warm, f"warm-up {kind} {cols} {zone}: got {got}")
    if want is not None:
        _verify(run, df, wh, warm)
    run.setup_s = time.time() - run.t_start
    counts = ("rows", "bytes_in", "bytes_out")

    def one_round(_n):
        with run.op("encode", "engine.encode") as rec:
            m = _encode(run, df, wh, nb, "roundtrip")
            rec["bytes"] = m["bytes_in"]
            run.layer["engine.buckets"] += m["buckets_encoded_this_run"]
            run.layer["engine.bucket_task_s"] += m["task_wall_sec"]
            run.layer["engine.bytes_out"] += m["bytes_out"]
        if not rec["ok"]:
            return
        run.read_lineage(wh)
        if want is None or [m[k] for k in counts] != [want[k] for k in counts]:
            run.fail(rec, f"manifest {[m[k] for k in counts]} differs from the "
                          "verified warm-up encode")
        for kind, cols, zone in reqs:
            with run.op(kind, f"engine.decode_{kind}") as rec:
                got = read(kind, cols, zone)
                rec["bytes"] = got[1]
            if not rec["ok"]:
                continue
            run.samples[f"engine.decode_{kind}_s"].append(rec["wall"])
            if kind == "zone" and run.trace:
                with run.checking(rec, "zone stripe count"):
                    kept, total, rows = _zone_stripes(wh, *zone)
                    run.samples["engine.zone_stripe_keep_frac"].append(
                        kept / max(total, 1))
                    run.samples["engine.zone_useful_row_frac"].append(
                        got[0] / max(rows, 1))
            if got != want_of(kind, cols):
                run.fail(rec, f"{kind} {cols} {zone}: got {got}, "
                              f"want {want_of(kind, cols)}")

    run.loop(one_round)
    run.decode_split([wh])
    # an op sample is one round trip: a round's encode and reads, all ok
    rounds: dict = defaultdict(list)
    for r in run.ops:
        rounds[r["round"]].append(r)
    whole = [ops for ops in rounds.values()
             if len(ops) == 1 + len(reqs) and all(r["ok"] for r in ops)]
    run.samples["op_s"] = [sum(r["wall"] for r in ops) for ops in whole]
    run.samples["op_cpu_s"] = [sum(r["cpu"] for r in ops) for ops in whole]
    n = max(sum(r["kind"] == "encode" for r in run.ops), 1)
    for k in ("engine.buckets", "engine.bucket_task_s", "engine.bytes_out"):
        run.layer[k] /= n
    _per_op(run, n)
    run.detail["stored_ratio"] = (want["bytes_out"] / want["bytes_in"]
                                  if want else None)


def _per_op(run: Run, n: int) -> None:
    """Lineage was folded once per encode op: report it per op."""
    for c in CODECS:
        for f in ("blocks", "bytes_in", "bytes_out", "enc_s"):
            run.layer[f"codec.{c}.{f}"] /= n
    run.layer["engine.blocks_written"] /= n


# --------------------------------------------------------------------------
# stream_ingest
# --------------------------------------------------------------------------

def stream_ingest(run: Run) -> None:
    st, plan = run.cs["streaming"], run.cs["plan"]
    n_parts, per = run.sizes["parts"], run.sizes["files_per_part"]
    per_op = run.sizes["files_per_op"]
    staging = os.path.join(run.work, "staging")
    # a seeded corpus cut into files of ``per`` rows; file 0 holds the
    # corpus edge rows (giant cell, unicode, ...).  Files 0-3 are the
    # warm-up call's four micro-batches: per-batch CPU falls over the first
    # few batches as the JIT compiles, and they keep that out of the loop.
    # The pool outlasts the loop, so a longer run measures more batches.
    with run.tracer.span("corpus.generate_corpus_arrow"):
        t0 = time.time()
        table = run.cs["corpus"].generate_corpus_arrow(n_parts * per, seed=run.seed)
        run.layer["corpus.generate_s"] += time.time() - t0
    os.makedirs(staging)
    pool = []
    for i in range(n_parts):
        pool.append(os.path.join(staging, f"part-{i:05d}.parquet"))
        pq.write_table(table.slice(i * per, per), pool[-1])
    src, wh = os.path.join(run.work, "stream_in"), os.path.join(run.work, "swh")
    ckpt = os.path.join(run.work, "ckpt")
    os.makedirs(src)

    def ingest(files: list) -> tuple:
        for p in files:
            os.replace(p, os.path.join(src, os.path.basename(p)))
        before = len(st.batch_warehouses(wh)) if os.path.exists(wh) else 0
        with run.tracer.span("streaming.stream_encode"):
            q = st.stream_encode(run.spark, src, wh, plan.corpus_plan(),
                                 checkpoint_dir=ckpt)
        return q, before

    warm = run.warmup_op()
    with run.tracer.span("bench.warmup"):
        t0 = time.time()
        with run.checking(warm, "warm-up stream_encode", span=None):
            ingest(pool[:4])
        run.layer["engine.prepare_encode_s"] = time.time() - t0
    run.setup_s = time.time() - run.t_start
    queue = pool[4:]

    def one_round(_n):
        if len(queue) < per_op:
            print("perfbench: stream_ingest input exhausted", file=sys.stderr)
            return False
        files = [queue.pop(0) for _ in range(per_op)]
        want_rows = per * per_op
        with run.op("ingest", "streaming.ingest") as rec:
            q, before = ingest(files)
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            rec["lats"] = [p["durationMs"]["triggerExecution"] / 1e3
                           for p in progress]
            for p in progress:
                d = p["durationMs"]
                run.layer["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                run.layer["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
                run.layer["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
            run.layer["streaming.batches"] += len(progress)
        if not rec["ok"]:
            return
        with run.checking(rec, "batch manifests"):
            subs = st.batch_warehouses(wh)[before:]
            mans = [run.cs["engine"].read_manifest(s) for s in subs]
            rec["bytes"] = sum(m["bytes_in"] for m in mans)
            for m in mans:
                run.layer["engine.buckets"] += m["buckets_encoded_this_run"]
                run.layer["engine.bucket_task_s"] += m["task_wall_sec"]
                run.layer["engine.bytes_out"] += m["bytes_out"]
            for s in subs:
                run.read_lineage(s)
            got_rows = sum(m["rows"] for m in mans)
            if len(subs) != per_op or got_rows != want_rows:
                run.fail(rec, f"{len(subs)} batches with {got_rows} rows, "
                              f"want {per_op} with {want_rows}")

    run.loop(one_round)
    ingests = [r for r in run.ops if r["kind"] == "ingest"]
    # every batch, warm-up included, decoded back and compared with the
    # files the stream read; a mismatch fails every ingest
    bad = None
    try:
        with run.tracer.span("bench.check"):
            with run.tracer.span("streaming.stream_decode"):
                t0 = time.time()
                got = _digest(st.stream_decode(run.spark, wh), _ALL, sha=True)
                run.layer["streaming.stream_decode_s"] = time.time() - t0
            want = _digest(run.spark.read.parquet(src), _ALL, sha=True)
        if got != want:
            bad = f"stream_decode digest {got} != source {want}"
    except Exception as e:
        bad = f"stream_decode raised {type(e).__name__}: {e}"
    if bad:
        for rec in ingests + [warm]:
            run.fail(rec, bad)
    subs = st.batch_warehouses(wh) if os.path.exists(wh) else []
    run.layer["streaming.warehouses"] = len(subs)
    run.decode_split(subs)
    # an op sample is one micro-batch: its latency from the streaming
    # query's progress, its CPU as the call's share per batch
    run.samples["op_s"] = [x for r in ingests if r["ok"] for x in r["lats"]]
    run.samples["op_cpu_s"] = [r["cpu"] / len(r["lats"]) for r in ingests
                               if r["ok"] and r["lats"]]
    n = max(len(ingests), 1)
    for k in ("streaming.batches", "streaming.add_batch_s",
              "streaming.query_planning_s", "streaming.wal_commit_s",
              "engine.buckets", "engine.bucket_task_s", "engine.bytes_out"):
        run.layer[k] /= n
    _per_op(run, n)
    run.detail.update(parts=n_parts, files_per_part=per, files_per_op=per_op,
                      batch_latencies_s=[x for r in ingests for x in r.get("lats", [])])


WORKLOADS = {"roundtrip": roundtrip, "stream_ingest": stream_ingest}
