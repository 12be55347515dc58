"""Benchmark for colonnade_spark: one workload per invocation.

    python3 perfbench/run.py --workload roundtrip --seed 1 --seconds 16 --trace 0

Run from the root of a checkout.  Workloads: roundtrip, stream_ingest
(see provenance.json for sizes, why each was chosen, and
which layers each stresses and bypasses).  Everything the run
writes stays under ``.perfbench_work/`` and ``.perfbench_out/`` in the
checkout; compiled codec kernels are cached in ``.perfbench_work/native``.

Output: a detail line (the per-workload metrics under their long names,
each with unit and sample count), then as the LAST line one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` records spans around the calls into
each layer, reads Spark's status stores after every operation, reports
the per-layer metrics and writes the spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = {"setup_s": "s", "op_cpu_s": "s", "mb_per_cpu_s": "MB/cpu_s",
       "peak_mem_mb": "MB", "ok_frac": "fraction"}


def per_layer_units() -> dict:
    """Every per-layer metric the traced run emits, with its unit."""
    from tracing import LAYERS, PYWORKER_KEYS, SPARK_KEYS

    from workloads import CODECS

    u = {"session.start_s": "s", "shipping.ship_s": "s",
         "corpus.generate_s": "s", "engine.prepare_encode_s": "s",
         "engine.assign_buckets_s": "s", "engine.encode_table_s": "s",
         "engine.bucket_task_s": "s", "engine.buckets": "count",
         "engine.blocks_written": "count", "engine.bytes_out": "bytes"}
    for c in CODECS:
        u.update({f"codec.{c}.blocks": "count", f"codec.{c}.bytes_in": "bytes",
                  f"codec.{c}.bytes_out": "bytes", f"codec.{c}.enc_s": "s",
                  f"codec.{c}.dec_s": "s"})
    u.update({"engine.decode_full_s": "s", "engine.decode_subset_s": "s",
              "engine.decode_zone_s": "s", "engine.zone_stripe_keep_frac": "fraction",
              "engine.zone_useful_row_frac": "fraction",
              "engine.verify_roundtrip_s": "s"})
    for k in SPARK_KEYS:
        u[f"spark.{k}"] = ("bytes" if k.endswith("_bytes") else
                           "s" if k.endswith("_s") else "count")
    for k in PYWORKER_KEYS:
        u[f"pyworker.{k}"] = "s" if k.endswith("_s") else "bytes"
    u.update({"streaming.batches": "count", "streaming.add_batch_s": "s",
              "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
              "streaming.encode_call_s": "s", "streaming.stream_decode_s": "s",
              "streaming.warehouses": "count"})
    u["host.probe_ms"] = "ms"
    for layer in LAYERS:
        u[f"self.{layer}_s"] = "s"
    u.update({"trace.wall_s": "s", "trace.unattributed_frac": "fraction",
              "trace.overhead_frac": "fraction"})
    return u


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else _median(xs)


def _import_program() -> dict:
    sys.path.insert(0, ROOT)
    from colonnade_spark import (blocks, corpus, engine, plan, session,
                                 shipping, streaming)
    return {"blocks": blocks, "corpus": corpus, "engine": engine, "plan": plan,
            "session": session, "shipping": shipping, "streaming": streaming}


def _keep_writes_in(work: str, cs: dict) -> None:
    """Point every scratch location of Spark, the JVM, the Python workers
    and the codec-kernel build at directories inside the checkout."""
    tmp = os.path.join(work, "tmp")
    native = os.path.join(ROOT, ".perfbench_work", "native")
    for d in (tmp, native):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["COLONNADE_NATIVE_DIR"] = native
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')} "
        "pyspark-shell")
    # the package zip for executors defaults to /tmp
    ship = cs["shipping"]
    zip_into = ship.package_zip
    ship.package_zip = lambda dest_dir=tmp: zip_into(dest_dir)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    if spark is None:
        return
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def _memory(run, rss) -> dict:
    """peak_mem_mb and its parts: the driver JVM's heap after full
    collections, the lower of its readings after set-up and after the first
    round (state the driver keeps across operations shows in both; state
    still waiting for Spark's context cleaner in only one), plus the peak
    RSS (high-water marks) of the Python processes the JVM forks.  JVM non-heap and the RSS of the whole tree
    (JVM included) are printed for reference only: they follow JIT
    activity, heap sizing and collection timing more than the workload."""
    heap = min(run.samples["jvm_heap_mb"], default=0.0)
    py = rss.peak_python_bytes / (1 << 20)
    n = len(run.samples["jvm_heap_mb"])
    return {"peak_mem_mb": (heap + py, "MB", n),
            "jvm_heap_mb": (heap, "MB", n),
            "jvm_nonheap_mb": (max(run.samples["jvm_nonheap_mb"], default=0.0),
                               "MB", n),
            "pyworker_peak_rss_mb": (py, "MB", 1),
            "peak_rss_mb": (rss.peak_bytes / (1 << 20), "MB", 1)}


def _rate(ops: list, scale: float, clock: str = "wall") -> float:
    """Bytes per second of the ops' wall (or CPU), divided by ``scale``."""
    secs = sum(r[clock] for r in ops)
    return sum(r["bytes"] for r in ops) / secs / scale if secs else 0.0


def _detail_metrics(name: str, run, mem: dict) -> dict:
    ok = [r for r in run.ops if r["ok"]]
    op = run.samples["op_s"]
    m = {"setup_s": (run.setup_s, "s", 1), **mem,
         "failed_frac": (run.failed / max(run.attempted, 1), "fraction",
                         run.attempted),
         "op_p50_s": (_median(op), "s", len(op)),
         "mb_per_s": (_rate(ok, 1e6), "MB/s", len(ok))}
    if name == "roundtrip":
        enc = [r for r in ok if r["kind"] == "encode"]
        m["encode_gbps"] = (_rate(enc, 1e9), "GB/s", len(enc))
        m["stored_ratio"] = (run.detail.get("stored_ratio"), "ratio", 1)
        full = [r for r in ok if r["kind"] == "full"]
        m["decode_gbps"] = (_rate(full, 1e9), "GB/s", len(full))
        lat = [r["wall"] for r in ok if r["kind"] != "encode"]
        m["read_latency_p50_s"] = (_median(lat), "s", len(lat))
        m["read_latency_p90_s"] = (_p90(lat), "s", len(lat))
    else:
        m["ingest_mbps"] = (_rate(ok, 1e6), "MB/s", len(ok))
        m["batch_latency_p50_s"] = (_median(op), "s", len(op))
        m["batch_latency_p90_s"] = (_p90(op), "s", len(op))
    return {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in m.items()}


def _per_layer(run, units: dict, wall: float, root: int) -> dict:
    t = run.tracer
    L = {k: 0.0 for k in units}
    L.update({k: v for k, v in run.layer.items() if k in L})
    kinds = {}
    for r in run.ops:
        kinds.setdefault(r["kind"], []).append(r)
    n_enc = len(kinds.get("encode", [])) + len(kinds.get("ingest", []))
    if n_enc:
        within = {"engine.encode", "streaming.ingest"}
        for name in ("assign_buckets", "encode_table"):
            L[f"engine.{name}_s"] = t.total(f"engine.{name}", within) / n_enc
        if "ingest" in kinds:
            L["streaming.encode_call_s"] = L["engine.encode_table_s"]
    for kind in ("full", "subset", "zone"):
        L[f"engine.decode_{kind}_s"] = _median(run.samples[f"engine.decode_{kind}_s"])
    for k in ("engine.zone_stripe_keep_frac", "engine.zone_useful_row_frac",
              "engine.verify_roundtrip_s"):
        L[k] = _median(run.samples[k])
    n_ops = max(run.traced_ops, 1)
    for k in L:
        if k.startswith(("spark.", "pyworker.")):
            L[k] = run.layer[k] / n_ops
    L["host.probe_ms"] = _median(run.samples["host.probe_ms"])
    selfs, unattributed = t.self_times(root)
    for layer, v in selfs.items():
        L[f"self.{layer}_s"] = v
    L["trace.wall_s"] = wall
    L["trace.unattributed_frac"] = unattributed / wall
    L["trace.overhead_frac"] = run.bookkeeping_s / max(wall - run.bookkeeping_s, 1e-9)
    return L


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    with open(os.path.join(HERE, "provenance.json")) as f:
        prov = json.load(f)
    if args.workload not in prov["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        cs = _import_program()
    except ImportError as e:
        print(f"perfbench: cannot import colonnade_spark from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    import workloads
    from tracing import RssSampler, cpu_times, steal_frac

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _keep_writes_in(work, cs)
    sizes = dict(prov["workloads"][args.workload]["sizes"])
    run = workloads.Run(cs, work, args.seed, args.seconds, bool(args.trace), sizes)
    if args.trace:
        run.tracer.patch(cs)
    cpu0 = cpu_times()
    try:
        with RssSampler() as rss:
            with run.tracer.span("run") as root:
                t0 = time.time()
                run.t_start = t0
                run.start_session()
                workloads.WORKLOADS[args.workload](run)
                wall = time.time() - t0
    finally:
        _stop(run.spark)
        run.tracer.unpatch()
        shutil.rmtree(work, ignore_errors=True)

    mem = _memory(run, rss)
    ok = [r for r in run.ops if r["ok"]]
    detail = _detail_metrics(args.workload, run, mem)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "metrics": detail,
                      "sizes": run.detail,
                      "op_samples_s": run.samples["op_s"],
                      "op_cpu_samples_s": run.samples["op_cpu_s"],
                      "host_probe_ms": run.samples["host.probe_ms"],
                      "jvm_heap_readings_mb": run.samples["jvm_heap_mb"],
                      "host_steal_frac": steal_frac(cpu0, cpu_times())}))
    if args.trace:
        units = per_layer_units()
        vals = _per_layer(run, units, wall, root["id"])
        metrics = {k: {"value": vals[k], "unit": u} for k, u in units.items()}
        run.tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                     f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        vals = {"setup_s": run.setup_s,
                "op_cpu_s": _median(run.samples["op_cpu_s"]),
                "mb_per_cpu_s": _rate(ok, 1e6, "cpu"),
                "peak_mem_mb": mem["peak_mem_mb"][0],
                "ok_frac": (run.attempted - run.failed) / max(run.attempted, 1)}
        metrics = {k: {"value": vals[k], "unit": u} for k, u in E2E.items()}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
