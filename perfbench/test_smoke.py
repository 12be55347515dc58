"""Smoke test of the benchmark itself, at tiny sizes.

    python -m pytest perfbench/test_smoke.py -q

Runs every workload through the real command (a couple of thousand
corpus files, set in a scratch copy of provenance.json) and
checks that every metric BENCHMARK.json names is emitted with its unit,
that the detail line carries each long-named metric with a sample count,
and that a corrupted block in a scratch warehouse is counted as a
failure instead of stopping the run.
"""

from __future__ import annotations

import fnmatch
import glob
import json
import os
import shutil
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["roundtrip", "stream_ingest"]
TINY = {"roundtrip": {"files": 2000},
        "stream_ingest": {"parts": 6, "files_per_part": 200, "files_per_op": 2}}


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _prov() -> dict:
    with open(os.path.join(HERE, "provenance.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def checkout(tmp_path_factory):
    """A scratch checkout: the benchmark with tiny sizes, and the package."""
    root = tmp_path_factory.mktemp("checkout")
    shutil.copytree(HERE, root / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    os.symlink(os.path.join(ROOT, "colonnade_spark"), root / "colonnade_spark")
    prov = _prov()
    for w, sizes in TINY.items():
        prov["workloads"][w]["sizes"].update(sizes)
    (root / "perfbench" / "provenance.json").write_text(json.dumps(prov))
    return root


def _run(root, workload: str, trace: int) -> tuple:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "3", "--seconds", "1", "--trace", str(trace)],
                       cwd=root, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_benchmark_json_matches_the_code():
    sys.path.insert(0, HERE)
    import run

    bench, prov = _bench(), _prov()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        run.per_layer_units()
    assert [w["name"] for w in bench["workloads"]] == WORKLOADS
    assert set(prov["workloads"]) == set(WORKLOADS)
    # every per-layer metric says which end-to-end metric it should move
    for m in bench["per_layer"]:
        assert any(fnmatch.fnmatch(m["name"], pat)
                   for pat in prov["per_layer_moves"]), m["name"]
    # the family map covers the whole registry
    sys.path.insert(0, ROOT)
    from colonnade_spark.queries import registry

    assert set(prov["query_families"]) == set(registry())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_emitted(checkout, workload):
    bench, prov = _bench(), _prov()
    for trace, names in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
        detail, result = _run(checkout, workload, trace)
        assert result["correct"] is True and result["failed"] == 0, detail
        assert result["attempted"] >= 1
        assert set(result["metrics"]) == {m["name"] for m in names}
        for m in names:
            got = result["metrics"][m["name"]]
            assert got["unit"] == m["unit"]
            assert isinstance(got["value"], (int, float))
        long_names = (prov["detail_line_metrics"]["all"]
                      + prov["detail_line_metrics"][workload])
        assert set(detail["metrics"]) == set(long_names)
        for v in detail["metrics"].values():
            assert v["unit"] and v["n"] >= 1
    assert os.path.exists(checkout / ".perfbench_out"
                          / f"spans-{workload}-3.jsonl")


def test_directory_without_the_program_fails(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "roundtrip", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_corrupted_block_counts_as_failure(tmp_path):
    """roundtrip with one payload byte flipped after every encode: the reads
    that touch the bad block fail (crc mismatch) and are counted; the run
    finishes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, HERE)
    import run
    import workloads

    cs = run._import_program()
    real_encode = cs["engine"].encode_table

    def encode_then_corrupt(spark, df, plan, wh, **kw):
        manifest = real_encode(spark, df, plan, wh, **kw)
        f = sorted(glob.glob(os.path.join(wh, "blocks", "*", "*.parquet")))[0]
        t = pq.read_table(f)
        blocks = t.column("block").to_pylist()
        i = t.column("column").to_pylist().index("content")
        b = bytearray(blocks[i])
        b[-1] ^= 0xFF
        blocks[i] = bytes(b)
        t = t.set_column(t.schema.get_field_index("block"), "block",
                         pa.array(blocks, pa.large_binary()))
        pq.write_table(t, f)
        return manifest

    cs["engine"] = types.SimpleNamespace(
        **{k: getattr(cs["engine"], k) for k in dir(cs["engine"])
           if not k.startswith("__")})
    cs["engine"].encode_table = encode_then_corrupt
    work = str(tmp_path / "work")
    os.makedirs(work)
    run._keep_writes_in(work, cs)
    r = workloads.Run(cs, work, seed=3, seconds=1, trace=False,
                      sizes={"files": 2000})
    try:
        r.start_session()
        workloads.roundtrip(r)
    finally:
        run._stop(r.spark)
    assert r.attempted >= 1 + 4 * 5  # warm-up, then four rounds of 5 ops
    assert 0 < r.failed <= r.attempted
    # every full read touches the bad block, whatever the seed's zone read
    full = [op for op in r.ops if op["kind"] == "full"]
    assert full and not any(op["ok"] for op in full)
