"""The north-star resumability claim, tested literally: SIGKILL an encode
job mid-run, rerun with mode=resume, and require (a) completed buckets are
not re-encoded (byte-identical files, untouched mtimes), (b) the final
warehouse verifies sha256-clean."""

import contextlib
import glob
import os
import signal
import subprocess
import sys
import threading
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS = "/tmp/colonnade_killtest_corpus"
WH = "/tmp/colonnade_killtest_wh"
N_FILES = 30_000
N_BUCKETS = 12
KILL_ATTEMPTS = 3
DEADLINE_S = 540


@contextlib.contextmanager
def _spark_deadline(spark, seconds: float = DEADLINE_S):
    """Cancel every running Spark job once ``seconds`` have passed inside
    the block: a hung in-process action then raises, and only the test
    running it fails, instead of the whole suite stalling."""
    timer = threading.Timer(seconds, spark.sparkContext.cancelAllJobs)
    timer.daemon = True
    timer.start()
    try:
        yield
    finally:
        timer.cancel()


def _kill_midway(engine, n_nonempty: int) -> list:
    """Run the encode CLI in a subprocess at low parallelism on a fresh
    warehouse and SIGKILL it while 3 <= markers < ``n_nonempty``; return
    the markers published once the kill has settled."""
    import shutil

    shutil.rmtree(WH, ignore_errors=True)
    cmd = [sys.executable, os.path.join(REPO, "scripts", "submit_job.py"),
           "encode", "--input", CORPUS, "--warehouse", WH,
           "--n-buckets", str(N_BUCKETS), "--cores", "2", "--mode", "overwrite"]
    # own process group: the SIGKILL must take out the driver AND its JVM
    # child together — an orphaned JVM keeps finishing bucket tasks (and
    # writing markers) for several seconds after the driver dies, racing
    # the marker snapshot below
    proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL,
                            start_new_session=True)
    deadline = time.time() + 400
    markers = []
    try:
        while time.time() < deadline:
            markers = engine.list_markers(WH) if os.path.isdir(WH) else []
            # past the window (every bucket marked): kill anyway, the
            # caller sees a full snapshot and retries on a fresh warehouse
            if len(markers) >= 3 or proc.poll() is not None:
                break
            time.sleep(0.1)
        assert proc.poll() is None, "job finished before we could kill it — " \
            f"{len(markers)} markers; raise N_FILES"
        os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
    finally:
        proc.wait()
    time.sleep(1.0)  # let any in-flight marker appends settle
    return engine.list_markers(WH)


@pytest.fixture(scope="module")
def killed(spark):
    """One SIGKILLed encode run, snapshotted before anything resumes it.

    The kill point is deterministic: the number of non-empty buckets is
    counted up front with ``assign_buckets`` on the same corpus and
    parameters as the CLI, and a kill whose snapshot shows every one of
    them marked (the last buckets finished between the poll and the kill)
    is repeated on a fresh warehouse, up to KILL_ATTEMPTS times.  The
    snapshot holds the markers, the blocks files' mtimes and each marked
    bucket's blocks/lineage metadata, so the tests below do not depend on
    which of them runs first."""
    import pyarrow.parquet as pq

    from colonnade_spark import engine
    from colonnade_spark.corpus import generate_corpus
    from colonnade_spark.plan import corpus_plan

    plan = corpus_plan()
    with _spark_deadline(spark):
        if not os.path.exists(os.path.join(CORPUS, "_SUCCESS")):
            generate_corpus(spark, N_FILES, seed=42).write.mode(
                "overwrite").parquet(CORPUS)
        df = spark.read.parquet(CORPUS)
        # the CLI's encode_table defaults: target_salt_bytes 64 MiB, no sample
        n_nonempty = (engine.assign_buckets(plan.project(df), plan, N_BUCKETS,
                                            target_salt_bytes=64 << 20)
                      .select("__bucket").distinct().count())
    assert n_nonempty > 3, n_nonempty
    for _ in range(KILL_ATTEMPTS):
        markers = _kill_midway(engine, n_nonempty)
        if len(markers) < n_nonempty:
            break
    else:
        pytest.fail(f"every bucket was marked before the kill in "
                    f"{KILL_ATTEMPTS} attempts")

    meta_cols = ["stripe", "bytes_in", "bytes_out"]
    published = {}
    for m in markers:
        b = m["bucket"]
        bpath = os.path.join(WH, "blocks", f"bucket={b}", "part-0.parquet")
        lpath = os.path.join(WH, "lineage", f"bucket_{b}.parquet")
        published[b] = (
            pq.read_table(bpath, columns=meta_cols) if os.path.exists(bpath)
            else None,
            pq.read_table(lpath, columns=meta_cols) if os.path.exists(lpath)
            else None)
    mtimes = {p: os.path.getmtime(p) for p in
              glob.glob(os.path.join(WH, "blocks", "bucket=*",
                                     "part-0.parquet"))}
    return {"df": df, "plan": plan, "markers": markers,
            "published": published, "mtimes": mtimes}


def test_sigkill_then_resume_fused(killed):
    """Markers are written per bucket from INSIDE the shuffle task, after
    that bucket's blocks and lineage are published, so the killed run
    leaves a valid partial checkpoint: every marked bucket has both files,
    and their per-block metadata adds up to the marker's stripe count and
    byte totals.  All markers carry one fingerprint."""
    markers = killed["markers"]
    assert markers, "kill landed before any bucket completed"
    assert len({m["fingerprint"] for m in markers}) == 1
    for m in markers:
        blocks_meta, lineage_meta = killed["published"][m["bucket"]]
        assert blocks_meta is not None, f"bucket {m['bucket']}: no blocks"
        assert lineage_meta is not None, f"bucket {m['bucket']}: no lineage"
        for meta in (blocks_meta, lineage_meta):
            cols = meta.to_pydict()
            assert max(cols["stripe"]) + 1 == m["stripes"], m
            assert sum(cols["bytes_in"]) == m["bytes_in"], m
            assert sum(cols["bytes_out"]) == m["bytes_out"], m


def test_sigkill_then_resume(spark, killed):
    """A resume of the killed run anti-joins the completed buckets out
    before the shuffle, never rewrites their files, and ends with a
    warehouse that round-trips the whole corpus."""
    from colonnade_spark import engine

    df, plan = killed["df"], killed["plan"]
    marked = {m["bucket"] for m in killed["markers"]}
    assert marked, "kill landed before any bucket completed"

    # resume in-process (same corpus, same plan → same fingerprint)
    with _spark_deadline(spark):
        manifest = engine.encode_table(spark, df, plan, WH,
                                       n_buckets=N_BUCKETS, mode="resume",
                                       input_token=CORPUS)
        summary = engine.verify_roundtrip(spark, df, plan, WH)
    assert manifest["buckets_resumed"] == len(marked)
    assert manifest["buckets_encoded_this_run"] >= 1

    # completed buckets untouched
    for p, mt in killed["mtimes"].items():
        b = int(p.split("bucket=")[1].split("/")[0])
        if b in marked:
            assert os.path.getmtime(p) == mt, f"bucket {b} was re-encoded"
    assert summary["ok"] and summary["rows_decoded"] == N_FILES


def test_spark_deadline_fails_a_hung_action(spark):
    """The deadline is enforced: an action still running when it expires
    raises, well before the action itself would end."""
    def hang(batches):
        time.sleep(120)
        yield from batches

    t0 = time.time()
    with pytest.raises(Exception, match="cancel"):
        with _spark_deadline(spark, seconds=2):
            spark.range(1, numPartitions=1).mapInArrow(hang, "id bigint").collect()
    assert time.time() - t0 < 60
