"""Streaming ingestion: file-source readStream → foreachBatch → resumable
per-batch encode jobs; incremental pickup of new files; union decode with
sha-equality (the streaming generalization of the reference's
encodeCsvStream + continuation resume, SURVEY.md §2.7)."""

import os

import pytest

from colonnade_spark import engine, streaming
from colonnade_spark.corpus import generate_corpus
from colonnade_spark.plan import corpus_plan


def test_stream_encode_ingests_and_resumes_incrementally(spark, tmp_path):
    src = str(tmp_path / "incoming")
    wh = str(tmp_path / "wh")
    plan = corpus_plan()

    # two initial files → two micro-batches (maxFilesPerTrigger=1)
    df1 = generate_corpus(spark, 120, seed=1)
    df1.coalesce(1).write.mode("append").parquet(src)
    df2 = generate_corpus(spark, 80, seed=2)
    df2.coalesce(1).write.mode("append").parquet(src)

    streaming.stream_encode(spark, src, wh, plan, n_buckets=2)
    batches = streaming.batch_warehouses(wh)
    assert len(batches) == 2
    m = streaming.stream_manifest(wh)
    assert m["rows"] == 200 and m["batches"] == 2
    # micro-batches run on the fused (in-shuffle) encode path
    assert all(engine.read_manifest(b).get("fused") is True for b in batches)

    decoded = streaming.stream_decode(spark, wh)
    assert decoded.count() == 200
    # full sha-equality against the union of sources
    src_df = spark.read.parquet(src)
    from pyspark.sql import functions as F
    j = (decoded.select("repo", "path", "commit",
                        F.sha2("content", 256).alias("h_d"))
         .join(src_df.select("repo", "path", "commit",
                             F.sha2("content", 256).alias("h_s")),
               ["repo", "path", "commit"], "full"))
    bad = j.filter("h_d IS NULL OR h_s IS NULL OR h_d <> h_s").count()
    assert bad == 0

    # a third file arrives later: re-invoking processes ONLY the new file
    before = {b: os.path.getmtime(os.path.join(b, "manifest.json"))
              for b in batches}
    df3 = generate_corpus(spark, 50, seed=3)
    df3.coalesce(1).write.mode("append").parquet(src)
    streaming.stream_encode(spark, src, wh, plan, n_buckets=2)
    batches2 = streaming.batch_warehouses(wh)
    assert len(batches2) == 3
    assert engine.read_manifest(batches2[-1]).get("fused") is True
    for b, t in before.items():  # old batches untouched
        assert os.path.getmtime(os.path.join(b, "manifest.json")) == t
    assert streaming.stream_manifest(wh)["rows"] == 250
    assert streaming.stream_decode(spark, wh).count() == 250


def test_stream_decode_empty_warehouse_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        streaming.stream_decode(spark, str(tmp_path / "nope"))


def test_stream_windowed_counts_watermark_drops_late(spark, tmp_path):
    """Watermarked windowed agg: windows finalize when the watermark passes
    their end; an event arriving (in a later restart) far behind the
    watermark is dropped — not re-counted into a finalized window."""
    from datetime import datetime

    src = str(tmp_path / "ev")
    out = str(tmp_path / "agg")
    ckpt = str(tmp_path / "ckpt")

    def write(rows):
        spark.createDataFrame(rows, "ts timestamp, event_type string") \
            .coalesce(1).write.mode("append").parquet(src)

    # run 1: events in hour 10 and hour 13 → watermark advances to
    # 13:00 - 30min = 12:30, finalizing the hour-10 window
    write([(datetime(2026, 1, 1, 10, 5), "a"),
           (datetime(2026, 1, 1, 10, 20), "a"),
           (datetime(2026, 1, 1, 13, 0), "b")])
    streaming.stream_windowed_counts(spark, src, out, checkpoint_dir=ckpt)
    got1 = {(r["win_start"].hour, r["event_type"]): r["n_events"]
            for r in spark.read.parquet(out).collect()}
    assert got1.get((10, "a")) == 2          # hour-10 window finalized

    # run 2 (same checkpoint → watermark persisted): one LATE event for the
    # finalized hour-10 window plus one on-time event that closes hour 13
    write([(datetime(2026, 1, 1, 10, 40), "a"),    # late: behind watermark
           (datetime(2026, 1, 1, 15, 0), "c")])
    streaming.stream_windowed_counts(spark, src, out, checkpoint_dir=ckpt)
    got2 = {(r["win_start"].hour, r["event_type"]): r["n_events"]
            for r in spark.read.parquet(out).collect()}
    assert got2[(10, "a")] == 2              # late event dropped
    assert got2.get((13, "b")) == 1          # hour-13 finalized by 15:00


def test_stream_dedup_exact_stateful(spark, tmp_path):
    """applyInPandasWithState keep-first dedup: duplicates within a batch
    AND across later batches are dropped; state survives via checkpoint."""
    src = str(tmp_path / "docs")
    out = str(tmp_path / "uniq")
    ckpt = str(tmp_path / "ckpt")

    def write(rows):
        spark.createDataFrame(rows, "doc_id long, content string") \
            .coalesce(1).write.mode("append").parquet(src)

    write([(1, "alpha"), (2, "beta"), (3, "alpha")])     # in-batch dup
    streaming.stream_dedup_exact(spark, src, checkpoint_dir=ckpt,
                                 out_dir=out, text_col="content")
    got = {r["content"] for r in spark.read.parquet(out).collect()}
    assert got == {"alpha", "beta"}

    # later batch: one cross-batch duplicate, one new
    write([(4, "beta"), (5, "gamma")])
    streaming.stream_dedup_exact(spark, src, checkpoint_dir=ckpt,
                                 out_dir=out, text_col="content")
    rows = spark.read.parquet(out).collect()
    contents = sorted(r["content"] for r in rows)
    assert contents == ["alpha", "beta", "gamma"]        # beta not re-emitted


def test_stream_dedup_near_simhash_bucketed(spark, tmp_path):
    """Streaming near-dedup: SimHash-keyed state, MinHash-verified drops.
    Expectations derive from the documented contract — a later arrival is
    dropped iff its SimHash collides with a kept doc AND estimated Jaccard
    >= threshold; hamming>0 near-dups pass through (batch LSH's job)."""
    import numpy as np

    from colonnade_spark.textops import minhash_signature_batch, simhash_batch

    rng = np.random.default_rng(7)
    def word():
        return "".join(rng.choice(list("abcdefghij"), size=8))
    base = [" ".join(word() for _ in range(60)) for _ in range(20)]
    near = [t + " x" for t in base]              # tiny-change near-dups
    fresh = [f"completely different document {i} " * 30 for i in range(5)]

    s_base, s_near = simhash_batch(base), simhash_batch(near)
    m_base = np.array(minhash_signature_batch(base))
    m_near = np.array(minhash_signature_batch(near))
    est = (m_base == m_near).mean(axis=1)
    expect_dropped = {i for i in range(20)
                      if s_base[i] == s_near[i] and est[i] >= 0.8}
    assert expect_dropped, "fixture must produce at least one collision"

    src = str(tmp_path / "in")
    rows1 = [(f"d{i}", base[i]) for i in range(20)]
    rows2 = ([(f"n{i}", near[i]) for i in range(20)]
             + [(f"f{i}", fresh[i]) for i in range(5)]
             + [("d0-exact", base[0])])           # exact repeat, later batch
    spark.createDataFrame(rows1, "id string, content string") \
        .coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, "id string, content string") \
        .coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "out")
    streaming.stream_dedup_near(
        spark, src, checkpoint_dir=str(tmp_path / "ckpt"), out_dir=out,
        text_col="content", threshold=0.8)
    kept = {r["id"] for r in spark.read.parquet(out).collect()}
    assert {f"f{i}" for i in range(5)} <= kept           # fresh survive
    # micro-batch file order is not write order → keep-FIRST is order-
    # agnostic per colliding group: exactly ONE survivor per near-dup pair
    for i in range(20):
        group = {f"d{i}", f"n{i}"} | ({"d0-exact"} if i == 0 else set())
        survivors = kept & group
        if i in expect_dropped:
            assert len(survivors) == 1, (i, survivors)
        elif i == 0:
            # n0 passes (no collision); the exact repeat still dedups
            assert f"n{i}" in kept and len(kept & {"d0", "d0-exact"}) == 1
        else:
            assert {f"d{i}", f"n{i}"} <= kept, (i, survivors)


def test_stream_sessionize_merges_and_restarts(spark, tmp_path):
    """Native session_window sessionization: events within the 30-min gap
    merge into one session; a restart with the same checkpoint EXTENDS a
    still-open session rather than double-counting it, and the session
    finalizes once the watermark passes its end+gap."""
    from datetime import datetime

    src = str(tmp_path / "ev")
    out = str(tmp_path / "sess")
    ckpt = str(tmp_path / "ckpt")

    def write(rows):
        spark.createDataFrame(rows, "ts timestamp, user_id long") \
            .coalesce(1).write.mode("append").parquet(src)

    # run 1: user 1 has events at 10:00/10:10/10:25 (one session: each gap
    # < 30 min) and 12:00 (a second session); user 2 one event.  The final
    # 14:00 tick advances the watermark to 13:00, finalizing everything
    # before it.
    write([(datetime(2026, 1, 1, 10, 0), 1),
           (datetime(2026, 1, 1, 10, 10), 1),
           (datetime(2026, 1, 1, 10, 25), 1),
           (datetime(2026, 1, 1, 12, 0), 1),
           (datetime(2026, 1, 1, 10, 0), 2),
           (datetime(2026, 1, 1, 14, 0), 99)])
    streaming.stream_sessionize(spark, src, checkpoint_dir=ckpt, out_dir=out)
    got = {(r["user_id"], r["sess_start"].hour, r["sess_start"].minute):
           r["n_events"] for r in spark.read.parquet(out).collect()}
    assert got[(1, 10, 0)] == 3          # merged 10:00-10:25 session
    assert got[(1, 12, 0)] == 1
    assert got[(2, 10, 0)] == 1

    # run 2 (same checkpoint): a 13:50 event for user 3 is a NEW session
    # still open after run 1's watermark; the 16:00 tick finalizes it.
    write([(datetime(2026, 1, 1, 13, 50), 3),
           (datetime(2026, 1, 1, 16, 0), 99)])
    streaming.stream_sessionize(spark, src, checkpoint_dir=ckpt, out_dir=out)
    got2 = {(r["user_id"], r["sess_start"].hour, r["sess_start"].minute):
            r["n_events"] for r in spark.read.parquet(out).collect()}
    assert got2[(3, 13, 50)] == 1
    # run-1 sessions emitted exactly once (no double count after restart)
    rows = spark.read.parquet(out).collect()
    assert len([r for r in rows if r["user_id"] == 1]) == 2


def test_sessionize_batch_and_streaming_agree(spark, tmp_path):
    """Cross-implementation check: the batch lag+cumsum sessionizer
    (queries.q_events_sessionize) and the native session_window streaming
    path partition the SAME events into the same sessions (count and
    per-session sizes), for sessions the watermark has finalized."""
    from datetime import datetime, timedelta

    src = str(tmp_path / "ev")
    out = str(tmp_path / "sess")
    ckpt = str(tmp_path / "ckpt")

    # deterministic pseudo-random event times for 5 users over 6 hours
    rows = []
    eid = 0
    for u in range(5):
        t = datetime(2026, 1, 1, 6, 0)
        x = (u * 2654435761 + 12345) & 0xFFFFFFFF
        for _ in range(40):
            x = (x * 1103515245 + 12345) & 0xFFFFFFFF
            t = t + timedelta(minutes=int(x % 55) + 1)  # gaps 1..55 min
            rows.append((eid, t, u))
            eid += 1
    rows.append((eid, datetime(2026, 1, 2, 23, 0), 99))  # watermark tick
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    streaming.stream_sessionize(spark, src, checkpoint_dir=ckpt, out_dir=out,
                                max_files_per_trigger=10)
    stream_sessions = sorted(
        (r["user_id"], r["n_events"])
        for r in spark.read.parquet(out).collect() if r["user_id"] != 99)

    # q_events_sessionize reads <sf_dir>/events.parquet; point it there
    import os
    import shutil

    from colonnade_spark.queries import q_events_sessionize

    os.makedirs(str(tmp_path / "sf"), exist_ok=True)
    shutil.copytree(src, str(tmp_path / "sf" / "events.parquet"))
    batch = q_events_sessionize(spark, str(tmp_path / "sf"))
    batch_sessions = sorted(
        (r["user_id"], r["n_events"])
        for r in batch.collect() if r["user_id"] != 99)
    assert stream_sessions == batch_sessions
    assert len(batch_sessions) > 10          # non-trivial session structure
