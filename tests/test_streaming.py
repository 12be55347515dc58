"""Streaming ingestion: file-source readStream → foreachBatch → resumable
per-batch encode jobs; incremental pickup of new files; union decode with
sha-equality (the streaming generalization of the reference's
encodeCsvStream + continuation resume, SURVEY.md §2.7)."""

import glob
import os

import pytest
from conftest import job_ids, run_jobs

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


def test_stream_encode_two_files_runs_at_most_six_jobs(spark, tmp_path):
    """Two one-file micro-batches cost at most 3 jobs each (salt sizing,
    shuffle map, encode); reading the input schema runs none."""
    src = str(tmp_path / "incoming")
    for seed in (1, 2):
        generate_corpus(spark, 60, seed=seed).coalesce(1).write.mode(
            "append").parquet(src)
    q, caller = run_jobs(spark, lambda: streaming.stream_encode(
        spark, src, str(tmp_path / "wh"), corpus_plan(), n_buckets=2))
    # micro-batch jobs run under the query's own job group, its run id
    batches = job_ids(spark, str(q.runId))
    assert streaming.stream_manifest(str(tmp_path / "wh"))["batches"] == 2
    assert caller == []
    assert len(batches) <= 6, batches


def _pyarrow_typed_table():
    """One column per flat and nested parquet type pyarrow writes: naive and
    zoned timestamps at ms, us and ns (the ``_ns`` columns), signed and
    unsigned ints, dates, decimals, binary, large and dictionary strings,
    and a list."""
    import datetime as dt

    import pyarrow as pa

    t0 = dt.datetime(2026, 1, 1, 10, 5)
    cols = {
        "ts_naive_us": pa.array([t0], pa.timestamp("us")),
        "ts_naive_ms": pa.array([t0], pa.timestamp("ms")),
        "ts_naive_ns": pa.array([t0], pa.timestamp("ns")),
        "ts_utc": pa.array([t0], pa.timestamp("us", tz="UTC")),
        "ts_zoned": pa.array([t0], pa.timestamp("ms", tz="Europe/Paris")),
        "ts_utc_ns": pa.array([t0], pa.timestamp("ns", tz="UTC")),
        "u8": pa.array([1], pa.uint8()), "u16": pa.array([1], pa.uint16()),
        "u32": pa.array([1], pa.uint32()), "u64": pa.array([1], pa.uint64()),
        "i8": pa.array([1], pa.int8()), "i16": pa.array([1], pa.int16()),
        "i32": pa.array([1], pa.int32()), "i64": pa.array([1], pa.int64()),
        "day": pa.array([t0.date()]), "dec": pa.array([1], pa.decimal128(10, 2)),
        "dec_long": pa.array([1], pa.decimal128(30, 4)),
        "raw": pa.array([b"x"]), "big": pa.array(["x"], pa.large_string()),
        "cat": pa.array(["x"]).dictionary_encode(),
        "f32": pa.array([1.5], pa.float32()), "f64": pa.array([1.5]),
        "flag": pa.array([True]),
        "ints": pa.array([[1, None, 3]], pa.list_(pa.int32())),
    }
    return pa.table(cols)


def test_footer_schema_matches_spark_inference(spark, tmp_path):
    """The footer schema equals Spark's own inference, with no Spark job,
    on Spark-written and pyarrow-written corpus files, on a Spark-written
    events file, on Spark-written nested columns (nullable and not: the
    footer's non-null fields come back nullable, as Spark infers them), on
    a pyarrow file of every type :func:`_pyarrow_typed_table` writes (naive
    timestamps infer as timestamp_ntz, unsigned ints widen), on the same
    file with INT96 timestamps and through ``file:`` URIs; ``_``/``.``
    files are skipped.  Nanosecond INT64 timestamps, which Spark does not
    read, raise the error Spark's inference raises."""
    from datetime import datetime

    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    from colonnade_spark.corpus import generate_corpus_arrow

    corpus_spark = str(tmp_path / "corpus_spark")
    generate_corpus(spark, 40, seed=5).write.parquet(corpus_spark)
    corpus_arrow = str(tmp_path / "corpus_arrow")
    os.makedirs(corpus_arrow)
    pq.write_table(generate_corpus_arrow(40, seed=5),
                   os.path.join(corpus_arrow, "part-00000.parquet"))
    with open(os.path.join(corpus_arrow, "_started"), "w") as f:
        f.write("not parquet")
    with open(os.path.join(corpus_arrow, ".part-00000.parquet.crc"), "w") as f:
        f.write("not parquet")
    events = str(tmp_path / "events")
    spark.createDataFrame(
        [(datetime(2026, 1, 1, 10, 5), datetime(2026, 1, 1, 10, 5), "click", 7, 0.5),
         (datetime(2026, 1, 1, 11, 0), None, None, None, None)],
        "ts timestamp, local_ts timestamp_ntz, event_type string, user_id long,"
        " value double",
    ).coalesce(1).write.parquet(events)
    nested = str(tmp_path / "nested")
    spark.createDataFrame([(1, [1, 2], (3, "a"))],
                          "k long, xs array<int>, s struct<n:int, t:string>") \
        .write.parquet(nested)
    non_null = str(tmp_path / "non_null")
    spark.range(2).selectExpr(
        "id", "array(id, id + 1) AS xs", "named_struct('n', id, 't', 'a') AS s",
        "map('k', id) AS m").coalesce(1).write.parquet(non_null)
    table = _pyarrow_typed_table()
    ns_cols = [c for c in table.column_names if c.endswith("_ns")]
    typed, int96, nanos = (str(tmp_path / d) for d in ("typed", "int96", "nanos"))
    for d, t, kw in ((typed, table.drop_columns(ns_cols), {}),
                     (int96, table, {"use_deprecated_int96_timestamps": True}),
                     (nanos, table.select(ns_cols), {})):
        os.makedirs(d)
        pq.write_table(t, os.path.join(d, "part-0.parquet"), **kw)
    paths = [corpus_spark, corpus_arrow, events, nested, non_null, typed, int96,
             "file://" + typed, "file:" + events,
             os.path.join(typed, "part-0.parquet")]
    got, jobs = run_jobs(spark, lambda: [streaming.footer_schema(spark, p)
                                         for p in paths])
    assert jobs == []
    for path, schema in zip(paths, got):
        assert schema == spark.read.parquet(path).schema, path
    types = {f.name: f.dataType.simpleString() for f in got[paths.index(typed)]}
    assert types["ts_naive_us"] == "timestamp_ntz"
    assert types["ints"] == "array<int>"
    footer = pq.read_schema(glob.glob(os.path.join(non_null, "part-*"))[0])
    assert not footer.field("xs").type.value_field.nullable
    assert not footer.field("s").type.field("n").nullable
    for infer in (streaming.footer_schema, lambda s, p: s.read.parquet(p).schema):
        with pytest.raises(AnalysisException, match=r"PARQUET_TYPE_ILLEGAL.*NANOS"):
            infer(spark, nanos)


def test_footer_schema_defers_to_spark_where_no_footer_mapping(spark, tmp_path):
    """A glob pattern, which pyarrow cannot list, is inferred by Spark
    itself, so the schema still equals Spark's."""
    spark.range(2).write.parquet(str(tmp_path / "ids"))
    path = str(tmp_path / "id*")
    assert streaming.footer_schema(spark, path) == spark.read.parquet(path).schema


def test_footer_schema_rejects_empty_and_partitioned_inputs(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    with pytest.raises(FileNotFoundError):
        streaming.footer_schema(spark, str(empty))
    with pytest.raises(FileNotFoundError):
        streaming.footer_schema(spark, str(tmp_path / "missing"))
    parted = str(tmp_path / "parted")
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, part string") \
        .write.partitionBy("part").parquet(parted)
    with pytest.raises(ValueError, match="partitioned"):
        streaming.footer_schema(spark, parted)


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
