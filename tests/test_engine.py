"""End-to-end Spark tests: encode job → decode job → sha256 verification,
skew salting, checkpoint/resume (SURVEY.md §5.2 items 4-6)."""

import glob
import hashlib
import json
import os

import pytest
from conftest import run_jobs
from reference_decoder import reference_rows

from colonnade_spark import engine
from colonnade_spark.corpus import generate_corpus
from colonnade_spark.plan import corpus_plan

N_FILES = 400


@pytest.fixture(scope="module")
def corpus_df(spark):
    df = generate_corpus(spark, N_FILES, seed=42).cache()
    df.count()
    return df


def test_encode_decode_verify(spark, corpus_df, tmp_path):
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    manifest = engine.encode_table(spark, corpus_df, plan, wh,
                                   n_buckets=8, stripe_bytes=1 << 20,
                                   input_token="t1")
    assert manifest["rows"] == N_FILES
    assert manifest["bytes_out"] < manifest["bytes_in"]  # corpus is compressible
    summary = engine.verify_roundtrip(spark, corpus_df, plan, wh)
    assert summary == {"rows_source": N_FILES, "rows_decoded": N_FILES,
                       "mismatches": 0, "ok": True}


def test_lineage_and_codec_mix(spark, corpus_df, tmp_path):
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    engine.encode_table(spark, corpus_df, plan, wh, n_buckets=4, input_token="t2")
    lin = engine.lineage_table(spark, wh)
    rows = lin.collect()
    assert all(r["bytes_out"] > 0 for r in rows)
    codecs_used = {r["codec"] for r in rows}
    assert "plain" in codecs_used or "fsst" in codecs_used
    # lang is low-cardinality → dict/rle somewhere
    lang_codecs = {r["codec"] for r in rows if r["column"] == "lang"}
    assert lang_codecs & {"dict", "rle"}


def test_resume_skips_completed_buckets(spark, corpus_df, tmp_path):
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    m1 = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=6,
                             input_token="t3")
    assert m1["buckets_encoded_this_run"] > 0
    # simulate a crash that lost two buckets' outputs+markers
    markers = engine.list_markers(wh)
    lost_ids = [m["bucket"] for m in markers[:2]]
    engine.invalidate_markers(wh, lost_ids)
    before = {p: os.path.getmtime(p)
              for p in glob.glob(os.path.join(wh, "blocks", "*", "*.parquet"))}
    m2 = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=6,
                             mode="resume", input_token="t3")
    assert m2["buckets_encoded_this_run"] == 2
    assert m2["buckets_resumed"] == m1["buckets_encoded_this_run"] - 2
    after = {p: os.path.getmtime(p)
             for p in glob.glob(os.path.join(wh, "blocks", "*", "*.parquet"))}
    redone = {p for p in before if before[p] != after[p]}
    assert all(f"bucket={b}" in " ".join(redone) for b in lost_ids)
    untouched = {p for p in before if f"bucket={lost_ids[0]}" not in p
                 and f"bucket={lost_ids[1]}" not in p}
    assert all(before[p] == after[p] for p in untouched)  # no re-encode
    # and the data still verifies
    assert engine.verify_roundtrip(spark, corpus_df, plan, wh)["ok"]


def test_deterministic_blocks_across_runs(spark, corpus_df, tmp_path):
    """Re-encoding produces byte-identical blocks (resume safety)."""
    import pyarrow.parquet as pq

    plan = corpus_plan()
    whs = [str(tmp_path / f"wh{i}") for i in range(2)]
    for wh in whs:
        engine.encode_table(spark, corpus_df, plan, wh, n_buckets=4,
                            input_token="t4")
    for b in range(4):
        fa = os.path.join(whs[0], "blocks", f"bucket={b}", "part-0.parquet")
        fb = os.path.join(whs[1], "blocks", f"bucket={b}", "part-0.parquet")
        if os.path.exists(fa):
            ta, tb = pq.read_table(fa), pq.read_table(fb)
            assert ta.equals(tb)


def test_verify_catches_corruption(spark, corpus_df, tmp_path):
    import pyarrow.parquet as pq

    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    engine.encode_table(spark, corpus_df, plan, wh, n_buckets=2, input_token="t5")
    # swap one stripe's content block with another column's block
    bdir = glob.glob(os.path.join(wh, "blocks", "bucket=*", "*.parquet"))[0]
    orig = pq.read_table(bdir)
    t = orig.to_pydict()
    ci = [i for i, c in enumerate(t["column"]) if c == "content"][0]
    li = [i for i, c in enumerate(t["column"]) if c == "lang"][0]
    t["block"][ci] = t["block"][li]
    t["n_rows"][ci] = t["n_rows"][li]
    import pyarrow as pa
    pq.write_table(pa.Table.from_pydict(t, schema=orig.schema), bdir,
                   compression="NONE")
    summary = engine.verify_roundtrip(spark, corpus_df, plan, wh)
    assert not summary["ok"]


def test_resume_rejects_stale_markers_on_changed_input(spark, tmp_path):
    """ADVICE regression: with mode=resume and a CHANGED input token, staging
    is rebuilt and old markers must be invalidated — every bucket re-encodes
    against the new data (no silent stale blocks)."""
    df1 = generate_corpus(spark, 100, seed=1)
    df2 = generate_corpus(spark, 100, seed=2)
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    m1 = engine.encode_table(spark, df1, plan, wh, n_buckets=4,
                             input_token="in1")
    assert m1["buckets_encoded_this_run"] > 0
    m2 = engine.encode_table(spark, df2, plan, wh, n_buckets=4,
                             mode="resume", input_token="in2")
    assert m2["buckets_resumed"] == 0
    assert m2["buckets_encoded_this_run"] > 0
    # warehouse now verifies against the NEW corpus, not the old one
    assert engine.verify_roundtrip(spark, df2, plan, wh)["ok"]
    assert not engine.verify_roundtrip(spark, df1, plan, wh)["ok"]


def test_resume_manifest_reports_full_totals(spark, corpus_df, tmp_path):
    """ADVICE regression: after a resume, manifest totals cover the whole
    warehouse (resumed buckets folded in), not just this run's increment."""
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    m1 = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=6,
                             input_token="tt")
    markers = engine.list_markers(wh)
    engine.invalidate_markers(wh, [markers[0]["bucket"]])
    m2 = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=6,
                             mode="resume", input_token="tt")
    assert m2["buckets_encoded_this_run"] == 1
    assert m2["rows"] == m1["rows"] == N_FILES
    assert m2["bytes_in"] == m1["bytes_in"]
    assert m2["bytes_out"] == m1["bytes_out"]


def test_manifest_publish_is_atomic(spark, corpus_df, tmp_path, monkeypatch):
    """manifest.json is published by tmp file + os.replace: when the
    replace fails on a re-encode, the previous manifest still parses and
    no tmp file is left behind."""
    plan = corpus_plan()
    wh = str(tmp_path / "wh")
    m1 = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=5,
                             input_token="tma")
    real_replace = os.replace

    def failing_replace(src, dst):
        if os.path.basename(dst) == "manifest.json":
            raise OSError("replace failed")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError, match="replace failed"):
        engine.encode_table(spark, corpus_df, plan, wh, n_buckets=5,
                            mode="resume", input_token="tma")
    assert engine.read_manifest(wh) == m1
    assert not glob.glob(os.path.join(wh, "_tmp_*"))


def test_decode_preserves_large_int64_with_nulls(spark, tmp_path):
    """ADVICE regression: nullable int64 above 2^53 must round-trip exactly
    (the pandas float64 path silently corrupted them; arrow path must not)."""
    big = (1 << 60) + 12345
    rows = [(i, big + i if i % 3 else None, f"r{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v long, s string")
    from colonnade_spark.plan import plan as mkplan
    p = (mkplan().headed("k").headed("v").headed("s").with_keys("k"))
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, p, wh, n_buckets=2, input_token="bigint")
    decoded = {r["k"]: r["v"] for r in engine.decode_table(spark, wh).collect()}
    for i in range(500):
        expect = big + i if i % 3 else None
        assert decoded[i] == expect, (i, decoded[i], expect)


def test_decode_shuffle_free_plan_and_equivalence(spark, corpus_df, tmp_path):
    """The decode must plan WITHOUT a shuffle (stripe rows are
    file-contiguous by construction), and must produce exactly the rows of
    the independent reference decoder."""
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    engine.encode_table(spark, corpus_df, plan, wh, n_buckets=4,
                        input_token="dec")
    fast = engine.decode_table(spark, wh)
    plan_str = fast._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_str, plan_str
    a = {tuple(r) for r in fast.collect()}
    b = set(reference_rows(wh))
    assert a == b and len(a) == N_FILES


def test_decode_column_subset_and_zone_pruning(spark, tmp_path):
    """Columnar payoffs: decode only requested columns; prune stripes via
    per-block integer zone maps (superset semantics — residual predicate
    applied by the caller)."""
    rows = [(i, i * 3, f"txt{i:05d}" * 6) for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, v long, s string")
    from colonnade_spark.plan import plan as mkplan
    p = (mkplan().headed("k").headed("v").headed("s")
         .with_keys("k").with_cluster("k"))
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, p, wh, n_buckets=2, stripe_bytes=16 << 10,
                        input_token="zone")
    # column subset: only the requested columns come back
    sub = engine.decode_table(spark, wh, columns=["k", "v"])
    assert sub.columns == ["k", "v"]
    assert sub.count() == 2000
    # zone pruning on v in [300, 360] (k in [100, 120])
    pruned = engine.decode_table(spark, wh, zone_filter=("v", 300, 360))
    got = pruned.collect()
    vs = {r["v"] for r in got}
    assert {v for v in range(300, 361) if v % 3 == 0} <= vs  # superset holds
    # stripe-granular pruning: only the first ~480-row stripe per bucket
    # overlaps [300,360]; the other two per bucket are skipped
    assert len(got) <= 1000, len(got)
    # residual predicate on the pruned scan gives the exact answer
    exact = pruned.filter("v between 300 and 360").count()
    assert exact == len([v for v in range(300, 361) if v % 3 == 0])
    # combined: subset + pruning (stripe-granular: one stripe per bucket)
    both = engine.decode_table(spark, wh, columns=["v"],
                               zone_filter=("v", 0, 30))
    assert both.columns == ["v"] and 0 < both.count() <= 1000


def test_string_zone_maps_prune_and_validate(spark, tmp_path):
    """String zone maps (parquet-style truncated min/max on UTF-8 bytes):
    a zone_filter on a clustered string column prunes stripes; truncation
    only widens the kept set; unsupported/unknown columns fail loudly."""
    import pytest

    langs = ["de", "en", "es", "fr", "zh"]
    rows = [(i, langs[i // 600], f"key{i:06d}" + "z" * 40, f"body {i} " * 20)
            for i in range(3000)]
    df = spark.createDataFrame(rows, "k long, lang string, skey string, s string")
    from colonnade_spark.plan import plan as mkplan
    p = (mkplan().headed("k").headed("lang").headed("skey").headed("s")
         .with_keys("k").with_cluster("lang", "k"))
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, p, wh, n_buckets=2, stripe_bytes=24 << 10,
                        input_token="szone")
    total = engine.decode_table(spark, wh).count()
    assert total == 3000
    # prune on the short clustered column
    pruned = engine.decode_table(spark, wh, zone_filter=("lang", "en", "es"))
    got = pruned.collect()
    assert {r["lang"] for r in got} >= {"en", "es"}          # superset holds
    assert len(got) < total, "no stripes were pruned"
    exact = pruned.filter("lang between 'en' and 'es'").count()
    assert exact == 1200
    # prune on the LONG key column (truncated at 16 bytes: 'key000600zzzzzzz')
    pk = engine.decode_table(spark, wh, zone_filter=("skey", "key000600",
                                                     "key000800"))
    vals = {r["k"] for r in pk.collect()}
    assert set(range(600, 801)) <= vals and len(vals) < 3000
    # loud failures: unknown column / type without zone maps
    with pytest.raises(KeyError, match="zone_filter"):
        engine.decode_table(spark, wh, zone_filter=("nope", 0, 1))
    rows_f = [(i, float(i)) for i in range(100)]
    dff = spark.createDataFrame(rows_f, "k long, x double")
    pf = mkplan().headed("k").headed("x").with_keys("k")
    whf = str(tmp_path / "whf")
    engine.encode_table(spark, dff, pf, whf, n_buckets=1, input_token="fz")
    with pytest.raises(TypeError, match="no zone maps"):
        engine.decode_table(spark, whf, zone_filter=("x", 0.0, 1.0))


def test_zone_maps_cover_fragmented_giant_cells(spark, tmp_path):
    """A stripe whose zone column went through the fragment path must still
    carry stats — a matching giant cell is never wrongly pruned."""
    big = "mmm-giant-" + "y" * (1 << 20)
    rows = [(1, big)] + [(i, f"aaa-small-{i}") for i in range(2, 40)]
    df = spark.createDataFrame(rows, "k long, s string")
    from colonnade_spark.plan import plan as mkplan
    p = mkplan().headed("k").headed("s").with_keys("k").with_cluster("s")
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, p, wh, n_buckets=1, stripe_bytes=64 << 10,
                        input_token="gz")
    out = engine.decode_table(spark, wh, zone_filter=("s", "mmm", "zzz"))
    ks = {r["k"] for r in out.collect()}
    assert 1 in ks                        # the giant cell survived pruning
    assert len(ks) < 39                   # the small-cell stripes pruned


def test_skew_salting_spreads_giant_repo(spark, tmp_path):
    """SURVEY §4.2 skew handling: one repo holding ~90% of all bytes must
    fan out over multiple buckets (salt ∝ size), while small repos stay
    co-located; the whole thing still round-trips."""
    rows = [("megacorp/monorepo", f"src/f{i}.py", f"c{i}", "py", "x" * 4000)
            for i in range(800)]
    rows += [(f"tiny/r{j}", "a.py", f"t{j}", "py", "small file") for j in range(40)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    engine.encode_table(spark, df, plan, wh, n_buckets=8,
                        stripe_bytes=256 << 10, target_salt_bytes=256 << 10,
                        input_token="skew")
    bucketed = engine.assign_buckets(plan.project(df), plan, 8,
                                     target_salt_bytes=256 << 10)
    per_bucket = {r["__bucket"] for r in
                  bucketed.filter("repo = 'megacorp/monorepo'")
                  .select("__bucket").distinct().collect()}
    assert len(per_bucket) >= 3, per_bucket   # giant repo spread by salt
    summary = engine.verify_roundtrip(spark, df, plan, wh)
    assert summary["ok"], summary


def test_stripe_iter_honors_cap_exactly(tmp_path):
    """ADVICE regression: the cap is a true <= bound for multi-row stripes
    (the old searchsorted+1 closed at >= cap), and a giant row on a FRESH
    stripe is isolated instead of dragging its neighbor past the cap."""
    import numpy as np
    import pyarrow as pa

    from colonnade_spark.engine import _row_sizes, _stripe_iter_batches

    # fresh-stripe giant: [1MB, 5MB] rows with a 4MB cap → two stripes
    t = pa.table({"s": ["a" * (1 << 20), "b" * (5 << 20)]})
    assert [s.num_rows for s in _stripe_iter_batches(t.to_batches(),
                                                     4 << 20)] == [1, 1]

    rng = np.random.default_rng(7)
    vals = ["x" * int(n) for n in rng.integers(10, 3000, size=500)]
    batches = pa.table({"s": vals}).to_batches(max_chunksize=97)
    cap = 8 << 10
    total = 0
    for st in _stripe_iter_batches(batches, cap):
        nbytes = sum(int(_row_sizes(b).sum()) for b in st.to_batches())
        assert st.num_rows == 1 or nbytes <= cap, (st.num_rows, nbytes)
        total += st.num_rows
    assert total == 500


def test_bucket_encode_identical_without_c_kernels(tmp_path, monkeypatch):
    """Mixed-fleet parity, end to end: one sorted, roundtrip-shaped corpus
    bucket (corpus_plan, seed 7) encoded in-process with the C kernels and
    again with ``_native.get_lib`` forced to None gives the identical
    blocks table.  The stripe cap is small enough that FSST table reuse,
    the selection probe gate and the fcode FSST-suffix hybrid all fire.
    In-process, because a monkeypatch on the driver cannot reach Spark's
    Python workers deterministically."""
    import numpy as np
    import pyarrow.parquet as pq

    from colonnade_spark import blocks
    from colonnade_spark.codecs import _native, base, fsst
    from colonnade_spark.corpus import generate_corpus_arrow

    if _native.get_lib() is None:
        pytest.skip("no C toolchain: only the numpy path exists")
    plan = corpus_plan()
    table = generate_corpus_arrow(3000, seed=7).select(plan.column_names)
    table = table.sort_by([(c, "ascending") for c in plan.stage_order])
    cap = 1 << 20
    gate_hits = []
    step = base.ProbeGate.step

    def counting_step(self):
        gate_hits.append(step(self))
        return gate_hits[-1]

    monkeypatch.setattr(base.ProbeGate, "step", counting_step)

    def encode(name):
        wh = str(tmp_path / name)
        stripes = engine._stripe_iter_batches(
            table.to_batches(max_chunksize=1000), cap)
        engine._encode_bucket_core(0, stripes, wh, plan, cap, "parity",
                                   marker_sink=lambda m: None)
        return pq.read_table(os.path.join(wh, "blocks", "bucket=0",
                                          "part-0.parquet"))

    with_c = encode("c")
    monkeypatch.setattr(_native, "get_lib", lambda: None)
    without_c = encode("numpy")
    assert with_c.equals(without_c)

    rows = with_c.select(["column", "codec", "block"]).to_pylist()
    assert any(gate_hits)                              # probe gate reused
    assert any(r["codec"] == "fcode"
               and blocks.block_info(r["block"]).get("p", {}).get("f")
               for r in rows)                          # fcode hybrid
    tables = {}
    for r in rows:
        if r["codec"] == "fsst":
            payload = np.frombuffer(blocks._open(r["block"])[2], np.uint8)
            tables.setdefault(r["column"], []).append(
                fsst.pack_table(fsst.unpack_table(payload, 0)[0]))
    # a column whose fsst blocks share a table: the table was reused
    assert any(len(set(t)) < len(t) for t in tables.values())


def test_giant_cell_multiblock_roundtrip(spark, tmp_path):
    """A single cell far above the stripe cap (the multi-block-cell path,
    reference parser continuations siphon/src/Siphon.hs:612-616): the stripe
    cutter isolates it, the encoder SPLITS it across fragment blocks (each
    <= ~stripe_bytes), and the round-trip stays exact."""
    big = "".join(f"line {i}: the quick brown fox\n" for i in range(400_000))
    rows = [("r", "giant.txt", "g1", "txt", big)] + \
           [("r", f"s{i}.txt", f"c{i}", "txt", f"small {i}") for i in range(50)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    engine.encode_table(spark, df, plan, wh, n_buckets=2,
                        stripe_bytes=1 << 20, input_token="giant")
    assert engine.verify_roundtrip(spark, df, plan, wh)["ok"]
    # the ~11 MB cell was split across >= 11 fragment blocks, none far over
    # the 1 MiB cap
    blocks_df = spark.read.parquet(os.path.join(wh, "blocks"))
    frag_rows = blocks_df.filter("column = 'content' AND frag >= 0").collect()
    assert len(frag_rows) >= 11, len(frag_rows)
    assert all(r["bytes_out"] <= (1 << 20) + 4096 for r in frag_rows)
    # the decode and the reference decoder agree on the giant cell
    fast = engine.decode_table(spark, wh).filter("path = 'giant.txt'")
    slow = [c for p, c in reference_rows(wh, columns=["path", "content"])
            if p == "giant.txt"]
    assert fast.collect()[0]["content"] == big
    assert slow == [big]


def test_cell_fragments_property_tiny_cap(spark, tmp_path):
    """The reference's byte-per-chunk stress (siphon/test/Test.hs:103-122)
    at the cell level: a 1 KiB stripe cap forces EVERY multi-KiB cell through
    the fragment path; round-trip must stay exact, including multi-byte
    UTF-8 split across fragment boundaries."""
    rows = [(f"r{i % 3}", f"p{i}", f"c{i}", "txt",
             (f"doc {i} – füñky ünïcode 日本語 " * 200)[: 3000 + 17 * i])
            for i in range(12)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    engine.encode_table(spark, df, plan, wh, n_buckets=2,
                        stripe_bytes=1 << 10, input_token="tinycap")
    assert engine.verify_roundtrip(spark, df, plan, wh)["ok"]
    blocks_df = spark.read.parquet(os.path.join(wh, "blocks"))
    assert blocks_df.filter("frag >= 0").count() >= 12 * 3  # all fragmented


def _drop_content_fragments(wh, drop) -> int:
    """Rewrite every blocks file without the content fragment rows whose
    ``(frag, n_frags)`` satisfies ``drop``; returns how many files
    changed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from colonnade_spark.blocks import fragment_chunk

    changed = 0
    for fp in glob.glob(os.path.join(wh, "blocks", "bucket=*", "*.parquet")):
        t = pq.read_table(fp)
        mask = [not (c == "content" and fr >= 0
                     and drop(fr, fragment_chunk(b.as_py())[1]))
                for c, fr, b in zip(t.column("column").to_pylist(),
                                    t.column("frag").to_pylist(),
                                    t.column("block"))]
        if not all(mask):
            changed += 1
        pq.write_table(t.filter(pa.array(mask)), fp)
    return changed


def test_decode_giant_cells_chunked(spark, tmp_path):
    """The chunked giant-cell scale path: decode_giant_cells emits one row
    per fragment (bounded row size, no 2 GiB arrow-scalar ceiling); sorted
    chunks reassemble to the exact cell, and a gap in a fragment set
    raises in the task."""
    import codecs as pycodecs

    big = "".join(f"zeile {i}: füñky ünïcode 日本語🎉\n" for i in range(120_000))
    rows = [("r", "giant.txt", "g1", "txt", big)] + \
           [("r", f"s{i}.txt", f"c{i}", "txt", f"small {i}") for i in range(20)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, corpus_plan(), wh, n_buckets=2,
                        stripe_bytes=1 << 20, input_token="giantchunks")

    out = engine.decode_giant_cells(spark, wh, "content")
    assert "FileScan" not in out._jdf.queryExecution().executedPlan().toString()
    got = out.orderBy("bucket", "stripe", "frag_idx").collect()
    assert len(got) >= 4
    n = got[0]["n_frags"]
    assert [r["frag_idx"] for r in got] == list(range(n))
    assert all(r["n_frags"] == n and r["kind"] == "str" for r in got)
    # every chunk is bounded by the fragment cap (the point of the path)
    assert all(len(r["chunk"]) <= (1 << 20) + 4096 for r in got)
    dec = pycodecs.getincrementaldecoder("utf-8")()
    text = "".join(dec.decode(bytes(r["chunk"])) for r in got) \
        + dec.decode(b"", True)
    assert text == big
    # chunk boundaries really split multi-byte codepoints at least once
    assert any(bytes(r["chunk"])[-1] >= 0x80 for r in got[:-1])

    # inject a GAP: drop one middle fragment row from the blocks files
    assert _drop_content_fragments(wh, lambda fr, n: fr == 1) == 1
    with pytest.raises(Exception, match=r"BlockError: .*column 'content': "
                                        r"incomplete cell fragment set: "
                                        r"missing \[1\]"):
        engine.decode_giant_cells(spark, wh, "content").collect()


def test_decode_giant_cells_missing_tail_fragment_raises(spark, tmp_path):
    """A fragment set without its LAST fragment has no gap below the max
    index, so only the n_frags check in the task can see it: collect()
    raises instead of handing the consumer n-1 chunks."""
    big = "".join(f"tail {i}: ünïcode\n" for i in range(200_000))
    rows = [("r", "giant.txt", "g1", "txt", big)] + \
           [("r", f"s{i}.txt", f"c{i}", "txt", f"small {i}") for i in range(5)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, corpus_plan(), wh, n_buckets=1,
                        stripe_bytes=1 << 20, input_token="giant-tail")
    assert _drop_content_fragments(wh, lambda fr, n: fr == n - 1) == 1
    with pytest.raises(Exception, match=r"BlockError: .*column 'content': "
                                        r"incomplete cell fragment set: "
                                        r"missing \[\d+\]"):
        engine.decode_giant_cells(spark, wh, "content").collect()


def test_multi_zone_filter_conjunction(spark, tmp_path):
    """A LIST of zone filters ANDs: the kept stripe set is the intersection
    of each predicate's, mixed int + string columns work together, and the
    superset contract still holds."""
    langs = ["de", "en", "es", "fr", "zh"]
    rows = [(i, langs[i // 600], f"body {i} " * 10) for i in range(3000)]
    df = spark.createDataFrame(rows, "k long, lang string, s string")
    from colonnade_spark.plan import plan as mkplan
    p = (mkplan().headed("k").headed("lang").headed("s")
         .with_keys("k").with_cluster("lang", "k"))
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, p, wh, n_buckets=2, stripe_bytes=16 << 10,
                        input_token="mzone")
    single_lang = engine.decode_table(
        spark, wh, zone_filter=("lang", "en", "en")).count()
    single_k = engine.decode_table(
        spark, wh, zone_filter=[("k", 700, 800)]).count()   # 1-list == tuple
    both = engine.decode_table(
        spark, wh, zone_filter=[("lang", "en", "en"), ("k", 700, 800)])
    got = both.collect()
    # conjunction prunes at least as hard as each predicate alone
    assert len(got) <= min(single_lang, single_k)
    # superset of the true conjunction rows (k 700..800 are all 'en')
    ks = {r["k"] for r in got}
    assert set(range(700, 801)) <= ks
    assert both.filter("lang = 'en' AND k BETWEEN 700 AND 800").count() == 101
    # a bad column anywhere in the list still fails loudly
    with pytest.raises(KeyError, match="zone_filter"):
        engine.decode_table(spark, wh,
                            zone_filter=[("lang", "en", "en"), ("nope", 0, 1)])


def test_decode_fragless_blocks_file_raises(spark, tmp_path):
    """A blocks file without the 'frag' column (the layout before
    multi-block cells) is not read as whole-column blocks: decode raises
    BlockError, and validate_blocks reports the file as one
    decode_failure row at stripe -1."""
    import pyarrow.parquet as pq

    from colonnade_spark.errors import validate_blocks

    rows = [("r", f"p{i}", f"c{i}", "py", f"small body {i} " * 10)
            for i in range(300)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, corpus_plan(), wh, n_buckets=2,
                        input_token="bc")
    for fp in glob.glob(os.path.join(wh, "blocks", "bucket=*", "*.parquet")):
        t = pq.read_table(fp)
        assert max(t.column("frag").to_pylist()) == -1   # truly frag-free
        pq.write_table(t.drop_columns(["frag"]), fp, compression="NONE")
    with pytest.raises(Exception, match=r"BlockError: .*no \['frag'\] columns"):
        engine.decode_table(spark, wh).collect()
    errs = validate_blocks(spark, wh).collect()
    assert errs and {(r["stripe"], r["kind"]) for r in errs} == {
        (-1, "decode_failure")}
    assert all("no ['frag'] columns" in r["detail"] for r in errs)


def test_engine_end_to_end_array_column(spark, tmp_path):
    """FULL engine path for an array<float> column (not just the blocks
    layer): staging (parquet with the list column), per-bucket stripe
    cutting (rough row-size floor for nested types), list-block encode,
    shuffle-free decode — values back bit-exact, lengths intact."""
    from colonnade_spark import engine
    from colonnade_spark.plan import plan

    src = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = (plan().headed("vec_id").headed("embedding").headed("label")
         .with_keys("vec_id"))
    wh = str(tmp_path / "wh")
    m = engine.encode_table(spark, src, p, wh, n_buckets=4,
                            stripe_bytes=1 << 20, input_token="emb")
    assert m["rows"] == src.count()
    got = {r["vec_id"]: (r["embedding"], r["label"])
           for r in engine.decode_table(spark, wh).collect()}
    want = {r["vec_id"]: (r["embedding"], r["label"]) for r in src.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k][1] == want[k][1]
        assert got[k][0] == want[k][0]          # float32 bit-exact


# sha256 over (relative path, bytes) of every blocks/bucket=N/part-0.parquet
# in bucket order, for the N_FILES seed-42 corpus at n_buckets=5.  The
# parquet footer names the pyarrow version that wrote the file, so a
# pyarrow upgrade can move this hash without a block byte changing: then
# compare the block columns before re-pinning.
PINNED_BLOCKS_SHA256 = (
    "775bd799a08eb4af08a0214bdcd193b392172bf7f1e6f1514e07bc83aa1a6aca")


def test_encode_blocks_bytes_pinned(spark, corpus_df, tmp_path):
    """Encode is byte-deterministic and its bytes are pinned: stripe cuts,
    codec choices, zone maps and the blocks-file layout all feed the hash,
    so any change to them fails here until the hash is re-pinned on
    purpose (a format change)."""
    plan = corpus_plan()
    wh = str(tmp_path / "wh")
    m = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=5,
                            input_token="tf")
    assert (m["rows"], m["bytes_in"], m["bytes_out"]) == (N_FILES, 5397693,
                                                          4777098)
    files = sorted(glob.glob(os.path.join(wh, "blocks", "bucket=*",
                                          "part-0.parquet")),
                   key=lambda p: int(p.split("bucket=")[1].split(os.sep)[0]))
    assert files
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, wh).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    assert h.hexdigest() == PINNED_BLOCKS_SHA256
    summary = engine.verify_roundtrip(spark, corpus_df, plan, wh)
    assert summary["ok"] and summary["rows_decoded"] == N_FILES


def test_encode_fused_false_raises(spark, corpus_df, tmp_path):
    with pytest.raises(ValueError, match="fused=False"):
        engine.encode_table(spark, corpus_df, corpus_plan(),
                            str(tmp_path / "wh"), fused=False)


def test_fused_resume_skips_completed(spark, corpus_df, tmp_path):
    """Fused-path resume: completed buckets are anti-joined out BEFORE the
    shuffle; their published files stay untouched, lost buckets re-encode,
    and the manifest folds both."""
    import shutil

    plan = corpus_plan()
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, corpus_df, plan, wh, n_buckets=5,
                        input_token="tfr")
    before = {p: os.path.getmtime(p) for p in
              glob.glob(os.path.join(wh, "blocks", "bucket=*",
                                     "part-0.parquet"))}
    markers = engine.list_markers(wh)
    lost = [m["bucket"] for m in markers[:2]]
    engine.invalidate_markers(wh, lost)
    for b in lost:
        shutil.rmtree(os.path.join(wh, "blocks", f"bucket={b}"),
                      ignore_errors=True)
    m = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=5,
                            mode="resume", input_token="tfr")
    assert m["buckets_resumed"] == len(markers) - 2
    assert m["buckets_encoded_this_run"] == 2
    assert m["rows"] == N_FILES
    for p, mt in before.items():
        b = int(p.split("bucket=")[1].split("/")[0])
        if b not in lost:
            assert os.path.getmtime(p) == mt, f"bucket {b} was re-encoded"
    summary = engine.verify_roundtrip(spark, corpus_df, plan, wh)
    assert summary["ok"] and summary["rows_decoded"] == N_FILES


def test_fused_resume_invalidates_stale_fingerprint(spark, corpus_df,
                                                    tmp_path):
    """A fused resume against markers from a DIFFERENT fingerprint (here: a
    different bucket count) must discard every stale marker/block and
    re-encode the full input — never mix two layouts in one warehouse."""
    plan = corpus_plan()
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, corpus_df, plan, wh, n_buckets=7,
                        input_token="tsf")
    os.remove(os.path.join(wh, "manifest.json"))
    m = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=3,
                            mode="resume", input_token="tsf")
    assert m["buckets_resumed"] == 0
    assert m["rows"] == N_FILES
    stale = [p for p in glob.glob(os.path.join(wh, "blocks", "bucket=*"))
             if int(p.split("bucket=")[-1]) >= 3]
    assert stale == []
    summary = engine.verify_roundtrip(spark, corpus_df, plan, wh)
    assert summary["ok"] and summary["rows_decoded"] == N_FILES


def test_decode_schema_nested_type_last(spark, tmp_path):
    """Regression: decode_table used to string-munge the manifest's
    struct<...> DDL, which corrupted any schema whose LAST field is a
    nested type (array<float>'s closing '>' was rstrip'ed away)."""
    from colonnade_spark.plan import plan

    src = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .select("vec_id", "label", "embedding"))   # array column LAST
    p = (plan().headed("vec_id").headed("label").headed("embedding")
         .with_keys("vec_id"))
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, src, p, wh, n_buckets=2,
                        stripe_bytes=1 << 20, input_token="emb-last")
    got = {r["vec_id"]: r["embedding"]
           for r in engine.decode_table(spark, wh).collect()}
    want = {r["vec_id"]: r["embedding"] for r in src.collect()}
    assert got == want


def test_decode_column_subset_respects_requested_order(spark, tmp_path):
    """Regression (review finding): decode_table(columns=...) in NON-plan
    order must return the requested order with the right values — the
    arrow → Spark boundary binds by position, and a plan-ordered schema
    against a request-ordered table silently swapped same-typed columns."""
    from colonnade_spark.plan import plan

    df = spark.createDataFrame(
        [(i, f"t{i}", f"l{i % 3}") for i in range(40)],
        "doc_id bigint, text string, lang string")
    p = (plan().headed("doc_id").headed("text").headed("lang")
         .with_keys("doc_id"))
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, p, wh, n_buckets=2, input_token="ord")
    out = engine.decode_table(spark, wh, columns=["lang", "text"])
    assert out.columns == ["lang", "text"]
    got = {r["lang"]: r["text"] for r in out.limit(1).collect()}
    for r in out.collect():
        assert r["text"].startswith("t") and r["lang"].startswith("l"), r


def test_empty_list_block_decodes_to_list_type(spark):
    """Regression (review finding): an n==0 list block must decode to the
    LIST type, not the child value type (empty tail batches of an
    embedding column)."""
    import pyarrow as pa

    from colonnade_spark import blocks

    empty = pa.array([], type=pa.list_(pa.float32()))
    out = blocks.decode_block(blocks.encode_block(empty))
    assert out.type == pa.list_(pa.float32()), out.type
    assert len(out) == 0


def test_verify_roundtrip_all_key_plan(spark, tmp_path):
    """Regression (review finding): a plan where EVERY column is a key
    column must verify (membership-only compare), not crash on
    F.when(None, ...)."""
    from colonnade_spark.plan import plan

    df = spark.createDataFrame(
        [(f"r{i}", f"p{i}", f"c{i}") for i in range(30)],
        "repo string, path string, commit string")
    p = (plan().headed("repo").headed("path").headed("commit")
         .with_keys("repo", "path", "commit"))
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, p, wh, n_buckets=2, input_token="keys")
    summary = engine.verify_roundtrip(spark, df, p, wh)
    assert summary["ok"] and summary["rows_decoded"] == 30


def test_marker_shards_are_per_task_and_torn_tail_is_skipped(
        spark, corpus_df, tmp_path):
    """Round-6 marker store: markers live in O(n_partitions) shard files
    (one per task attempt), not one file per bucket; list/invalidate keep
    per-bucket granularity; a torn tail line (task killed mid-append) is
    skipped by the scan instead of poisoning the resume."""
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    m = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=8,
                            input_token="shards")
    shards = glob.glob(os.path.join(wh, "markers", "shard_*.jsonl"))
    legacy = glob.glob(os.path.join(wh, "markers", "bucket_*.json"))
    assert shards and not legacy
    n_buckets_done = m["buckets_encoded_this_run"]
    assert len(shards) <= n_buckets_done          # strictly fewer files
    markers = engine.list_markers(wh)
    assert len(markers) == n_buckets_done
    # torn tail: append garbage to one shard — scan must ignore it
    with open(shards[0], "a") as f:
        f.write('{"bucket": 999, "fingerprint"')
    assert len(engine.list_markers(wh)) == n_buckets_done
    # invalidate one bucket: resume re-encodes exactly that bucket
    b0 = markers[0]["bucket"]
    engine.invalidate_markers(wh, [b0])
    assert len(engine.list_markers(wh)) == n_buckets_done - 1
    m2 = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=8,
                             mode="resume", input_token="shards")
    assert m2["buckets_encoded_this_run"] == 1
    assert m2["buckets_resumed"] == n_buckets_done - 1
    assert m2["rows"] == m["rows"]


def test_resume_marker_scan_runs_no_job(spark, corpus_df, tmp_path):
    """The resume pass reads every shard file once, on the driver, with no
    Spark job, and folds the same per-bucket stats as list_markers: a
    duplicate attempt's shard counts each bucket once, and a stale
    fingerprint counts not at all and is compacted away."""
    import shutil

    wh = str(tmp_path / "wh")
    m = engine.encode_table(spark, corpus_df, corpus_plan(), wh, n_buckets=8,
                            input_token="scan")
    shards = sorted(glob.glob(os.path.join(wh, "markers", "shard_*.jsonl")))
    assert len(shards) >= 2
    shutil.copy(shards[0], shards[0].replace(".jsonl", "_dup.jsonl"))
    stale = {**engine.list_markers(wh)[0], "bucket": 99, "fingerprint": "old"}
    with open(os.path.join(wh, "markers", "shard_stale.jsonl"), "w") as f:
        f.write(json.dumps(stale) + "\n")

    live = [x for x in engine.list_markers(wh)
            if x["fingerprint"] == m["fingerprint"]]
    (done, stats), jobs = run_jobs(
        spark, lambda: engine._resume_markers(wh, m["fingerprint"]))
    assert jobs == []
    assert engine.list_markers(wh) == live
    assert not os.path.exists(os.path.join(wh, "markers", "shard_stale.jsonl"))
    assert done == {x["bucket"] for x in live}
    want = [sum(c) for c in zip(*map(engine._marker_stats, live))]
    assert stats[:4] == tuple(want[:4]) == (
        m["buckets_encoded_this_run"], m["rows"], m["bytes_in"], m["bytes_out"])
    assert stats[4] == pytest.approx(want[4])


@pytest.fixture(scope="module")
def corpus_wh(spark, corpus_df, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("decode") / "wh")
    engine.encode_table(spark, corpus_df, corpus_plan(), wh, n_buckets=4,
                        stripe_bytes=64 << 10, input_token="dec-io")
    return wh


def _tree(root: str) -> dict:
    """Every file under ``root``: relative path -> (mtime_ns, sha256)."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(d, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = (
                    os.stat(p).st_mtime_ns, hashlib.sha256(f.read()).hexdigest())
    return out


@pytest.mark.parametrize("mode", ["Resume", "append", ""])
def test_encode_unknown_mode_raises_and_leaves_warehouse(
        spark, corpus_df, corpus_wh, tmp_path, mode):
    """A mode other than error/overwrite/resume raises before the
    warehouse is touched: no file changes, none appears or goes."""
    wh = _copy_wh(corpus_wh, tmp_path)
    before = _tree(wh)
    with pytest.raises(ValueError, match="mode"):
        engine.encode_table(spark, corpus_df, corpus_plan(), wh, n_buckets=4,
                            stripe_bytes=64 << 10, mode=mode,
                            input_token="dec-io")
    assert _tree(wh) == before
    fresh = str(tmp_path / "fresh")
    with pytest.raises(ValueError, match="mode"):
        engine.encode_table(spark, corpus_df, corpus_plan(), fresh, mode=mode)
    assert not os.path.exists(fresh)


def test_assemble_stripe_sibling_row_mismatch_raises_block_error():
    """Sibling blocks of one stripe that each match their recorded row
    count but disagree with each other raise BlockError, not an arrow
    length error."""
    import pyarrow as pa

    from colonnade_spark.blocks import BlockError, encode_block

    schema = pa.schema([("s", pa.string()), ("i", pa.int64())])
    blobs = [encode_block(pa.array(["a", "b", "c"])),
             encode_block(pa.array([1, 2], type=pa.int64()))]
    with pytest.raises(BlockError, match="disagree on rows"):
        engine._assemble_stripe(["s", "i"], schema, ["s", "i"], blobs,
                                [3, 2], [-1, -1])
    # a column subset that leaves the odd block out still assembles
    t = engine._assemble_stripe(["s"], schema, ["s", "i"], blobs,
                                [3, 2], [-1, -1])
    assert t.column("s").to_pylist() == ["a", "b", "c"]


def test_decode_builds_without_spark_jobs(spark, corpus_wh):
    """Building a decode runs no Spark job at call time — no eager parquet
    schema inference, no zone-map pre-scan — with or without zone_filter."""
    _, jobs = run_jobs(spark, lambda: (
        engine.decode_table(spark, corpus_wh),
        engine.decode_table(spark, corpus_wh, columns=["path", "lang"]),
        engine.decode_table(spark, corpus_wh,
                            zone_filter=[("lang", "go", "py"),
                                         ("repo", "a", "z")])))
    assert jobs == []


@pytest.mark.parametrize("target_salt_bytes, n_jobs", [(16 << 20, 3), (16 << 10, 4)])
def test_fresh_encode_job_count(spark, corpus_df, tmp_path, target_salt_bytes, n_jobs):
    """A fresh encode is 3 Spark jobs: the salt sizing, the shuffle map
    stage and the encode stage; the stats fold inside the tasks, so no
    aggregate job follows.  When some repo is fanned out (a 16 KiB
    target), a 4th job broadcasts the salt table."""
    _, jobs = run_jobs(spark, lambda: engine.encode_table(
        spark, corpus_df, corpus_plan(), str(tmp_path / "wh"), n_buckets=4,
        input_token="jobs", salt_sample_fraction=0.05,
        target_salt_bytes=target_salt_bytes))
    assert len(jobs) == n_jobs, jobs


def test_giant_cells_and_validate_build_without_spark_jobs(spark, corpus_wh):
    """The giant-cell decode and the warehouse validation read blocks/ like
    decode_table: building either DataFrame runs no Spark job."""
    from colonnade_spark.errors import validate_blocks

    _, jobs = run_jobs(spark, lambda: (
        engine.decode_giant_cells(spark, corpus_wh, "content"),
        validate_blocks(spark, corpus_wh)))
    assert jobs == []


def test_giant_cells_unknown_column_raises_without_spark_jobs(spark, corpus_wh):
    """A column that is not in the plan raises KeyError when the giant-cell
    decode is built, on the driver, before any Spark job, instead of
    decoding to zero rows."""
    def build():
        with pytest.raises(KeyError, match="not in plan: \\['contnet'\\]"):
            engine.decode_giant_cells(spark, corpus_wh, "contnet")

    _, jobs = run_jobs(spark, build)
    assert jobs == []


def test_decode_plan_has_no_file_scan_or_exchange(spark, corpus_wh):
    for kw in ({}, {"zone_filter": ("lang", "go", "py"),
                    "columns": ["path"]}):
        df = engine.decode_table(spark, corpus_wh, **kw)
        plan_str = df._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" not in plan_str, plan_str
        assert "Exchange" not in plan_str, plan_str


def test_decode_warehouse_with_empty_buckets(spark, tmp_path):
    """More buckets than distinct repos: empty buckets publish no directory,
    and the decode still returns every row."""
    rows = [(f"org/r{i % 3}", f"p{i}.py", f"c{i}", "py", f"body {i} " * 20)
            for i in range(90)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    wh = str(tmp_path / "wh")
    m = engine.encode_table(spark, df, corpus_plan(), wh, n_buckets=8,
                            input_token="empty-buckets")
    dirs = glob.glob(os.path.join(wh, "blocks", "bucket=*"))
    assert len(dirs) == m["buckets_encoded_this_run"] < 8
    assert engine.decode_table(spark, wh).count() == 90
    assert engine.verify_roundtrip(spark, df, corpus_plan(), wh)["ok"]


def _copy_wh(src, tmp_path):
    import shutil

    dst = str(tmp_path / "wh")
    shutil.copytree(src, dst)
    return dst


def test_decode_missing_bucket_dir_raises_at_call(spark, corpus_wh, tmp_path):
    import shutil

    from colonnade_spark.blocks import BlockError

    wh = _copy_wh(corpus_wh, tmp_path)
    shutil.rmtree(sorted(glob.glob(os.path.join(wh, "blocks", "bucket=*")))[0])
    with pytest.raises(BlockError, match="bucket directories"):
        engine.decode_table(spark, wh)
    shutil.rmtree(os.path.join(wh, "blocks"))
    with pytest.raises(BlockError, match="bucket directories"):
        engine.decode_table(spark, wh, columns=["path"])


def test_decode_flipped_payload_byte_raises_crc(spark, corpus_wh, tmp_path):
    """One flipped byte inside a block's payload, in place in the blocks
    file: the decode fails on the block crc, it never returns wrong rows."""
    import pyarrow.parquet as pq

    wh = _copy_wh(corpus_wh, tmp_path)
    fp = sorted(glob.glob(os.path.join(wh, "blocks", "bucket=*",
                                       "part-0.parquet")))[0]
    t = pq.read_table(fp)
    blob = max((b.as_py() for b, c in zip(t.column("block"), t.column("column"))
                if c.as_py() == "content"), key=len)
    with open(fp, "rb") as f:
        raw = bytearray(f.read())
    at = raw.find(blob)
    assert at >= 0 and raw.find(blob, at + 1) < 0
    raw[at + len(blob) - 7] ^= 0x5A           # inside the payload, not the header
    with open(fp, "wb") as f:
        f.write(raw)
    with pytest.raises(Exception, match="BlockError: crc mismatch"):
        engine.decode_table(spark, wh).collect()


def test_decode_truncated_blocks_file_raises(spark, corpus_wh, tmp_path):
    """A truncated blocks file raises on collect; it never decodes to fewer
    rows."""
    wh = _copy_wh(corpus_wh, tmp_path)
    fp = sorted(glob.glob(os.path.join(wh, "blocks", "bucket=*",
                                       "part-0.parquet")))[-1]
    size = os.path.getsize(fp)
    os.truncate(fp, size // 2)
    for kw in ({}, {"columns": ["path"]}):
        with pytest.raises(Exception, match="BlockError: unreadable blocks file"):
            engine.decode_table(spark, wh, **kw).collect()


def test_decode_zone_conjunction_subset_fragmented_matches_reference(
        spark, tmp_path):
    """Two zone ranges ANDed plus a column subset, on a warehouse whose
    cells are all fragmented: the in-task read returns exactly the rows of
    the independent reference decoder."""
    rows = [(f"r{i % 4}", f"p{i:02d}", f"c{i}", "txt",
             (f"doc {i} – füñky ünïcode 日本語 " * 200)[: 2500 + 31 * i])
            for i in range(24)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, corpus_plan(), wh, n_buckets=2,
                        stripe_bytes=1 << 10, input_token="zone-frag")
    zones = [("repo", "r1", "r2"), ("content", "doc 1", "doc 2")]
    cols = ["content", "path"]
    fast = engine.decode_table(spark, wh, columns=cols, zone_filter=zones)
    assert fast.columns == cols
    a = sorted(map(tuple, fast.collect()))
    assert a == sorted(reference_rows(wh, columns=cols, zone_filter=zones))
    want = {r[1] for r in rows
            if "r1" <= r[0] <= "r2" and "doc 1" <= r[4] <= "doc 2"}
    assert want <= {p for _, p in a} and len(a) < len(rows)


def test_decode_warehouses_one_read_and_plan_check(spark, tmp_path):
    """Several warehouses of one plan decode as one read; manifests that
    disagree on plan_hash or schema_ddl raise."""
    plan = corpus_plan()
    whs = []
    for i, n in enumerate((30, 20)):
        wh = str(tmp_path / f"batch={i}")
        engine.encode_table(spark, generate_corpus(spark, n, seed=i), plan,
                            wh, n_buckets=2, input_token=f"multi{i}")
        whs.append(wh)
    both = engine.decode_warehouses(spark, whs)
    assert both.count() == 50
    assert "Union" not in both._jdf.queryExecution().executedPlan().toString()
    mpath = os.path.join(whs[1], "manifest.json")
    m = engine.read_manifest(whs[1])
    for key in ("plan_hash", "schema_ddl"):
        with open(mpath, "w") as f:
            json.dump(dict(m, **{key: m[key] + "x"}), f)
        with pytest.raises(ValueError, match=key):
            engine.decode_warehouses(spark, whs)
