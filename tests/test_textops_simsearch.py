"""Dedup family (MinHash, SimHash, exact Jaccard), similarity search
(brute-force + LSH), multimodal plumbing."""

import numpy as np
import pytest
from conftest import run_jobs
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def _with_perturbed(docs, suffix=" tail"):
    p = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(suffix)).alias("text"))
    return docs.union(p)


def test_minhash_finds_perturbed_pairs(spark, docs):
    from colonnade_spark.textops import minhash_near_dup_pairs

    pairs = minhash_near_dup_pairs(spark, _with_perturbed(docs), "doc_id",
                                   "text", threshold=0.5).collect()
    matched = {a for a, b, _ in pairs if b - a == 1_000_000}
    n = docs.count()
    assert len(matched) >= 0.9 * n
    # estimates are plausible jaccards
    assert all(0.5 <= e <= 1.0 for _, _, e in pairs)


def test_minhash_dedup_false_is_multiset_of_same_pairs(spark, docs):
    """``dedup=False`` must emit exactly the deduped pair set with
    multiplicity >= 1 and a single est value per pair (est is a pure
    function of the two signatures, whatever band found the pair) — so any
    downstream distinct/aggregation over the pair columns gives identical
    results while the survivor-volume dedup shuffle is skipped."""
    from collections import Counter

    from colonnade_spark.textops import minhash_near_dup_pairs

    both = _with_perturbed(docs)
    deduped = minhash_near_dup_pairs(spark, both, "doc_id", "text",
                                     threshold=0.5).collect()
    raw = minhash_near_dup_pairs(spark, both, "doc_id", "text",
                                 threshold=0.5, dedup=False).collect()
    dset = {(r["id_a"], r["id_b"], r["est_jaccard"]) for r in deduped}
    rset = {(r["id_a"], r["id_b"], r["est_jaccard"]) for r in raw}
    assert rset == dset                      # same pairs, same est values
    mult = Counter((r["id_a"], r["id_b"]) for r in raw)
    assert len(raw) >= len(deduped) and max(mult.values()) > 1


def test_exact_jaccard_verifies_minhash(spark, docs):
    from colonnade_spark.textops import minhash_near_dup_pairs, ngram_jaccard_pairs

    both = _with_perturbed(docs)
    cand = minhash_near_dup_pairs(spark, both, "doc_id", "text", threshold=0.5)
    exact = ngram_jaccard_pairs(spark, both, "doc_id", "text",
                                cand.select("id_a", "id_b")).collect()
    assert len(exact) > 0
    assert all(0.4 <= r["jaccard"] <= 1.0 for r in exact)


def test_simhash_pairs_and_hamming(spark, docs):
    from colonnade_spark.textops import simhash_near_dup_pairs

    # minimal perturbation (one short token): a short doc's simhash moves
    # ~1-5 bits; banding (4 x 16-bit chunks) then recalls most pairs
    pairs = simhash_near_dup_pairs(spark, _with_perturbed(docs, " t"), "doc_id",
                                   "text", max_hamming=10).collect()
    matched = {a for a, b, h in pairs if b - a == 1_000_000}
    assert len(matched) >= 0.8 * docs.count()
    assert all(0 <= h <= 10 for _, _, h in pairs)


def test_simhash_deterministic():
    from colonnade_spark.textops import simhash_batch

    a = simhash_batch(["hello world code", ""], shingle=4)
    b = simhash_batch(["hello world code", ""], shingle=4)
    assert a == b
    assert -(2**63) <= a[0] < 2**63


def test_lsh_topk_recall_vs_brute_force(spark, emb):
    from colonnade_spark.simsearch import brute_force_topk, lsh_topk

    q = emb.filter("vec_id < 10")
    c = emb.filter("vec_id >= 10")
    exact = brute_force_topk(spark, q, c, "embedding", "vec_id", k=5).collect()
    approx = lsh_topk(spark, q, c, "embedding", "vec_id", dim=64, k=5,
                      n_bits=16, bands=4).collect()
    exact_set = {(r["qid"], r["nid"]) for r in exact}
    approx_set = {(r["qid"], r["nid"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"LSH recall too low: {recall}"
    # approx similarities are true cosines (exact re-rank)
    sim_by_pair = {(r["qid"], r["nid"]): r["sim"] for r in exact}
    for r in approx:
        key = (r["qid"], r["nid"])
        if key in sim_by_pair:
            assert abs(sim_by_pair[key] - r["sim"]) < 1e-9


def test_ivf_topk_recall_vs_brute_force(spark, emb):
    from colonnade_spark.simsearch import brute_force_topk, ivf_topk

    q = emb.filter("vec_id < 10")
    c = emb.filter("vec_id >= 10")
    exact = brute_force_topk(spark, q, c, "embedding", "vec_id", k=5).collect()
    approx = ivf_topk(spark, q, c, "embedding", "vec_id", dim=64, k=5,
                      n_cells=16, n_probe=6).collect()
    exact_set = {(r["qid"], r["nid"]) for r in exact}
    approx_set = {(r["qid"], r["nid"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # approx similarities are true cosines (exact re-rank inside cells)
    sim_by_pair = {(r["qid"], r["nid"]): r["sim"] for r in exact}
    for r in approx:
        key = (r["qid"], r["nid"])
        if key in sim_by_pair:
            assert abs(sim_by_pair[key] - r["sim"]) < 1e-9
    # plan shape: equi-join on the cell id, no cross join anywhere
    plan = (ivf_topk(spark, q, c, "embedding", "vec_id", dim=64)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_distributed_training_recall(spark, emb):
    """The 100-TB trainer: Lloyd rounds as Spark aggregations, only the
    k x dim centroid model crossing the driver — recall and exact in-cell
    re-rank must hold like the sample trainer's."""
    from colonnade_spark.simsearch import brute_force_topk, ivf_topk

    q = emb.filter("vec_id < 10")
    c = emb.filter("vec_id >= 10")
    exact = brute_force_topk(spark, q, c, "embedding", "vec_id", k=5).collect()
    approx = ivf_topk(spark, q, c, "embedding", "vec_id", dim=64, k=5,
                      n_cells=16, n_probe=6, train="distributed").collect()
    exact_set = {(r["qid"], r["nid"]) for r in exact}
    approx_set = {(r["qid"], r["nid"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"distributed-IVF recall too low: {recall}"
    sim_by_pair = {(r["qid"], r["nid"]): r["sim"] for r in exact}
    for r in approx:
        key = (r["qid"], r["nid"])
        if key in sim_by_pair:
            assert abs(sim_by_pair[key] - r["sim"]) < 1e-9


def test_cosine_near_dup_pairs(spark, emb):
    from colonnade_spark.simsearch import cosine_near_dup_pairs

    # duplicate three vectors with new ids → guaranteed cos=1.0 pairs;
    # identical vectors agree on every hyperplane sign, so the default
    # LSH-banded path has recall 1 on them
    dup = emb.filter("vec_id < 3").select(
        (F.col("vec_id") + 500_000).alias("vec_id"), "embedding", "label")
    pairs = cosine_near_dup_pairs(spark, emb.union(dup), "embedding",
                                  "vec_id", threshold=0.999, dim=64).collect()
    found = {(a, b) for a, b, _ in pairs}
    assert {(0, 500_000), (1, 500_001), (2, 500_002)} <= found


def test_cosine_near_dup_banded_plan_and_recall(spark, emb):
    """The default (banded) path must be shuffle-join shaped — no
    CartesianProduct / BroadcastNestedLoopJoin anywhere in the physical
    plan — and recover the exact pair set on the synthetic data."""
    from colonnade_spark.simsearch import cosine_near_dup_pairs

    sub = emb.filter("vec_id < 400")
    # threshold 0.45 is a loose angle (~63°): shorter bands (r=2) keep
    # per-pair miss probability ~1e-4; the 0.9-style defaults use longer
    # bands because tight angles agree on almost every hyperplane
    banded = cosine_near_dup_pairs(spark, sub, "embedding", "vec_id",
                                   threshold=0.45, dim=64,
                                   n_bits=32, bands=16)
    plan = banded._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    exact = cosine_near_dup_pairs(spark, sub, "embedding", "vec_id",
                                  threshold=0.45, exact=True)
    e = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    b = {(r["id_a"], r["id_b"]) for r in banded.collect()}
    assert b <= e                      # banded never invents pairs
    if e:
        assert len(b & e) / len(e) >= 0.8, (len(b), len(e))


def test_simhash_manku_split_recovers_capped_pairs(spark):
    """Homogeneous-corpus scenario: every level-0 bucket is oversized, so a
    plain size cap would drop ALL pairs; the Manku recursive split re-bands
    oversized buckets on the remaining chunks and recovers the twins."""
    import numpy as np

    from colonnade_spark.textops import simhash_pairs_from_sigs

    rng = np.random.default_rng(7)
    rows = []
    # 40 docs in 20 identical-signature twin pairs; each 16-bit chunk value
    # drawn from a 4-symbol alphabet → every (band, chunk) bucket holds ~10
    # members (> max_bucket=8) at level 0, while (chunk_i, chunk_j) refined
    # buckets hold ~2.5 (< 8) at level 1
    for p in range(20):
        chunks = rng.integers(0, 4, size=4)
        sig = 0
        for i, c in enumerate(chunks):
            sig |= int(c) << (i * 16)
        sig = int(np.uint64(sig).view(np.int64))
        rows.append((2 * p, sig))
        rows.append((2 * p + 1, sig))
    df = spark.createDataFrame(rows, "doc_id long, simhash long")

    # without the split (max_bucket large enough that level 0 works) — the
    # ground truth this skewed corpus should produce
    full = simhash_pairs_from_sigs(df, "doc_id", max_hamming=0,
                                   max_bucket=1000)
    truth = {(r["id_a"], r["id_b"]) for r in full.collect()}
    twin_pairs = {(2 * p, 2 * p + 1) for p in range(20)}
    assert twin_pairs <= truth

    # with the cap at 8, level 0 finds nothing; the split must recover the
    # twin pairs through refined (chunk_i, chunk_j) buckets
    capped = simhash_pairs_from_sigs(df, "doc_id", max_hamming=0,
                                     max_bucket=8)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert twin_pairs <= got, f"split failed to recover: {twin_pairs - got}"


def test_batch_meta_matches_per_row_reference():
    """The vectorized metadata kernel (one bincount over the concatenated
    buffer) must equal the per-row reference implementations exactly."""
    import numpy as np

    from colonnade_spark.multimodal import (_entropy_milli, _fake_decode,
                                            batch_meta)

    payloads = [b"hello world", b"", b"\x00" * 100, bytes(range(256)) * 3,
                "héllo 中文".encode(), b"a", None]
    meta = batch_meta(payloads)
    for i, p in enumerate(payloads):
        p = p or b""
        assert meta["n_bytes"][i] == len(p)
        assert meta["entropy_milli"][i] == _entropy_milli(p)
        np.testing.assert_allclose(meta["fake_features"][i], _fake_decode(p),
                                   rtol=1e-6)


def test_multimodal_extract_and_frames(spark, docs):
    from colonnade_spark.multimodal import extract_features, frame_sample_stub

    binned = docs.select("doc_id", F.col("text").cast("binary").alias("payload"))
    feats = extract_features(binned, "doc_id", "payload").collect()
    assert len(feats) == docs.count()
    for r in feats[:10]:
        assert r["n_bytes"] >= 0 and len(r["features"]) == 8
        if r["n_bytes"]:
            assert 0 < r["entropy_milli"] < 8000
            assert abs(sum(r["features"]) - 1.0) < 1e-3
    frames = frame_sample_stub(binned.limit(5), "doc_id", "payload", every_n=4)
    rows = frames.collect()
    assert {r["id"] for r in rows} <= {r["doc_id"] for r in binned.limit(5).collect()}
    assert all(r["frame_idx"] < 4 for r in rows)


def test_multimodal_resize_stub(spark, docs):
    from colonnade_spark.multimodal import resize_stub

    binned = docs.limit(20).select("doc_id",
                                   F.col("text").cast("binary").alias("payload"))
    rows = resize_stub(binned, "doc_id", "payload", target=8).collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["resized"]) == 64          # 8x8 output always
        assert r["src_h"] == r["src_w"] >= 1


def test_multimodal_real_mode_is_explicit_stub(spark, docs):
    from colonnade_spark.multimodal import extract_features

    binned = docs.select("doc_id", F.col("text").cast("binary").alias("payload"))
    with pytest.raises(NotImplementedError):
        extract_features(binned, "doc_id", "payload", modality="real")


def test_winnow_fingerprints_properties():
    """Winnowing (SIGMOD'03): identical docs → identical fingerprint sets;
    a local edit changes only a bounded neighborhood of fingerprints."""
    from colonnade_spark.textops import winnow_batch

    rng = np.random.default_rng(3)
    words = ["alpha", "bravo", "code", "delta", "eagle", "frame", "gamma",
             "hash", "index", "joule", "kilo", "lambda"]
    base = " ".join(rng.choice(words, size=200))    # varied, non-repeating
    edited = base[:300] + "X" + base[301:]          # one-char substitution
    a, b, a2 = winnow_batch([base, edited, base])
    assert a == a2                                   # deterministic
    sa, sb = set(a), set(b)
    assert len(sa) > 10
    overlap = len(sa & sb) / len(sa | sb)
    assert overlap > 0.7, overlap                    # local edit ≈ local change
    # short docs still fingerprint (single minimum)
    (tiny,) = winnow_batch(["ab"])
    assert len(tiny) == 1


def test_connected_components_warns_when_not_converged(spark):
    """ADVICE regression: exiting by iteration count (cluster diameter >
    max_iters) must not be silent — split labels get a warning or a raise."""
    import pytest

    from colonnade_spark.textops import connected_components

    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    chain = spark.createDataFrame([(i, i + 1) for i in range(7)],
                                  "id_a long, id_b long")
    with pytest.warns(RuntimeWarning, match="max_iters"):
        connected_components(ids, chain, max_iters=1).collect()
    with pytest.raises(RuntimeError, match="max_iters"):
        connected_components(ids, chain, max_iters=1,
                             on_max_iters="raise").collect()
    # enough rounds → converges silently to one component
    comp = {r["doc_id"]: r["comp"]
            for r in connected_components(ids, chain, max_iters=10).collect()}
    assert set(comp.values()) == {0}


def test_connected_components_and_near_dedup(spark, docs):
    from colonnade_spark.textops import (connected_components,
                                         dedup_near_keep_first)

    # hand-built graph: {1,2,3} via chain, {4,5}, {6} isolated
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    comp = {r["doc_id"]: r["comp"]
            for r in connected_components(ids, pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[4] == comp[5] == 4
    assert comp[6] == 6

    # end-to-end: docs ∪ perturbed copies → exactly one survivor per
    # near-dup cluster, and it's the original (smaller id)
    both = _with_perturbed(docs.limit(100))
    kept = dedup_near_keep_first(spark, both, "doc_id", "text",
                                 threshold=0.5)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    n_pert_kept = sum(1 for i in kept_ids if i >= 1_000_000)
    assert len(kept_ids) <= 105          # ~one per cluster (plus stragglers)
    assert n_pert_kept <= 5              # originals win (min id)


def test_connected_components_absorbs_duplicates(spark):
    """Round-6 pin for the removed id-side distinct(): duplicate ids and
    duplicate/self-inverse pair rows must produce the same labels as clean
    input — round 1's groupBy(id) min subsumes the distinct exactly — and
    ``dedup_edges=False`` must be label-identical to the default on a
    duplicate-free pair list."""
    from colonnade_spark.textops import connected_components

    ids_dup = spark.createDataFrame(
        [(i,) for i in range(1, 7)] + [(2,), (5,), (5,)], "doc_id long")
    pairs_dup = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (1, 2), (2, 3)], "id_a long, id_b long")
    expect = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
    comp = {r["doc_id"]: r["comp"]
            for r in connected_components(ids_dup, pairs_dup).collect()}
    assert comp == expect
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    nodedup = {r["doc_id"]: r["comp"]
               for r in connected_components(
                   ids, pairs, dedup_edges=False).collect()}
    assert nodedup == expect
    # degenerate max_iters=0: no round runs, so the groupBy that normally
    # absorbs duplicate ids never happens — output must still be one
    # self-label per unique id (the explicit guard)
    rows = connected_components(ids_dup, pairs_dup, max_iters=0,
                                on_max_iters="ignore").collect()
    assert sorted((r["doc_id"], r["comp"]) for r in rows) == [
        (i, i) for i in range(1, 7)]


def test_connected_components_releases_superseded_storage(spark):
    """Review regression: each round's localCheckpoint blocks must be
    released when superseded (DataFrame.unpersist alone does NOT free
    them) — storage stays O(one labels table) however many rounds run."""
    from colonnade_spark.textops import connected_components

    sc = spark.sparkContext
    # long chain → many propagation rounds
    n = 40
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)],
        "id_a long, id_b long, est_jaccard double")
    before = len(sc._jsc.sc().getRDDStorageInfo())
    comp = connected_components(ids, pairs, max_iters=50)
    rows = comp.collect()
    assert {r["comp"] for r in rows} == {0}          # one chain component
    after = len(sc._jsc.sc().getRDDStorageInfo())
    # only the FINAL round's checkpoint (and nothing per-round) remains
    assert after - before <= 1, (before, after)


def test_connected_components_one_job_per_round(spark):
    """Round-6 optimization pin: the per-round convergence check and the
    checkpoint materialization share ONE job (lazy localCheckpoint — the
    sum action materializes the blocks).  An eager checkpoint would spend
    a separate count() job per round; at scale every round is
    latency-bound, so the job count per round is the cost model."""
    from colonnade_spark.textops import connected_components

    n = 14
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    # chain -> diameter n-1: max_iters exactly caps the round count, so
    # the job-count DIFFERENCE between two runs isolates the per-round
    # cost from fixed setup jobs (AQE spawns one job per shuffle stage,
    # so absolute counts are not 1-per-action).
    pairs = spark.createDataFrame([(i, i + 1, 1.0) for i in range(n - 1)],
                                  "id_a long, id_b long, est_jaccard double")

    def jobs_for(iters: int) -> int:
        return len(run_jobs(spark, lambda: connected_components(
            ids, pairs, max_iters=iters, on_max_iters="ignore").count())[1])

    slope = (jobs_for(6) - jobs_for(2)) / 4
    # measured: lazy checkpoint = 4.0 jobs/round, eager = 5.0 (the extra
    # count() materialization job) — pin the lazy cost model
    assert slope <= 4.5, slope


def test_minhash_bands_must_divide_hashes(spark):
    import pytest

    from colonnade_spark.textops import minhash_near_dup_pairs

    df = spark.createDataFrame([(1, "a b c"), (2, "a b d")], "id long, t string")
    with pytest.raises(ValueError, match="bands must divide"):
        minhash_near_dup_pairs(spark, df, "id", "t", n_hashes=16, bands=5)


def test_unknown_modality_raises_not_silent_fake():
    import pytest

    from colonnade_spark.multimodal import extract_features

    with pytest.raises(KeyError, match="unknown modality"):
        extract_features(None, "id", "payload", modality="images")


def test_lsh_null_vector_fails_loudly(spark):
    import pytest

    from colonnade_spark.simsearch import with_lsh_signature

    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, None)], "id long, e array<float>")
    out = with_lsh_signature(df, "e", 2, 8)
    with pytest.raises(Exception, match="null/non-vector embedding"):
        out.collect()


def test_wide_shingle_keys_are_position_dependent():
    """Regression: the old OR-combiner collided symmetric swaps for
    shingle > 8 ('AxxxxxxxB' vs 'BxxxxxxxA' keyed identically)."""
    import numpy as np

    from colonnade_spark.textops import _shingle_keys

    a, b = "AxxxxxxxB", "BxxxxxxxA"
    ka, _, _ = _shingle_keys([a], shingle=9)
    kb, _, _ = _shingle_keys([b], shingle=9)
    assert not np.array_equal(ka, kb)


def test_char_ngram_key_sets_match_string_sets():
    """Round-6 kernel: injective packed keys — intersection/union sizes must
    EQUAL the raw string-set sizes, including short/empty texts, repeated
    shingles, and wide (non-ASCII) code points."""
    from colonnade_spark.textops import char_ngram_key_sets

    texts = ["hello world abc", "hi", "", "aaaaaa", "abcabcabc", "x" * 4,
             "hello world abd", chr(5000) * 7 + "abc", "café au lait x",
             "hello world abc"]
    got = char_ngram_key_sets(texts, 5)
    ref = []
    for t in texts:
        cnt = max(len(t) - 4, 1)
        ref.append({t[i: i + 5] for i in range(cnt)})
    for g, r in zip(got, ref):
        assert g.size == len(r)
        assert np.unique(g).size == g.size          # sorted unique contract
    for i in range(len(texts)):
        for j in range(len(texts)):
            ni = int(np.intersect1d(got[i], got[j], assume_unique=True).size)
            assert ni == len(ref[i] & ref[j]), (i, j)


def test_word_shingle_hash_sets_match_reference():
    """Round-6 kernel: span hashes must reproduce split(' ')/concat_ws
    word-3-gram distinct sets — including empty docs, leading/trailing and
    double spaces (empty words), and cross-doc equality of equal shingles."""
    from colonnade_spark.textops import word_shingle_hash_sets

    texts = ["a b c d e", "a b", "", "x  y z", "a b c",
             "one two three four", "trail space x ", " lead sp y",
             "a b c a b c a b c", "sp  dbl  sp x", "a " * 5, "  ", "q w e"]

    def ref_sets(ts, k=3):
        out = []
        for t in ts:
            words = t.split(" ")
            if len(words) >= k:
                out.append({" ".join(words[i: i + k])
                            for i in range(len(words) - k + 1)})
            else:
                out.append(set())
        return out

    got = word_shingle_hash_sets(texts, 3)
    ref = ref_sets(texts)
    for g, r, t in zip(got, ref, texts):
        assert len(g) == len(r), repr(t)
    # cross-doc equality: "a b c" is a shingle of texts[0], [4] and [8]
    g0, g4, g8 = set(got[0]), set(got[4]), set(got[8])
    assert len(g4) == 1 and g4 < g0 and g4 < g8
    # and inequality: disjoint docs share nothing
    assert not (set(got[12]) & g0)


def test_adjacent_jaccard_kernel_handles_batch_and_block_boundaries(spark):
    """The mapInArrow pairing must survive arrow-batch splits and block
    boundaries (the duplicated boundary row) — exercised with a tiny
    maxRecordsPerBatch via a locally-built frame and compared to a pure-
    python reference over the same texts."""
    from colonnade_spark.queries import q_ngram_jaccard
    import os
    import tempfile

    rows = [(i, f"text number {i} with shared tail {'x' * (i % 7)}")
            for i in range(0, 2060)]          # spans two 1024-blocks + a gap
    rows = [r for r in rows if r[0] != 1500]  # id gap: no pair 1499/1500
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, "doc_id bigint, text string") \
            .coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        out = {r["id_a"]: (r["n_inter"], r["n_union"], r["jaccard_milli"])
               for r in q_ngram_jaccard(spark, d).collect()}
    txt = dict(rows)

    def sets(t):
        return {t[i: i + 5] for i in range(max(len(t) - 4, 1))}

    expect = {}
    for i, t in rows:
        if i + 1 in txt:
            a, b = sets(t), sets(txt[i + 1])
            ni, nu = len(a & b), len(a | b)
            expect[i] = (ni, nu, ni * 1000 // nu)
    assert out == expect


def test_run_groups_truncates_oversized_carry():
    """A bucket far above the cap that spans many arrow batches must not
    accumulate in the carry: its payload is truncated to drop_over + 1 rows
    (still above the cap, so consumers drop it) and every OTHER bucket's
    rows come through complete and correctly aligned."""
    import pyarrow as pa
    from colonnade_spark.textops import _run_groups

    # bucket 0: 3 rows | bucket 1: 30 rows (oversized) | bucket 2: 4 rows
    bh = [0] * 3 + [1] * 30 + [2] * 4
    ids = list(range(len(bh)))
    batches = [pa.RecordBatch.from_arrays(
        [pa.array([0] * len(chunk), type=pa.int32()),
         pa.array(chunk, type=pa.int32()),
         pa.array(ids[i: i + len(chunk)], type=pa.int64())],
        names=["band", "bh", "id"])
        for i, chunk in ((i, bh[i: i + 5]) for i in range(0, len(bh), 5))]
    got = list(_run_groups(iter(batches), ["band", "bh"], ["id"],
                           drop_over=8))
    runs = []
    for counts, payload in got:
        at = 0
        for c in counts:
            runs.append((int(c), payload["id"][at: at + int(c)].tolist()))
            at += int(c)
    by_rows = {}
    for c, r in runs:
        by_rows.setdefault(r[0], (c, r))
    assert by_rows[0] == (3, [0, 1, 2])                 # bucket 0 complete
    assert by_rows[33][0] == 4 and by_rows[33][1] == [33, 34, 35, 36]
    over = by_rows[3]
    # the carry is truncated to drop_over+1 rows; the closing batch may
    # append up to one batch of rows before the boundary — the invariant
    # is the reported size stays ABOVE the cap (consumers drop it) and the
    # carry memory is bounded by drop_over + batch size, not the run size
    assert over[0] > 8 and len(over[1]) <= 9 + 5


@pytest.mark.parametrize("rows", [[[1, 2, 3], [4]],
                                  [[1, 2, 3], None, [4, 5, 6]]])
def test_run_groups_rejects_ragged_list_rows(rows):
    """A list payload whose rows differ in length, or hold a null, must
    raise: the total size alone divides evenly here, and a reshape would
    turn [[1, 2, 3], [4]] into [[1, 2], [3, 4]] (a null row is dropped by
    flatten) and pair the wrong signatures."""
    import pyarrow as pa
    from colonnade_spark.textops import _run_groups

    batch = pa.RecordBatch.from_arrays(
        [pa.array([0] * len(rows), type=pa.int32()),
         pa.array(range(len(rows)), type=pa.int64()),
         pa.array(rows, type=pa.list_(pa.int64()))],
        names=["bh", "id", "sig"])
    with pytest.raises(ValueError, match="ragged list column 'sig'"):
        list(_run_groups(iter([batch]), ["bh"], ["id", "sig"]))


def _kernel_rows(kernel, batches):
    return [row for b in kernel(iter(batches))
            for row in zip(*(c.to_pylist() for c in b.columns))]


def test_pair_chunks_cover_every_pair_once():
    """Buffered small buckets and row strips of big ones (small max_pairs
    forces both, and flushes between them) yield each in-bucket pair
    exactly once, in bucket order."""
    from itertools import combinations

    from colonnade_spark.textops import _intra_bucket_pair_chunks

    counts = np.array([3, 1, 0, 2, 9, 4, 2, 12, 5], dtype=np.int64)
    got = [(int(i), int(j)) for I, J in
           _intra_bucket_pair_chunks(counts, max_pairs=7)
           for i, j in zip(I, J)]
    at, expect = 0, []
    for c in counts:
        expect += combinations(range(at, at + int(c)), 2)
        at += int(c)
    assert got == expect


def test_bucket_pair_kernels_match_bruteforce():
    """The in-bucket pair kernel with each family's metric (minhash,
    simhash, cosine) vs brute force over synthetic buckets, fed as two
    arrow batches that split a bucket.  The 120- and 400-member buckets
    are above the minhash/simhash cap (100), so those families drop them;
    cosine has no cap (max_bucket=None) and keeps every pair of both, and
    the 400-member bucket (79,800 pairs) runs cosine's row-strip path at
    its 1 << 16 chunk size.  Cosine is compared bit-exact against a
    plain-python left fold."""
    import math
    from itertools import combinations

    import pyarrow as pa
    from colonnade_spark.simsearch import cosine_metric
    from colonnade_spark.textops import (_popcount64, bucket_pair_kernel,
                                         hamming_metric, minhash_metric)

    rng = np.random.default_rng(7)
    sizes = [2, 5, 1, 3, 120, 4, 400]         # 1-member bucket emits nothing
    band, bh, buckets = [], [], []
    for b, s in enumerate(sizes):
        band += [b % 3] * s
        bh += [b] * s
        buckets.append(range(len(bh) - s, len(bh)))
    ids = list(range(len(bh)))                # id == row position

    def pairs(cap):
        for rows in buckets:
            if cap is None or len(rows) <= cap:
                yield from combinations(rows, 2)

    def run(kernel, cols, names):
        batch = pa.RecordBatch.from_arrays(
            [pa.array(band, type=pa.int32()), pa.array(bh, type=pa.int32()),
             pa.array(ids, type=pa.int64())] + cols,
            names=["band", "bh", "id"] + names)
        return set(_kernel_rows(kernel, [batch.slice(0, 300),
                                         batch.slice(300)]))

    sigs = rng.integers(0, 4, (len(ids), 64)).tolist()
    got = run(bucket_pair_kernel(["band", "bh"], ["sig"],
                                 minhash_metric(64, 0.3), "est_jaccard double",
                                 max_bucket=100),
              [pa.array(sigs, type=pa.list_(pa.int64()))], ["sig"])
    expect = set()
    for i, j in pairs(100):
        m = sum(1 for k in range(64) if sigs[i][k] == sigs[j][k])
        if m / 64.0 >= 0.3:
            expect.add((i, j, m / 64.0))
    assert got == expect and len(expect) > 0

    ssig = rng.integers(-2**62, 2**62, len(ids)).tolist()
    sgot = run(bucket_pair_kernel(["band", "bh"], ["sig"], hamming_metric(34),
                                  "hamming int", max_bucket=100),
               [pa.array(ssig, type=pa.int64())], ["sig"])
    sexpect = set()
    for i, j in pairs(100):
        h = bin((ssig[i] ^ ssig[j]) & (2**64 - 1)).count("1")
        if h <= 34:
            sexpect.add((i, j, h))
    assert sgot == sexpect and len(sexpect) > 0

    def fold(a, b):                           # sequential left fold
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    e = rng.standard_normal((len(ids), 8)).tolist()
    n2 = [fold(v, v) for v in e]
    cgot = run(bucket_pair_kernel(["band", "bh"], ["e", "n2"],
                                  cosine_metric(0.5), "cos_sim double",
                                  max_pairs=1 << 16),
               [pa.array(e, type=pa.list_(pa.float64())),
                pa.array(n2, type=pa.float64())], ["e", "n2"])
    cexpect = set()
    for i, j in pairs(None):
        sim = fold(e[i], e[j]) / math.sqrt(n2[i] * n2[j])
        if sim >= 0.5:
            cexpect.add((i, j, sim))
    assert cgot == cexpect                    # float == : bit-exact
    assert {i for i, _, _ in cexpect} & set(buckets[4])
    assert {i for i, _, _ in cexpect} & set(buckets[6])
    # SWAR popcount sanity
    xs = rng.integers(0, 2**63, 1000).astype(np.uint64)
    assert all(int(p) == bin(int(x)).count("1")
               for p, x in zip(_popcount64(xs.copy()), xs))


def _sentinel_kernel(key_cols, max_hamming):
    from colonnade_spark.textops import bucket_pair_kernel, hamming_metric

    return bucket_pair_kernel(key_cols, ["sig"], hamming_metric(max_hamming),
                              "hamming int", max_bucket=8,
                              emit_over_keys=True)


def test_simhash_kernel_emits_oversized_bucket_sentinels():
    """The level-0 kernel's sentinel rows (id_a=-1, id_b=(band<<16)|bh,
    hamming=-1) must appear exactly once per oversized bucket — including a
    bucket whose run spans arrow batches and is carry-truncated — and never
    for processable buckets; real pairs must be byte-identical to the
    sentinel-free kernel's output."""
    import pyarrow as pa

    from colonnade_spark.textops import bucket_pair_kernel, hamming_metric

    rng = np.random.default_rng(11)
    # bucket (0,7): 3 rows | (1,9): 30 rows (oversized, cap 8, spans
    # batches) | (2,65535): 4 rows (max 16-bit chunk value)
    band = [0] * 3 + [1] * 30 + [2] * 4
    bh = [7] * 3 + [9] * 30 + [65535] * 4
    ids = list(range(len(band)))
    sigs = rng.integers(-2**62, 2**62, len(ids)).tolist()
    batches = [pa.RecordBatch.from_arrays(
        [pa.array(band[i: i + 5], type=pa.int32()),
         pa.array(bh[i: i + 5], type=pa.int32()),
         pa.array(ids[i: i + 5], type=pa.int64()),
         pa.array(sigs[i: i + 5], type=pa.int64())],
        names=["band", "bh", "id", "sig"]) for i in range(0, len(band), 5)]

    rows = _kernel_rows(_sentinel_kernel(["band", "bh"], 64), batches)
    sentinels = [r for r in rows if r[2] < 0]
    assert sentinels == [(-1, (1 << 16) | 9, -1)]       # exactly once
    plain_rows = _kernel_rows(
        bucket_pair_kernel(["band", "bh"], ["sig"], hamming_metric(64),
                           "hamming int", max_bucket=8), batches)
    assert [r for r in rows if r[2] >= 0] == plain_rows and plain_rows

    with pytest.raises(ValueError):
        _sentinel_kernel(["a"], 3)
    with pytest.raises(ValueError):                     # no cap, no sentinel
        bucket_pair_kernel(["band", "bh"], ["sig"], hamming_metric(3),
                           "hamming int", emit_over_keys=True)


@pytest.mark.parametrize("band,bh", [(1, 1 << 16), (1, -1), (1 << 47, 5)])
def test_simhash_sentinel_keys_out_of_range_raise(band, bh):
    """A sentinel id packs (key0 << 16) | key1; an oversized bucket whose
    key1 is outside [0, 65536), or whose key0 << 16 overflows int64, would
    alias another bucket, so the kernel raises instead of emitting it."""
    import pyarrow as pa

    n = 12  # > max_bucket: the bucket is oversized and emits a sentinel
    batch = pa.RecordBatch.from_arrays(
        [pa.array([band] * n, type=pa.int64()),
         pa.array([bh] * n, type=pa.int64()),
         pa.array(range(n), type=pa.int64()),
         pa.array(range(n), type=pa.int64())],
        names=["band", "bh", "id", "sig"])
    kernel = _sentinel_kernel(["band", "bh"], 3)
    with pytest.raises(ValueError, match="out of range"):
        list(kernel(iter([batch])))
    # the same keys in a bucket that is not oversized emit no sentinel
    # and pass
    list(kernel(iter([batch.slice(0, 4)])))


def test_pair_kernel_exchange_is_explicit_and_single(spark, docs, emb):
    """AQE coalesces a hash exchange by shuffle bytes and cannot see the
    python pair kernel's CPU, so the kernel's exchange must stay an
    explicit ``hashpartitioning(band, bh, N)`` with N from
    ``session.kernel_partitions`` and REPARTITION_BY_NUM (which AQE
    leaves alone), and each pipeline runs exactly one MapInArrow."""
    import re

    from colonnade_spark.session import kernel_partitions
    from colonnade_spark.simsearch import cosine_near_dup_pairs
    from colonnade_spark.textops import minhash_near_dup_pairs

    n = kernel_partitions(spark)
    for df in (minhash_near_dup_pairs(spark, docs, "doc_id", "text"),
               cosine_near_dup_pairs(spark, emb, "embedding", "vec_id",
                                     dim=64)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        kernel_exchanges = re.findall(
            r"Exchange hashpartitioning\(band#\d+L?, bh#\d+L?, (\d+)\), (\w+)",
            plan)
        assert kernel_exchanges == [(str(n), "REPARTITION_BY_NUM")], plan
        assert plan.count("MapInArrow") == 1, plan


def test_simhash_pairs_output_free_of_sentinels_when_capped(spark):
    """End-to-end: a capped corpus (Manku level-1 fires) must produce the
    same pair set as before the sentinel router, with no sentinel rows in
    the result (hamming is never negative)."""
    import numpy as np

    from colonnade_spark.textops import simhash_pairs_from_sigs

    rng = np.random.default_rng(7)
    rows = []
    for p in range(20):
        chunks = rng.integers(0, 4, size=4)
        sig = 0
        for i, c in enumerate(chunks):
            sig |= int(c) << (i * 16)
        rows.append((2 * p, int(np.uint64(sig).view(np.int64))))
        rows.append((2 * p + 1, rows[-1][1]))
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = simhash_pairs_from_sigs(df, "doc_id", max_hamming=0,
                                  max_bucket=8).collect()
    assert all(r["hamming"] >= 0 and r["id_a"] >= 0 for r in got)
    assert {(r["id_a"], r["id_b"]) for r in got} >= {
        (2 * p, 2 * p + 1) for p in range(20)}
