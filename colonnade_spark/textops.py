"""Text-analysis / dedup operators for training-data pipelines.

MinHash+LSH near-duplicate detection: shingle → minhash signature (vectorized
numpy inside a pandas UDF) → banding → in-bucket pair kernel (pairs and the
signature-estimated Jaccard filter in one mapInArrow pass, see bucket_pairs).

Kernel design (no per-row Python): each batch's strings are concatenated
into ONE byte buffer; rolling shingle keys are computed for the whole buffer
in a single vectorized pass (the concatenated-buffer technique the FSST
kernel uses); per-document reductions are ``np.minimum.reduceat`` /
``np.add.reduceat`` over document start offsets.  MinHash needs no
per-document ``unique`` at all — min over a multiset equals min over its
set — and SimHash uses shingle-frequency-weighted votes (the standard
weighted variant).

At 100 TB scale the bucket self-join is the hazard: a degenerate bucket
(e.g. boilerplate) goes quadratic.  MinHash mitigates with a per-bucket size
cap (such buckets are almost always boilerplate that exact-dedup already
catches).  SimHash goes further with the Manku-style recursive bucket split
(Manku, Jain & Sarma, WWW 2007 "Detecting Near-Duplicates for Web
Crawling"): oversized buckets are re-banded on the remaining chunks instead
of dropped, so homogeneous corpora keep their true pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf type-hint resolution needs it

from .session import kernel_partitions, shuffle_partitions, spread

_M64 = (1 << 64) - 1


def _i64(u: int) -> np.int64:
    """Reinterpret a uint64 constant as two's-complement int64."""
    return np.int64(u - (1 << 64) if u >= (1 << 63) else u)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, in-place temporaries (modular uint64).

    Multiplies run on an int64 VIEW: numpy's int64 multiply is SIMD-
    vectorized while uint64 is not (~6x), and products mod 2^64 are
    bit-identical in two's complement.  Shifts stay unsigned."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    xi = x.view(np.int64)
    t = x >> np.uint64(30)
    np.bitwise_xor(x, t, out=x)
    np.multiply(xi, _i64(0xBF58476D1CE4E5B9), out=xi)
    np.right_shift(x, np.uint64(27), out=t)
    np.bitwise_xor(x, t, out=x)
    np.multiply(xi, _i64(0x94D049BB133111EB), out=xi)
    np.right_shift(x, np.uint64(31), out=t)
    np.bitwise_xor(x, t, out=x)
    return x


def _shingle_keys(texts, shingle: int):
    """Vectorized shingling for a whole batch.

    Returns ``(keys, starts, counts)``: mixed uint64 shingle keys for every
    document concatenated in document order, plus each document's slice
    ``keys[starts[i] : starts[i] + counts[i]]``.  Documents shorter than the
    shingle width contribute one zero-padded 8-byte key (so every document
    has >= 1 key and reduceat segments are never empty).  One pass over one
    concatenated buffer — no per-document Python loop.
    """
    n = len(texts)
    bs = [(t or "").encode("utf-8") for t in texts]
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)
    counts = np.maximum(lens - shingle + 1, 1)
    starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    total = int(starts[-1])
    keys = np.zeros(total, dtype=np.uint64)

    buf = np.frombuffer(b"".join(bs), dtype=np.uint8)
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])

    long_mask = lens >= shingle
    short_idx = np.flatnonzero(~long_mask)
    nk = buf.size - shingle + 1
    if long_mask.any() and nk > 0 and shingle <= 8:
        # all rolling keys in ONE pass: unaligned little-endian uint64 view
        # of the padded buffer, masked down to `shingle` bytes
        padded = np.zeros(((buf.size + 15) // 8) * 8, dtype=np.uint8)
        padded[:buf.size] = buf
        u64 = np.lib.stride_tricks.as_strided(
            padded.view(np.uint64), shape=(nk,), strides=(1,))
        roll = u64 & np.uint64((1 << (8 * shingle)) - 1)
        # validity: windows must not cross a document boundary — clear the
        # shingle-1 positions before each boundary (this also covers every
        # position inside short documents)
        valid = np.ones(nk, dtype=bool)
        bad = (off[1:, None] - np.arange(1, shingle, dtype=np.int64)).ravel()
        bad = bad[(bad >= 0) & (bad < nk)]
        valid[bad] = False
        # output slots: everything except the short-docs' single slots
        out_mask = np.ones(total, dtype=bool)
        out_mask[starts[short_idx]] = False
        keys[out_mask] = roll[valid]
    elif long_mask.any() and nk > 0:
        # wide-shingle fallback (shingle > 8): sponge the bytes through a
        # splitmix round per position.  The old OR-combiner folded byte j
        # and byte j+8 into the SAME lane saturatingly — symmetric swaps
        # ('AxxxxxxxB' vs 'BxxxxxxxA') collided and bits biased toward 1,
        # inflating MinHash/SimHash similarity for shingle > 8.  A mix
        # round per byte is position-dependent and collision-resistant;
        # cost is shingle passes over the window count (wide shingles
        # only; the <=8 path is untouched and stays oracle-mirrored).
        roll = np.zeros(nk, dtype=np.uint64)
        for j in range(shingle):
            roll = _mix64(roll ^ buf[j: nk + j].astype(np.uint64))
        valid = np.ones(nk, dtype=bool)
        bad = (off[1:, None] - np.arange(1, shingle, dtype=np.int64)).ravel()
        bad = bad[(bad >= 0) & (bad < nk)]
        valid[bad] = False
        out_mask = np.ones(total, dtype=bool)
        out_mask[starts[short_idx]] = False
        keys[out_mask] = roll[valid]
    if short_idx.size:
        # zero-padded little-endian 8-byte key per short document
        mat = np.zeros((short_idx.size, 8), dtype=np.uint64)
        for j in range(min(shingle - 1, 8)):
            sel = lens[short_idx] > j
            if sel.any():
                rows = np.flatnonzero(sel)
                mat[rows, j] = buf[off[short_idx[rows]] + j]
        key = (mat << (np.uint64(8) * np.arange(8, dtype=np.uint64))).sum(
            axis=1, dtype=np.uint64)
        keys[starts[short_idx]] = key
    return _mix64(keys), starts[:-1], counts


def minhash_constants(n_hashes: int = 64) -> tuple:
    """The fixed odd-multiplier/offset pairs of the minhash affine family —
    one derivation, shared by the numpy kernel and the pure-SQL oracle
    (queries.SQL_MINHASH_NEARDUP inlines them as literals)."""
    rng = np.random.default_rng(0xC01A_0B0E)
    A = rng.integers(1, _M64, size=n_hashes, dtype=np.uint64) | np.uint64(1)
    Bc = rng.integers(0, _M64, size=n_hashes, dtype=np.uint64)
    return A, Bc


def minhash_signature_batch(texts, n_hashes: int = 64, shingle: int = 5) -> list:
    """Signatures for a batch of strings; pure numpy, deterministic.

    Per hash function: one 1-D affine transform over ALL shingle keys in the
    batch, then ``np.minimum.reduceat`` over document offsets — no
    per-document and no per-hash-inner Python loops.  (No per-document
    ``unique`` either: min over duplicates equals min over the set.)
    """
    A, Bc = minhash_constants(n_hashes)
    keys, starts, _counts = _shingle_keys(texts, shingle)
    n = len(texts)
    if n == 0:
        return []
    # cache-tiled: all n_hashes affine passes run over one L2-sized key
    # chunk before moving on, with per-doc minima folded across chunk
    # boundaries — the hash-major loop re-streamed the full key buffer
    # from memory once per hash (64 x 16 B/key of traffic; measured 1.36x
    # slower single-core, and the gap widens under task concurrency).
    # Same bits: multiplies on the int64 view (SIMD), min on uint64.
    sigs = np.full((n_hashes, n), np.iinfo(np.uint64).max, dtype=np.uint64)
    ki_full = keys.view(np.int64)
    Ai, Bi = A.view(np.int64), Bc.view(np.int64)
    chunk = 1 << 18
    total = keys.size
    h = np.empty(min(chunk, total), dtype=np.uint64)
    hview = h.view(np.int64)
    for lo in range(0, total, chunk):
        end = min(lo + chunk, total)
        m = end - lo
        d0 = int(np.searchsorted(starts, lo, side="right")) - 1
        d1 = int(np.searchsorted(starts, end, side="left"))
        local_starts = np.clip(starts[d0:d1] - lo, 0, None)
        kc = ki_full[lo:end]
        hv, hvi = h[:m], hview[:m]
        for i in range(n_hashes):
            np.multiply(kc, Ai[i], out=hvi)
            np.add(hvi, Bi[i], out=hvi)
            np.minimum(sigs[i, d0:d1],
                       np.minimum.reduceat(hv, local_starts),
                       out=sigs[i, d0:d1])
    out = (sigs >> np.uint64(1)).astype(np.int64).T  # fit in long
    return [row.tolist() for row in out]


def with_minhash(df, text_col: str, sig_col: str = "sig",
                 n_hashes: int = 64, shingle: int = 5):
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(s: pd.Series) -> pd.Series:
        return pd.Series(minhash_signature_batch(s.tolist(), n_hashes, shingle))

    return spread(df).withColumn(sig_col, sig_udf(F.col(text_col)))


def minhash_near_dup_pairs(spark, df, id_col: str, text_col: str,
                           threshold: float = 0.8, n_hashes: int = 64,
                           bands: int = 16, shingle: int = 5,
                           max_bucket: int = 200, dedup: bool = True):
    """Candidate pairs sharing >=1 LSH band, kept when the signature-estimated
    Jaccard >= threshold.  Returns (id_a, id_b, est_jaccard).

    Since the round-6 in-bucket pair kernel the signature table has exactly
    ONE consumer in this pipeline (the band explode — bucket sizes and the
    two estimate re-joins are gone), so signatures stream straight into the
    explode with no parquet round-trip.

    ``dedup=False`` skips the final ``dropDuplicates``: a pair surviving in
    k shared bands is then emitted k times (same est_jaccard — it is a pure
    function of the two signatures).  For a consumer whose next step is
    itself a distinct/aggregation over the pair columns (e.g. twin-recall's
    ``distinct(id_a)``), the dedup shuffle is subsumed and skipping it
    removes one full pass over the survivor volume (guide §2.1) without
    changing any downstream result."""
    from pyspark.sql import functions as F

    if bands <= 0 or n_hashes % bands:
        # silent truncation here degenerates recall (rows=0 -> one constant
        # bucket that the size cap then drops entirely -> ZERO pairs)
        raise ValueError(
            f"bands must divide n_hashes: got n_hashes={n_hashes}, "
            f"bands={bands}")
    rows = n_hashes // bands
    sigged = with_minhash(df.select(id_col, text_col), text_col,
                          n_hashes=n_hashes, shingle=shingle)
    band_arr = F.array(*[
        F.hash(F.slice("sig", i * rows + 1, rows)).cast("long").alias(f"b{i}")
        for i in range(bands)])
    # bands carry the member SIGNATURES into their bucket; the in-bucket
    # pair kernel (see bucket_pairs) estimate-filters every pair, so only
    # survivors reach the dedup.  est is the same matches/n_hashes double
    # as the former self-join's, so the surviving pair set is identical.
    exploded = sigged.select(F.col(id_col).cast("bigint").alias("id"), "sig",
                             F.posexplode(band_arr).alias("band", "bh"))
    pairs = bucket_pairs(exploded, ["band", "bh"], ["sig"],
                         minhash_metric(n_hashes, threshold),
                         "est_jaccard double", max_bucket=max_bucket)
    return pairs.dropDuplicates(["id_a", "id_b"]) if dedup else pairs


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_batch(texts, shingle: int = 4) -> list:
    """64-bit SimHash over character shingles; pure numpy, deterministic.

    Frequency-weighted votes (each shingle occurrence votes +1/-1 per bit);
    vote sums accumulate via ``np.add.reduceat`` over document offsets in
    bounded slabs — no per-document Python loop.  Votes are SIGNED int64
    (a uint64 vote sum wraps negative scores to huge positives and saturates
    the signature — the round-1 bug).
    """
    keys, starts, counts = _shingle_keys(texts, shingle)
    n = len(texts)
    if n == 0:
        return []
    # 64 one-dimensional passes: per bit, count set keys per document via
    # np.add.reduceat (keeps peak memory at O(total_keys), not keys x 64)
    sig_bits = np.empty((64, n), dtype=np.int64)
    for b in range(64):
        bit_b = ((keys >> np.uint64(b)) & np.uint64(1)).view(np.int64)
        sig_bits[b] = np.add.reduceat(bit_b, starts)
    score = 2 * sig_bits - counts[None, :]         # SIGNED +1/-1 vote sums
    bitvals = (score > 0)
    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))[:, None]
    sigs = (bitvals.astype(np.uint64) * weights).sum(axis=0, dtype=np.uint64)
    return sigs.view(np.int64).tolist()            # two's-complement int64


def with_simhash(df, text_col: str, sig_col: str = "simhash", shingle: int = 4):
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def sim_udf(s: pd.Series) -> pd.Series:
        return pd.Series(simhash_batch(s.tolist(), shingle))

    return spread(df).withColumn(sig_col, sim_udf(F.col(text_col)))


def simhash_pairs_from_sigs(df_sigged, id_col: str, sig_col: str = "simhash",
                            max_hamming: int = 6, max_bucket: int = 10_000):
    """Near-dup pairs from precomputed 64-bit signatures: band into 4 x
    16-bit chunks (pigeonhole: a pair within hamming distance 3 MUST share a
    chunk; within 6 it shares one w.h.p.), bucket-join, verify exact hamming
    JVM-side (``bit_count``).

    Scale path — Manku-style recursive bucket split (WWW 2007): buckets
    larger than ``max_bucket`` are NOT dropped; their members are re-banded
    on the remaining three chunks (key = matched chunk + one other chunk) and
    pair-joined in those refined buckets.  This preserves recall on
    homogeneous corpora where one chunk value holds most of the corpus (the
    guarantee weakens from hamming<=3 to hamming<=2 inside oversized buckets:
    3 bit-diffs can spread 1+1+1 over the other three chunks).  Buckets still
    oversized after refinement are dropped (documented residual).
    """
    from pyspark.sql import functions as F

    chunks = F.array(*[
        F.shiftright(F.col(sig_col), i * 16).bitwiseAND(F.lit(0xFFFF))
         .cast("int").alias(f"c{i}") for i in range(4)])
    # The signature table has at most TWO consumers since the sentinel
    # change below (the level-0 explode, and the Manku routing join when —
    # and only when — some bucket is oversized).  Inline (non-materialized)
    # signatures with THREE consumers were tried and REJECTED late in
    # round 6: Catalyst specializes each consumer branch (column pruning,
    # PushDownLeftSemiAntiJoin below the repartition), so the exchange
    # subtrees stop being identical, exchange reuse never fires, and the
    # signature UDF executes once PER CONSUMER (measured at sf0.1:
    # 2.41 -> 3.14 s, 3x ArrowEvalPython in the executed plan).  Callers
    # therefore materialize df_sigged (localCheckpoint — see
    # simhash_near_dup_pairs — or a parquet table), which both consumers
    # scan cheaply.
    exploded = df_sigged.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(sig_col).alias("sig"),
        F.posexplode(chunks).alias("band", "bh"))
    # in-bucket pairs + hamming filter run inside the in-bucket pair
    # kernel (bucket_pairs + hamming_metric: xor + SWAR popcount).  The
    # level-0 kernel sees EVERY bucket and applies the same 2..max_bucket
    # cap in-stream; since it already detects oversized runs, it emits
    # their (band, bh) keys as sentinel rows (hamming = -1), which replaces
    # the former bucket-size groupBy — a SECOND full explode+shuffle+agg
    # pass over the signature table at any scale — as the Manku router.
    metric = hamming_metric(max_hamming)
    # localCheckpoint: level0 feeds BOTH the result union and the Manku
    # routing broadcast; without a materialization barrier the broadcast
    # subquery would re-execute the whole sig-scan -> shuffle -> kernel
    # pipeline (the multi-consumer trap, CLAUDE.md round-6).  eager=False:
    # the isEmpty() probe below materializes the blocks in one job.
    level0_out = bucket_pairs(
        exploded, ["band", "bh"], ["sig"], metric, "hamming int",
        max_bucket=max_bucket, emit_over_keys=True).localCheckpoint(
            eager=False)
    level0 = level0_out.filter(F.col("hamming") >= 0)
    over = (level0_out.filter(F.col("hamming") < 0)
            .select(F.shiftright("id_b", 16).cast("int").alias("band"),
                    F.col("id_b").bitwiseAND(F.lit(0xFFFF)).cast("int")
                    .alias("bh")))
    # data-adaptive plan (the hand-rolled form of AQE's empty-relation
    # pruning): when NO bucket is oversized — every corpus at bench SFs —
    # the whole Manku subtree (routing join, second explode, second keyed
    # exchange, level-1 kernel stage) is dropped from the plan for the
    # price of one limit-1 job over the already-checkpointed level-0
    # blocks.  At scale, over is non-empty, isEmpty() returns just as
    # cheaply, and the level-1 plan is exactly the pre-change one (with
    # the sentinel-derived router replacing the sizes aggregation).  The
    # probe reads bounded data (first sentinel row or none); the pair set
    # is identical either way: level-1 over zero routed members is empty.
    if over.isEmpty():
        return (level0.dropDuplicates(["id_a", "id_b"])
                .select(F.col("id_a"), F.col("id_b"), "hamming"))

    # Manku split: members of oversized buckets get a refined key
    # (band, bh, band2, bh2) over the remaining chunks.  The sentinel-
    # derived bucket list is tiny by construction (<= n_members /
    # max_bucket buckets), so it broadcasts.
    over_members = exploded.join(F.broadcast(over), ["band", "bh"],
                                 "left_semi")
    chunks2 = F.array(*[
        F.shiftright(F.col("sig"), i * 16).bitwiseAND(F.lit(0xFFFF))
         .cast("int").alias(f"d{i}") for i in range(4)])
    refined = (over_members
               .select("id", "sig", "band", "bh",
                       F.posexplode(chunks2).alias("band2", "bh2"))
               .filter(F.col("band2") != F.col("band")))
    level1 = bucket_pairs(refined, ["band", "bh", "band2", "bh2"], ["sig"],
                          metric, "hamming int", max_bucket=max_bucket)

    return (level0.unionByName(level1)
            .dropDuplicates(["id_a", "id_b"])
            .select(F.col("id_a"), F.col("id_b"), "hamming"))


def simhash_near_dup_pairs(spark, df, id_col: str, text_col: str,
                           max_hamming: int = 6, shingle: int = 4,
                           max_bucket: int = 10_000):
    """Near-dup pairs by SimHash over text: signature UDF + recursive-split
    bucket join (see :func:`simhash_pairs_from_sigs`, also the entry point
    for precomputed signatures).  Signatures are materialized ONCE so the
    UDF never re-executes per consumer (Catalyst's per-branch
    specialization defeats exchange reuse for unmaterialized signatures —
    measured rejection, see :func:`simhash_pairs_from_sigs`), by a lazy
    ``localCheckpoint``: materialized as executor-local blocks inside the
    first action instead of a parquet write+read round-trip.  The signature
    table is 16 bytes per doc + id, so the block footprint is negligible
    next to the corpus at any scale, and unlike a driver-local temp dir
    this form is also correct on a real cluster.

    Not fully lazy: building the returned DataFrame runs one eager Spark
    job, an ``isEmpty()`` probe over the level-0 kernel output that
    decides whether the Manku refinement subtree is needed (see
    :func:`simhash_pairs_from_sigs`).  That job computes the signatures
    and the level-0 pairs, so this call costs about one pass of the
    pipeline before any action on the result."""
    sigged = (with_simhash(df.select(id_col, text_col), text_col,
                           shingle=shingle).select(id_col, "simhash"))
    return simhash_pairs_from_sigs(sigged.localCheckpoint(eager=False),
                                   id_col, "simhash",
                                   max_hamming=max_hamming,
                                   max_bucket=max_bucket)


# --------------------------------------------------------------------------
# near-duplicate clustering (connected components over candidate pairs)
# --------------------------------------------------------------------------

def connected_components(ids_df, pairs_df, id_col: str = "doc_id",
                         max_iters: int = 20, on_max_iters: str = "warn",
                         dedup_edges: bool = True):
    """Connected components over an undirected pair list by iterative
    min-label propagation: every node repeatedly adopts the smallest label
    among itself and its neighbors; converges in <= graph-diameter rounds
    (near-dup clusters are small and dense, so a handful).

    Returns (id, component) where component = min id in the component.

    100-TB shape: each round is ONE shuffle join edges⋈labels plus ONE
    union+groupBy min — the join-back of the classic formulation is
    replaced by unioning the nodes' own labels into the neighbor
    contributions before the min, and the edges table is hash-partitioned
    on the join key once (cached post-shuffle), so rounds re-shuffle only
    the labels side.  Convergence is checked WITHOUT a join: labels are
    monotonically non-increasing under min-propagation, so the label sum
    (exact, decimal(38,0) — bigint would overflow at 1e12 63-bit ids) is
    strictly decreasing until the fixed point; an unchanged sum IS the
    fixed point.  Each round's labels are ``localCheckpoint``-ed: the
    lineage would otherwise grow one join per round (re-planning cost
    compounds), and the superseded round's cache is unpersisted so memory
    stays O(one labels table).

    Exiting by iteration count means some cluster's diameter exceeds
    ``max_iters`` and the labels are SPLIT (multiple survivors per true
    cluster).  ``on_max_iters``: "warn" (default — ``RuntimeWarning``),
    "raise" (``RuntimeError``), or "ignore".

    Precondition: every pair endpoint appears in ``ids_df`` (true for all
    in-repo callers — pairs are derived from the same table).  An endpoint
    missing from ``ids_df`` is not given a self-label, so it can bridge
    its neighbors' components and appears in the output with the merged
    label.

    Duplicates in ``ids_df`` need no pre-pass: round 1's ``groupBy(id)``
    subsumes a ``distinct()`` exactly (duplicate self-labels collapse to
    the same min), so the id side is used as-is — one fewer shuffle in
    round 1's action for every caller whose ids are already unique (all
    in-repo ones).  ``dedup_edges=False`` additionally skips the edge-list
    ``distinct()`` for callers that KNOW their pair list is duplicate-free
    (e.g. downstream of the pair kernels' ``dropDuplicates``): duplicate
    edges would be absorbed by the per-round min exactly like duplicate
    ids, but at d× duplication they inflate EVERY round's join volume d×,
    while the one-time distinct costs a single pass — so deduping stays
    the default and only provably-unique callers opt out.
    """
    import warnings

    from pyspark.sql import functions as F

    spark = ids_df.sparkSession
    n_part = shuffle_partitions(spark)
    ids = ids_df.select(F.col(id_col).alias("id"))
    if max_iters <= 0:
        # degenerate parameter: no round ever runs, so the round-1 groupBy
        # that normally subsumes the id-side distinct never happens — keep
        # the old one-label-per-unique-id output shape explicitly
        ids = ids.distinct()
    # hash-partition the edges on the join key ONCE: the per-round join's
    # required distribution is already satisfied by the cached layout, so
    # only the (much smaller) labels side shuffles each round.  Both edge
    # directions come from ONE explode over a single scan of pairs_df — a
    # two-branch union would reference pairs_df twice and execute its whole
    # upstream (signature kernel + bucket shuffle + pair kernel for the
    # in-repo callers) twice inside this cache job.
    edges = (pairs_df.select(F.explode(F.array(
                 F.struct(F.col("id_a").alias("u"), F.col("id_b").alias("v")),
                 F.struct(F.col("id_b").alias("u"), F.col("id_a").alias("v"))))
                 .alias("e"))
             .select("e.u", "e.v"))
    if dedup_edges:
        edges = edges.distinct()
    edges = edges.repartition(n_part, "v").cache()
    labels = ids.select("id", F.col("id").alias("comp")).cache()
    sc = spark.sparkContext
    first_round_cache = labels
    prev_ckpt_rdd_id = None
    # the initial-label-sum seed (detects an already-converged graph in
    # round 1) is folded into round 1's aggregation instead of a separate
    # job: upd carries every id exactly once, so sum(id) over round 1's
    # result IS the initial label sum — one fewer Spark job per CC call
    prev_sum = None
    converged = False
    for rnd in range(max_iters):
        contrib = (edges.join(labels, edges.v == labels.id)
                   .select(F.col("u").alias("id"), "comp"))
        # union the nodes' own labels into the neighbor contributions and
        # take one min — same semantics as least(self, min(neighbors)) with
        # one fewer shuffle (no join-back).  localCheckpoint = materialize
        # AND truncate lineage (cache alone keeps the growing join tree in
        # the plan).  LAZY (eager=False): the sum action below both
        # materializes the checkpoint blocks and computes the convergence
        # check in ONE job — eager=True spent a separate count() job per
        # round just to force materialization (2 jobs/round -> 1; each
        # round is latency-bound at any scale: the labels table is tiny
        # next to the corpus).
        upd = (labels.unionByName(contrib)
               .groupBy("id").agg(F.min("comp").alias("comp"))
               .localCheckpoint(eager=False))
        # the checkpoint's OWN backing RDD, read off its LogicalRDD plan —
        # never a global storage-listing diff, which would capture (and
        # later wrongly unpersist) whatever else first materialized during
        # this round's job, e.g. the edges cache above.  Goes through py4j
        # private paths, so guard it: if a Spark upgrade moves them, degrade
        # to leaking the superseded checkpoint blocks (ContextCleaner
        # reclaims them eventually) rather than failing every CC call.
        try:
            ckpt_rdd_id = int(upd._jdf.queryExecution().analyzed().rdd().id())
        except Exception:
            ckpt_rdd_id = None
        # join-free fixed-point check: labels never increase, so the exact
        # label sum is strictly decreasing until convergence.  Round 1
        # also aggregates sum(id) — the initial label sum (comp=id and upd
        # has each id exactly once) — in the same job.
        if rnd == 0:
            row = upd.agg(
                F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"),
                F.sum(F.col("id").cast("decimal(38,0)")).alias("s0"),
            ).collect()[0]
            cur_sum, prev_sum = row["s"], row["s0"]
        else:
            cur_sum = upd.agg(F.sum(F.col("comp").cast("decimal(38,0)"))
                              .alias("s")).collect()[0]["s"]
        # a NULL sum means decimal(38,0) overflowed under non-ANSI mode —
        # treating None == None as converged would silently accept split
        # labels, so a NULL on either side always counts as changed
        # (ADVICE round 5; unreachable below ~1e36 summed ids, guarded
        # anyway)
        changed = (1 if cur_sum is None or prev_sum is None
                   or cur_sum != prev_sum else 0)
        prev_sum = cur_sum
        # release the SUPERSEDED round's storage.  DataFrame.unpersist()
        # does NOT free localCheckpoint blocks (verified: storage info
        # still lists them) — they must be unpersisted via the underlying
        # RDD; the new eager checkpoint holds its own copy, so the old
        # blocks are dead weight from here on.
        if first_round_cache is not None:
            first_round_cache.unpersist()
            first_round_cache = None
        if prev_ckpt_rdd_id is not None:
            try:
                (sc._jsc.sc().getPersistentRDDs()
                 .apply(prev_ckpt_rdd_id).unpersist(False))
            except Exception:
                pass  # already cleaned by the ContextCleaner
        prev_ckpt_rdd_id = ckpt_rdd_id
        labels = upd.select("id", "comp")
        if changed == 0:
            converged = True
            break
    edges.unpersist()  # the returned labels read the final checkpoint only
    if not converged and on_max_iters != "ignore":
        msg = (f"connected_components exited at max_iters={max_iters} without "
               f"a fixed point: some component's labels are split (a cluster "
               f"with diameter > {max_iters}); raise max_iters")
        if on_max_iters == "raise":
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning)
    return labels.select(F.col("id").alias(id_col), F.col("comp"))


def dedup_near_keep_first(spark, df, id_col: str, text_col: str,
                          threshold: float = 0.8, **minhash_kw):
    """Materializing near-dedup: MinHash+LSH candidate pairs → connected
    components → keep the smallest id per component (the pipeline-facing
    'one survivor per near-duplicate cluster')."""
    from pyspark.sql import functions as F

    dedup = minhash_kw.setdefault("dedup", True)
    pairs = minhash_near_dup_pairs(spark, df, id_col, text_col,
                                   threshold=threshold, **minhash_kw)
    # when pairs are unique (the default path ends in dropDuplicates) both
    # exploded directions are unique too — the edge distinct would dedup
    # nothing; skipping it removes one full pass over the edge list.  A
    # caller forcing dedup=False through minhash_kw gets the edge-level
    # dedup back (band-duplicated pairs would otherwise inflate every CC
    # round's join volume).
    comp = connected_components(df.select(id_col), pairs, id_col=id_col,
                                dedup_edges=not dedup)
    keep = (comp.groupBy("comp").agg(F.min(id_col).alias(id_col))
            .select(id_col))
    return df.join(keep, id_col, "left_semi")


# --------------------------------------------------------------------------
# winnowing fingerprints (rolling hash)
# --------------------------------------------------------------------------

def winnow_batch(texts, shingle: int = 5, window: int = 8) -> list:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 "Winnowing: Local Algorithms for Document Fingerprinting"):
    rolling shingle hashes, keep the minimum of every ``window`` consecutive
    hashes, dedup — a position-robust fingerprint set whose size scales with
    document length / window.

    Fully batch-vectorized (no per-document numpy dispatch; the round-2
    per-document loop paid ~10 dispatches/doc and lost cache locality):

    1. Sliding-window minima over the WHOLE concatenated key buffer in
       O(log2(window)) contiguous elementwise-min passes (the sparse-table
       doubling trick: m_{j+1}[p] = min(m_j[p], m_j[p+2^j]); window min =
       min of two overlapping 2^k spans) — SIMD-friendly, instead of the
       ``window`` strided passes of a ``sliding_window_view().min(axis=1)``.
    2. Document boundaries are masked out of the valid window-start set
       (same boundary-mask technique as ``_shingle_keys``).
    3. Adjacent equal minima are run-compressed BEFORE deduplication
       (overlapping windows repeat their min ~window times), so the final
       per-document unique-sort (one lexsort + adjacent diff) touches ~1/8
       of the windows."""
    keys, starts, counts = _shingle_keys(texts, shingle)
    n = len(texts)
    if n == 0:
        return []
    ends = starts + counts
    # short documents (<= window keys): the pick is the segment minimum
    seg_min = np.minimum.reduceat(keys, starts)
    is_long = counts > window
    nk = keys.size - window + 1
    if is_long.any() and nk > 0:
        # sparse-table doubling: wmin[p] = min over keys[p : p+window]
        m, step = keys, 1
        while step * 2 <= window:
            m = np.minimum(m[: m.size - step], m[step:])
            step *= 2
        # m[p] = min keys[p:p+step]; two overlapping spans cover the window
        wmin = np.minimum(m[:nk], m[window - step: window - step + nk])
        # valid window starts for doc i: starts[i] .. ends[i]-window; mark
        # the per-doc trailing positions (clipped to the doc) invalid
        valid = np.ones(nk, dtype=bool)
        # long docs: last window-1 positions invalid; short docs (counts <=
        # window, INCLUDING counts == window whose one full window equals
        # the segment min handled by seg_min): whole segment invalid
        lo_bad = np.where(is_long, ends - window + 1, starts)
        len_bad = ends - lo_bad
        boff = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(len_bad, out=boff[1:])
        bad = (np.repeat(lo_bad, len_bad)
               + np.arange(int(boff[-1]), dtype=np.int64)
               - np.repeat(boff[:-1], len_bad))
        bad = bad[bad < nk]
        valid[bad] = False
        # run-compress adjacent equal minima, forcing each long doc's first
        # valid window so a run crossing a doc boundary is not lost
        change = np.empty(nk, dtype=bool)
        change[0] = True
        np.not_equal(wmin[1:], wmin[:-1], out=change[1:])
        cand = valid & change
        cand[starts[is_long]] = True
        pos = np.flatnonzero(cand)
        vals = wmin[pos]
        doc_of = np.searchsorted(starts, pos, side="right") - 1
        # per-doc sorted unique via one lexsort + adjacent diff
        order = np.lexsort((vals, doc_of))
        sv, sd = vals[order], doc_of[order]
        keep = np.ones(sv.size, dtype=bool)
        keep[1:] = (sd[1:] != sd[:-1]) | (sv[1:] != sv[:-1])
        uniq_vals = sv[keep]
        uniq_counts = np.bincount(sd[keep], minlength=n)
    else:
        uniq_vals = np.zeros(0, dtype=np.uint64)
        uniq_counts = np.zeros(n, dtype=np.int64)
    signed = ((uniq_vals >> np.uint64(1)).astype(np.int64)).tolist()
    short_signed = (seg_min >> np.uint64(1)).astype(np.int64)
    out, at = [], 0
    for i in range(n):                           # list slicing only — no numpy
        if is_long[i]:
            c = int(uniq_counts[i])
            out.append(signed[at: at + c])
            at += c
        else:
            out.append([int(short_signed[i])])
    return out


def with_winnow_fingerprints(df, text_col: str, fp_col: str = "fps",
                             shingle: int = 5, window: int = 8):
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def fp_udf(s: pd.Series) -> pd.Series:
        return pd.Series(winnow_batch(s.tolist(), shingle, window))

    return spread(df).withColumn(fp_col, fp_udf(F.col(text_col)))


# --------------------------------------------------------------------------
# in-bucket pair kernel (round 6): LSH candidate pairs are generated AND
# metric-filtered inside one mapInArrow pass over the bucket-sorted stream,
# so only metric-passing pairs ever reach a shuffle.  The former shape —
# bucket self-join → dropDuplicates over EVERY candidate → signature
# re-join → metric filter — shuffled the full candidate volume (12.6M rows
# minhash / 65M simhash at sf1.0) three times; the kernel shuffles the
# exploded members once and survivors (~1e4-1e5 rows) once.  One kernel
# serves every family (minhash, simhash at both Manku levels, cosine): a
# family supplies only its vectorized pair metric,
# ``metric(payload, I, J) -> (score, keep)``.
# --------------------------------------------------------------------------

_SCORE_DTYPE = {"int": np.int32, "double": np.float64}


def bucket_pairs(members, key_cols: list, payload_cols: list, metric,
                 out_col: str, **kw):
    """Every in-bucket pair of ``members`` (columns ``id``, *key_cols,
    *payload_cols) that passes ``metric``, as ``(id_a, id_b, <out_col>)``
    with id_a < id_b: one hash exchange on the bucket key, an in-partition
    sort by (key, id), and :func:`bucket_pair_kernel` (``kw`` passes
    through).  ``out_col`` is the score column's DDL (``"hamming int"``)."""
    # explicit partition count: AQE would coalesce this exchange by BYTES
    # and serialize the python pair kernel on a handful of tasks (it cannot
    # see python-side CPU, guide §4 — a ~13 MB exploded simhash table
    # collapses to ONE post-shuffle partition); count policy in
    # session.kernel_partitions
    n_part = kernel_partitions(members.sparkSession)
    return (members.repartition(n_part, *key_cols)
            .sortWithinPartitions(*key_cols, "id")
            .mapInArrow(bucket_pair_kernel(key_cols, payload_cols, metric,
                                           out_col, **kw),
                        f"id_a bigint, id_b bigint, {out_col}"))


def bucket_pair_kernel(key_cols: list, payload_cols: list, metric,
                       out_col: str, max_bucket: int | None = None,
                       max_pairs: int = 1 << 21,
                       emit_over_keys: bool = False):
    """mapInArrow kernel over (*key_cols, id, *payload_cols) sorted by
    (*key_cols, id): per bucket (run of equal keys) of 2..max_bucket
    members, ``metric(payload, I, J) -> (score, keep)`` scores chunks of
    row-index pairs vectorized (``payload``: col -> numpy array over the
    kept buckets' rows, ``id`` included, list columns as (n, width)), and
    only the kept pairs are emitted as ``(id_a, id_b, score)`` — id_a <
    id_b via the in-bucket id sort.  ``out_col`` is the score column's DDL
    (``int`` or ``double``).

    ``max_bucket``: buckets above it emit no pairs, and a run spanning
    arrow batches carries at most max_bucket + 1 rows, so a degenerate
    bucket cannot accumulate a partition's worth of rows; ``None`` keeps
    every bucket whole.  ``max_pairs``: pairs per metric call (lower it
    for wide payload rows).

    ``emit_over_keys`` (simhash level 0): oversized runs (> max_bucket
    members — the kernel already detects them to drop them) additionally
    emit ONE sentinel row ``(id_a=-1, id_b=(key0<<16)|key1, score=-1)`` so
    the caller can route those buckets into the Manku refinement WITHOUT a
    separate bucket-size aggregation over the full exploded table (the
    sizes groupBy was a second full explode+shuffle+agg pass at any scale).
    Requires exactly two key columns with key1 in [0, 65536) and key0 in
    [-2**47, 2**47), so ``key0 << 16`` fits int64 — true for the (band,
    16-bit-chunk) level-0 keys; an oversized bucket with a key outside
    raises ``ValueError``.  Sentinels are distinguishable from real pairs
    by score < 0 (a real pair's hamming is always >= 0, whatever the id
    values)."""
    if emit_over_keys and (len(key_cols) != 2 or max_bucket is None):
        raise ValueError("emit_over_keys requires exactly two key columns "
                         "and a max_bucket")
    name, ddl_type = out_col.split()
    dtype = _SCORE_DTYPE[ddl_type]
    cols = ["id"] + list(payload_cols)

    def kernel(batches):
        import pyarrow as pa

        out_schema = pa.schema([("id_a", pa.int64()), ("id_b", pa.int64()),
                                (name, pa.from_numpy_dtype(dtype))])

        def out(id_a, id_b, score):
            return pa.RecordBatch.from_arrays(
                [pa.array(id_a), pa.array(id_b),
                 pa.array(score.astype(dtype, copy=False))],
                schema=out_schema)

        for counts, payload in _run_groups(
                batches, key_cols,
                (list(key_cols) if emit_over_keys else []) + cols,
                drop_over=max_bucket):
            starts = np.zeros(len(counts) + 1, dtype=np.int64)
            np.cumsum(counts, out=starts[1:])
            if emit_over_keys:
                over = np.flatnonzero(counts > max_bucket)
                if over.size:
                    s = starts[:-1][over]
                    k0 = payload[key_cols[0]][s].astype(np.int64)
                    k1 = payload[key_cols[1]][s].astype(np.int64)
                    # the caller unpacks id_b >> 16 and id_b & 0xFFFF: a
                    # key outside the packable range would alias another
                    # bucket silently, so refuse it
                    if ((k1 < 0) | (k1 >= 1 << 16)).any() or (
                            (k0 < -(1 << 47)) | (k0 >= 1 << 47)).any():
                        raise ValueError(
                            "simhash sentinel keys out of range: key1 must "
                            "be in [0, 65536) and key0 << 16 fit int64")
                    minus1 = np.full(over.size, -1, dtype=np.int64)
                    yield out(minus1, (k0 << 16) | k1, minus1)
            keep = counts >= 2
            if max_bucket is not None:
                keep &= counts <= max_bucket
            if not keep.any():
                continue
            rows = _ranges(starts[:-1][keep], counts[keep])
            p = {c: payload[c][rows] for c in cols}
            for I, J in _intra_bucket_pair_chunks(counts[keep], max_pairs):
                score, ok = metric(p, I, J)
                if ok.any():
                    yield out(p["id"][I[ok]], p["id"][J[ok]], score[ok])

    return kernel


def minhash_metric(n_hashes: int, threshold: float):
    """:func:`bucket_pair_kernel` metric over ``sig`` (n, n_hashes): the
    signature-agreement Jaccard estimate ``matches / n_hashes``, kept when
    >= threshold."""

    def metric(p, I, J):
        sig = p["sig"]
        m = np.zeros(I.size, dtype=np.int64)
        for k in range(sig.shape[1]):
            m += sig[I, k] == sig[J, k]
        est = m / float(n_hashes)
        return est, est >= threshold

    return metric


def hamming_metric(max_hamming: int):
    """:func:`bucket_pair_kernel` metric over 64-bit ``sig``: hamming
    distance (xor + SWAR popcount), kept when <= max_hamming."""

    def metric(p, I, J):
        sig = p["sig"]
        ham = _popcount64((sig[I] ^ sig[J]).astype(np.int64, copy=False)
                          .view(np.uint64))
        return ham, ham <= max_hamming

    return metric


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit popcount (SWAR; numpy < 2.0 has no bitwise_count).
    Multiply runs on the int64 view (SIMD path, same bits mod 2^64)."""
    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    x = x - ((x >> np.uint64(1)) & m1)
    x = (x & m2) + ((x >> np.uint64(2)) & m2)
    x = (x + (x >> np.uint64(4))) & m4
    xi = x.view(np.int64)
    np.multiply(xi, _i64(0x0101010101010101), out=xi)
    return (x >> np.uint64(56)).astype(np.int64)


def _intra_bucket_pair_chunks(counts: np.ndarray, max_pairs: int = 1 << 21):
    """Yield ``(I, J)`` row-index chunks covering every unordered intra-
    bucket pair (i < j, rows bucket-contiguous as described by ``counts``).

    Small buckets are batched into one vectorized construction per ~
    ``max_pairs`` pairs (no per-bucket numpy dispatch — the minhash regime:
    hundreds of thousands of buckets averaging ~4 members); a bucket whose
    own pair count exceeds ``max_pairs`` is emitted in row strips (the
    simhash near-cap regime: one 10k bucket is 50M pairs — never
    materialized at once)."""
    starts = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])

    def pairs_of(ks):                       # all pairs of small buckets ks
        s, c = starts[ks], counts[ks]
        return _pairs_after(_ranges(s, c), np.repeat(s + c, c))

    buf: list = []                          # buffered small buckets
    buf_pairs = 0
    for k, c in enumerate(counts):
        c = int(c)
        if c < 2:
            continue
        p = c * (c - 1) // 2
        if p <= max_pairs:
            buf.append(k)
            buf_pairs += p
            if buf_pairs >= max_pairs:
                yield pairs_of(buf)
                buf, buf_pairs = [], 0
            continue
        if buf:
            yield pairs_of(buf)
            buf, buf_pairs = [], 0
        s0 = int(starts[k])
        strip = max(1, max_pairs // (c - 1))
        for a0 in range(0, c - 1, strip):
            yield _pairs_after(np.arange(s0 + a0, s0 + min(a0 + strip, c - 1),
                                         dtype=np.int64), s0 + c)
    if buf:
        yield pairs_of(buf)


def _pairs_after(rows: np.ndarray, ends) -> tuple:
    """``(I, J)``: each of ``rows`` paired with every later row of its
    bucket (``ends``: the bucket's exclusive end row, per row or scalar)."""
    after = ends - rows - 1
    return np.repeat(rows, after), _ranges(rows + 1, after)


def _ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenated aranges [s, s+c) — vectorized (no per-bucket python)."""
    total = int(counts.sum())
    off = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=off[1:])
    return (np.repeat(starts - off, counts)
            + np.arange(total, dtype=np.int64))


def _run_groups(batches, key_cols: list, payload_cols: list,
                drop_over: int | None = None):
    """Stream complete key-runs from a (key-sorted) arrow batch iterator.

    Yields ``(counts, payload_arrays)`` blocks where rows are bucket-
    contiguous: all rows of a (composite) key are adjacent and fully
    contained in the block — the tail run of each batch is carried until
    the key changes, so a bucket split across arrow batches is never
    processed partially.  ``payload_arrays`` is a dict col -> numpy array
    (list<int64> columns come back flattened as (n, width)).

    ``drop_over``: when set, a carried tail run keeps at most
    ``drop_over + 1`` payload rows (the overflow rows are discarded, so
    the run is reported with drop_over + 1 rows — still above the cap).
    Such a run's payload is incomplete, which is sound only because every
    consumer drops runs larger than ``drop_over`` — it bounds the carry
    memory at O(drop_over), so a degenerate bucket (one band value owning
    the corpus) cannot accumulate a partition's worth of rows in one
    task.  A truncated run that keeps growing is re-truncated each batch
    and always stays above the cap, so it can never be mistaken for a
    processable bucket."""
    pend: dict | None = None
    for batch in batches:
        if batch.num_rows == 0:
            continue
        keys = np.stack([batch.column(c).to_numpy(zero_copy_only=False)
                         .astype(np.int64) for c in key_cols])
        payload = {}
        for c in payload_cols:
            col = batch.column(c)
            if pa_types_is_list(col):
                flat = col.flatten().to_numpy(zero_copy_only=False)
                width = flat.size // len(col)
                # every row must be a non-null list of that width: the flat
                # size alone passes [[1, 2, 3], [4]] (and a null row, which
                # flatten drops) and reshapes it into the wrong rows
                if col.null_count or (
                        col.value_lengths().to_numpy() != width).any():
                    raise ValueError(f"ragged list column {c!r}")
                payload[c] = flat.reshape(len(col), width)
            else:
                payload[c] = col.to_numpy(zero_copy_only=False)
        # run boundaries within this batch
        change = np.zeros(batch.num_rows, dtype=bool)
        change[0] = True
        for k in keys:
            change[1:] |= k[1:] != k[:-1]
        if pend is not None:
            same_first = all(
                pk[-1] == k[0] for pk, k in zip(pend["keys"], keys))
            if same_first:
                change[0] = False
            keys = np.concatenate([pend["keys"], keys], axis=1)
            change = np.concatenate([pend["change"], change])
            payload = {c: np.concatenate([pend["payload"][c], payload[c]])
                       for c in payload}
        n = keys.shape[1]
        bounds = np.flatnonzero(change)             # always starts with 0
        cut = int(bounds[-1]) if bounds[-1] > 0 else 0
        if cut > 0:
            head_counts = np.diff(np.append(bounds[bounds < cut], cut))
            yield head_counts, {c: v[:cut] for c, v in payload.items()}
        pend = {"keys": keys[:, cut:],
                "change": change[cut:].copy(),
                "payload": {c: v[cut:] for c, v in payload.items()}}
        pend["change"][0] = True
        if drop_over is not None and n - cut > drop_over + 1:
            keep_n = drop_over + 1
            pend["keys"] = pend["keys"][:, :keep_n]
            pend["change"] = pend["change"][:keep_n]
            pend["payload"] = {c: v[:keep_n]
                               for c, v in pend["payload"].items()}
    if pend is not None and pend["keys"].shape[1]:
        bounds = np.flatnonzero(pend["change"])
        counts = np.diff(np.append(bounds, pend["keys"].shape[1]))
        yield counts, pend["payload"]


def pa_types_is_list(col) -> bool:
    import pyarrow as patypes

    return (patypes.types.is_list(col.type)
            or patypes.types.is_large_list(col.type))


# --------------------------------------------------------------------------
# vectorized character-n-gram keys (the exact-set kernel behind
# queries.q_ngram_jaccard — round 6, guide §4.2: one numpy pass per batch
# replaced the JVM transform(substring)/array_distinct expression chain,
# which evaluated at ~200k shingles/s/32-cores)
# --------------------------------------------------------------------------

def char_ngram_key_sets(texts, n: int = 5) -> list:
    """Distinct character-n-gram keys per text, as SORTED-unique uint64
    arrays (one per text).

    Character semantics match ``substring()``: texts are decoded to UTF-32
    code points, windows are ``n`` consecutive code points, and — mirroring
    ``sequence(1, greatest(len - n + 1, 1))`` — a text shorter than ``n``
    contributes its single whole-text window (the empty text contributes
    the empty window).

    Keys are INJECTIVE whenever every window code point < 2^12 (n<=5:
    5 x 12 = 60 packed bits, and a short window's length is recoverable
    from its highest non-zero field because code points are >= 1), so
    distinct keys <-> distinct n-gram strings and set sizes are EXACTLY
    the string-set sizes.  Windows containing wider code points fold their
    high bits in through a splitmix64 mix — a per-window (batch-
    independent) fallback with ~P^2/2^64 collision odds.
    """
    if n > 5:
        raise ValueError(f"char_ngram_key_sets: n={n} > 5 overflows the "
                         "60-bit injective pack")
    m = len(texts)
    cps = [np.frombuffer((t or "").encode("utf-32-le"), dtype=np.uint32)
           for t in texts]
    lens = np.fromiter((c.size for c in cps), dtype=np.int64, count=m)
    counts = np.maximum(lens - n + 1, 1)
    starts = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    total = int(starts[-1])
    keys = np.zeros(total, dtype=np.uint64)

    buf = (np.concatenate(cps) if cps else np.zeros(0, dtype=np.uint32)) \
        .astype(np.uint64)
    off = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    nk = buf.size - n + 1
    long_mask = lens >= n
    short_idx = np.flatnonzero(~long_mask)
    if long_mask.any() and nk > 0:
        lo = buf & np.uint64(0xFFF)
        hi = buf >> np.uint64(12)
        pack = lo[:nk].copy()
        hpack = hi[:nk].copy()
        for k in range(1, n):
            pack |= lo[k: nk + k] << np.uint64(12 * k)
            hpack |= hi[k: nk + k] << np.uint64(12 * k)
        wide = hpack != 0
        if wide.any():
            pack[wide] ^= _mix64(hpack[wide])
        # windows crossing a document boundary are invalid (same masking
        # trick as _shingle_keys)
        valid = np.ones(nk, dtype=bool)
        bad = (off[1:, None] - np.arange(1, n, dtype=np.int64)).ravel()
        bad = bad[(bad >= 0) & (bad < nk)]
        valid[bad] = False
        out_mask = np.ones(total, dtype=bool)
        out_mask[starts[short_idx]] = False
        keys[out_mask] = pack[valid]
    if short_idx.size:
        key = np.zeros(short_idx.size, dtype=np.uint64)
        hkey = np.zeros(short_idx.size, dtype=np.uint64)
        for k in range(n - 1):
            sel = lens[short_idx] > k
            if not sel.any():
                break
            rows = np.flatnonzero(sel)
            v = buf[off[short_idx[rows]] + k]
            key[rows] |= (v & np.uint64(0xFFF)) << np.uint64(12 * k)
            hkey[rows] |= (v >> np.uint64(12)) << np.uint64(12 * k)
        wide = hkey != 0
        if wide.any():
            key[wide] ^= _mix64(hkey[wide])
        keys[starts[short_idx]] = key
    # per-doc sorted unique (one lexsort + adjacent diff, winnow_batch style)
    doc_of = np.repeat(np.arange(m, dtype=np.int64), counts)
    order = np.lexsort((keys, doc_of))
    sv, sd = keys[order], doc_of[order]
    keep = np.ones(sv.size, dtype=bool)
    keep[1:] = (sd[1:] != sd[:-1]) | (sv[1:] != sv[:-1])
    uv, ud = sv[keep], sd[keep]
    ucnt = np.bincount(ud, minlength=m)
    uoff = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(ucnt, out=uoff[1:])
    return [uv[uoff[i]: uoff[i + 1]] for i in range(m)]


def adjacent_jaccard_kernel(n: int = 5, block: int = 1024):
    """mapInArrow kernel: rows sorted by (blk, doc_id) → one output row per
    adjacent (doc_id, doc_id+1) pair within a block, with EXACT character-
    n-gram intersection/union set sizes (injective keys —
    :func:`char_ngram_key_sets`).  Carries the last row across arrow batch
    boundaries so a pair split between batches is never lost."""

    def kernel(batches):
        import pyarrow as pa

        out_schema = pa.schema([("id_a", pa.int64()), ("n_inter", pa.int64()),
                                ("n_union", pa.int64()),
                                ("jaccard_milli", pa.int64())])
        prev = None            # (blk, doc_id, sorted-unique key array)
        for batch in batches:
            blks = batch.column("blk").to_numpy(zero_copy_only=False)
            ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            sets = char_ngram_key_sets(
                batch.column("text").to_pylist(), n)
            ia, ninter, nunion = [], [], []
            for r in range(len(ids)):
                cur = (int(blks[r]), int(ids[r]), sets[r])
                if prev is not None and prev[0] == cur[0] \
                        and prev[1] == cur[1] - 1:
                    a, b = prev[2], cur[2]
                    ni = int(np.intersect1d(a, b, assume_unique=True).size)
                    ia.append(prev[1])
                    ninter.append(ni)
                    nunion.append(a.size + b.size - ni)
                prev = cur
            if ia:
                ninter = np.asarray(ninter, dtype=np.int64)
                nunion = np.asarray(nunion, dtype=np.int64)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.asarray(ia, dtype=np.int64)),
                     pa.array(ninter), pa.array(nunion),
                     pa.array(ninter * 1000 // nunion)], schema=out_schema)

    return kernel


# --------------------------------------------------------------------------
# vectorized word-k-gram span hashes (the decontamination kernel — round 6:
# shingle strings are exact text SPANS from first-word start to last-word
# end, so one polynomial prefix hash over the concatenated byte buffer
# yields every shingle hash with no per-row JVM expression work)
# --------------------------------------------------------------------------

_POLY_R = np.uint64(0x9E3779B97F4A7C15) | np.uint64(1)        # odd multiplier
# modular inverse of _POLY_R mod 2^64 (Newton iteration, computed once)
_POLY_RINV = np.uint64(pow(int(_POLY_R), -1, 1 << 64))


def word_shingle_hash_sets(texts, k: int = 3) -> list:
    """Distinct word-k-gram hashes per text as int64 lists (one per text),
    mirroring ``array_distinct(transform(sequence(...), concat_ws(' ',
    slice(split(text, ' '), i, k))))`` + a 64-bit hash of each shingle.

    Key identity: with a single-space split pattern, the joined shingle
    ``concat_ws(' ', w_i..w_{i+k-1})`` is EXACTLY the substring of the
    original text from w_i's first byte to w_{i+k-1}'s last byte (empty
    words reproduce their double spaces) — so shingle hashes are substring
    hashes, computed for every span at once from one polynomial prefix sum
    over the concatenated buffer: H(s, e) = r^e * (S[e] - S[s]) mod 2^64
    with S the prefix sum of byte[j] * r^{-(j+1)}, then splitmix64-
    finalized (r odd → r invertible mod 2^64, which is what turns the
    sequential Horner scan into two vectorized prefix scans).

    Texts with fewer than ``k`` words return an empty list (the
    ``size(words) >= k`` guard).  The hash differs from xxhash64 — callers
    use these keys for equality/distinct-ness only, where any 64-bit hash
    family is interchangeable (same ~1e-9 collision budget the oracle
    already accepts for xxhash64).
    """
    m = len(texts)
    h, doc_rep, _n_words = _word_span_hashes(texts, k)
    out: list = []
    if h.size:
        # per-doc sorted unique
        ordr = np.lexsort((h, doc_rep))
        sv, sd = h[ordr], doc_rep[ordr]
        keep = np.ones(sv.size, dtype=bool)
        keep[1:] = (sd[1:] != sd[:-1]) | (sv[1:] != sv[:-1])
        uv = sv[keep].view(np.int64)
        ucnt = np.bincount(sd[keep], minlength=m)
        uoff = np.zeros(m + 1, dtype=np.int64)
        np.cumsum(ucnt, out=uoff[1:])
        for i in range(m):
            out.append(uv[uoff[i]: uoff[i + 1]].tolist())
    else:
        out = [[] for _ in range(m)]
    return out


def word_count_stats(texts) -> dict:
    """Per-text word statistics over split(' ') words (empties included):
    ``n_words`` (total), ``n_distinct`` (distinct words), ``top_count``
    (highest single-word frequency) — the Gopher/Dolma repetition-signal
    inputs, computed from the word span hashes (k=1) with one lexsort +
    run-length pass instead of an explode + two shuffled aggregations.
    Word equality is hash equality (same collision budget as the shingle
    kernels)."""
    m = len(texts)
    h, doc_rep, n_words = _word_span_hashes(texts, 1)
    n_distinct = np.zeros(m, dtype=np.int64)
    top_count = np.zeros(m, dtype=np.int64)
    if h.size:
        ordr = np.lexsort((h, doc_rep))
        sv, sd = h[ordr], doc_rep[ordr]
        is_start = np.ones(sv.size, dtype=bool)
        is_start[1:] = (sd[1:] != sd[:-1]) | (sv[1:] != sv[:-1])
        starts = np.flatnonzero(is_start)
        run_len = np.diff(np.append(starts, sv.size))
        run_doc = sd[starts]
        n_distinct = np.bincount(run_doc, minlength=m)
        # max run length per doc: runs are doc-contiguous after the lexsort
        roff = np.zeros(m + 1, dtype=np.int64)
        np.cumsum(n_distinct, out=roff[1:])
        nz = n_distinct > 0
        top_count[nz] = np.maximum.reduceat(run_len, roff[:-1][nz])
    return {"n_words": n_words.astype(np.int64), "n_distinct": n_distinct,
            "top_count": top_count}


def _word_span_hashes(texts, k: int):
    """Shared machinery of the word-span kernels: the (non-distinct) hash
    of every word-k-gram span, with its doc index and per-doc word counts.
    Returns ``(h, doc_rep, n_words)``; see :func:`word_shingle_hash_sets`
    for the span-hash identity."""
    m = len(texts)
    bs = [(t or "").encode("utf-8") for t in texts]
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=m)
    off = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    buf = np.frombuffer(b"".join(bs), dtype=np.uint8)
    T = buf.size

    # prefix machinery: S[i] = sum_{j<i} b[j] * rinv^{j+1};  pw_r[i] = r^i
    rinv_pows = np.empty(T + 1, dtype=np.uint64)
    rinv_pows[0] = 1
    if T:
        rinv_pows[1:] = _POLY_RINV
        np.cumprod(rinv_pows[1:], out=rinv_pows[1:])
    S = np.zeros(T + 1, dtype=np.uint64)
    if T:
        np.cumsum(buf.astype(np.uint64) * rinv_pows[1:], out=S[1:])
    r_pows = np.empty(T + 1, dtype=np.uint64)
    r_pows[0] = 1
    if T:
        r_pows[1:] = _POLY_R
        np.cumprod(r_pows[1:], out=r_pows[1:])

    # word starts (split(' ') semantics, empties included): position off[d]
    # for every doc — even an empty doc has its single empty word — plus
    # every space+1 position, which belongs to the SAME doc as the space
    # (a trailing space yields a trailing empty word starting at the doc
    # end).  No position can repeat: space+1 > off[d] within a doc, and
    # cross-doc entries carry different doc ids.
    space = np.flatnonzero(buf == 0x20)
    space_doc = np.searchsorted(off, space, side="right") - 1
    ws_all = np.concatenate([off[:-1], space + 1])
    ds_all = np.concatenate([np.arange(m, dtype=np.int64), space_doc])
    order = np.lexsort((ws_all, ds_all))
    ws_sorted = ws_all[order]
    ds_sorted = ds_all[order]
    n_words = np.bincount(ds_sorted, minlength=m)
    sh_counts = np.maximum(n_words - k + 1, 0)
    # per-doc offsets into the sorted word-start array
    woff = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(n_words, out=woff[1:])
    total_sh = int(sh_counts.sum())
    if total_sh:
        # global shingle index: for doc d, shingle j: span start =
        # ws[woff[d]+j], span end = ws[woff[d]+j+k] - 1 if j+k < n_words[d]
        # else off[d+1]
        doc_rep = np.repeat(np.arange(m, dtype=np.int64), sh_counts)
        base = np.repeat(woff[:-1], sh_counts)
        jidx = (np.arange(total_sh, dtype=np.int64)
                - np.repeat(np.concatenate(([0], np.cumsum(sh_counts)[:-1])),
                            sh_counts))
        s_pos = ws_sorted[base + jidx]
        last = jidx + k == np.repeat(n_words, sh_counts)
        e_pos = np.empty(total_sh, dtype=np.int64)
        nz = ~last
        e_pos[nz] = ws_sorted[(base + jidx + k)[nz]] - 1
        e_pos[last] = np.repeat(off[1:], sh_counts)[last]
        h = (S[e_pos] - S[s_pos]) * r_pows[e_pos]
        # length folds in via the span width (polynomial hashes of unequal
        # lengths rarely collide with r odd; the splitmix finalizer
        # decorrelates the raw polynomial structure)
        h = _mix64(h ^ (np.uint64(0xC2B2AE3D27D4EB4F) *
                        (e_pos - s_pos).astype(np.uint64)))
        return h, doc_rep, n_words
    return (np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=np.int64),
            n_words)


def with_word_shingle_hashes(df, text_col: str, out_col: str = "sh",
                             k: int = 3):
    """array<bigint> column of distinct word-k-gram hashes (vectorized
    pandas UDF over :func:`word_shingle_hash_sets`).  Input is spread
    first: a few-MB parquet scan yields one split, which would serialize
    the kernel on one task (no-op when the scan already parallelizes)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def sh_udf(s: pd.Series) -> pd.Series:
        return pd.Series(word_shingle_hash_sets(s.tolist(), k))

    return spread(df).withColumn(out_col, sh_udf(F.col(text_col)))


# --------------------------------------------------------------------------
# exact n-gram Jaccard (verification of MinHash estimates)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(spark, df, id_col: str, text_col: str, pairs_df,
                        shingle: int = 5):
    """Exact character-n-gram Jaccard for given candidate pairs: JVM-side
    array ops (array_intersect/array_union) over distinct shingle hashes —
    no Python in the join path."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def shingles_udf(s: pd.Series) -> pd.Series:
        keys, starts, counts = _shingle_keys(s.tolist(), shingle)
        signed = (keys >> np.uint64(1)).astype(np.int64)
        return pd.Series([np.unique(signed[starts[i]: starts[i] + counts[i]])
                          .tolist() for i in range(len(s))])

    sh = df.select(F.col(id_col), shingles_udf(F.col(text_col)).alias("sh"))
    j = (pairs_df
         .join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
         .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b"))
    jac = (F.size(F.array_intersect("sh_a", "sh_b"))
           / F.size(F.array_union("sh_a", "sh_b")))
    return j.select("id_a", "id_b", jac.alias("jaccard"))
