"""Similarity search over embedding columns (array<float>).

Two paths, per the training-pipeline requirements:

* :func:`brute_force_topk` — exact cosine top-k, all math JVM-side
  (``zip_with`` + ``aggregate`` in DOUBLE, broadcast query side).  The
  correctness baseline; O(n_queries × n_corpus).
* :func:`lsh_topk` — random-hyperplane LSH: b-bit signatures from
  deterministic hyperplanes (seeded splitmix, no stored model), candidates
  share a signature band, exact re-rank within candidates.  The scale path:
  the corpus-side join key is the band hash, so at 100 TB the self-join is
  bucket-local instead of a full cross join.

* :func:`ivf_topk` — IVF (inverted-file) ANN: corpus vectors are assigned
  to their nearest of k deterministic coarse centroids (one partitioned
  pass; no trained model — centroids are seeded pseudo-random directions,
  which is the classic "random coarse quantizer" baseline); a query probes
  only its ``n_probe`` nearest cells and re-ranks exactly inside them.  The
  other scale path: the corpus-side join key is the cell id.

* :func:`cosine_near_dup_pairs` — embedding near-duplicate pairs above a
  cosine threshold.  Default is the LSH-banded scale path (candidates share
  >=1 random-hyperplane band; exact cosine verified on candidates only — no
  CartesianProduct in the plan); ``exact=True`` switches to the exhaustive
  all-pairs comparison (the oracle baseline; O(n²), driver-capped inputs
  only).
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf type-hint resolution needs it

_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double),"
        " (s, v) -> s + v)")


def _dbl(col: str) -> str:
    return f"transform({col}, x -> cast(x as double))"


def _planes(dim: int, n_bits: int, seed: int = 0x51AE) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (unit-free; sign test only)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim))


def _stack_vecs(vecs) -> np.ndarray:
    """Batch of array<float> cells → (n, dim) float64, failing LOUDLY on a
    NULL or ragged row — np.stack's bare shape error names neither, and a
    silent per-row fallback would corrupt signatures.  Callers that may
    see null vectors should filter them out first (a null embedding cannot
    be indexed or matched)."""
    rows = [np.asarray(v, dtype=np.float64) for v in vecs]
    bad = [i for i, r in enumerate(rows) if r.ndim != 1]
    if bad:
        raise ValueError(
            f"null/non-vector embedding at batch rows {bad[:5]} — filter "
            "null vectors before LSH/IVF indexing")
    dims = {r.size for r in rows}
    if len(dims) > 1:
        raise ValueError(f"ragged embedding lengths {sorted(dims)[:5]}")
    return np.stack(rows)


def with_lsh_signature(df, vec_col: str, dim: int, n_bits: int = 32,
                       sig_col: str = "lsh_sig", seed: int = 0x51AE):
    """Add an n_bits-bit random-hyperplane signature column.

    One Arrow-batched matmul per batch (``(n, dim) @ (dim, n_bits)`` then
    sign-pack) — deterministic (seeded planes, no stored model).  An earlier
    version built n_bits separate JVM ``aggregate(zip_with(...))``
    expressions over literal plane arrays; the expression tree (n_bits x dim
    literals) blew up codegen and planning time ~10x, so the vectorized UDF
    is both the faster and the smaller plan."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    planes_t = _planes(dim, n_bits, seed).T.copy()          # (dim, n_bits)
    weights = (np.int64(1) << np.arange(n_bits, dtype=np.int64))

    @F.pandas_udf(LongType())
    def sig_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        m = _stack_vecs(vecs)
        bits = (m @ planes_t) > 0                            # (n, n_bits)
        return pd.Series((bits.astype(np.int64) * weights).sum(axis=1))

    return df.withColumn(sig_col, sig_udf(F.col(vec_col)))


def brute_force_topk(spark, queries_df, corpus_df, vec_col: str, id_col: str,
                     k: int = 5):
    """Exact cosine top-k; queries broadcast, ranks deterministic
    (sim desc, id asc)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # self-norms are hoisted to one aggregate per ROW before the join —
    # the per-pair form re-paid both 64-element folds for every (q, c)
    # pair (3x the HOF work); sqrt((nq)*(nc)) over the same doubles is
    # value-identical (round 6, guide §2.3 project-before-exchange)
    q = (queries_df.select(F.col(id_col).alias("qid"),
                           F.expr(_dbl(vec_col)).alias("qe"))
         .withColumn("qn2", F.expr(_DOT.format(a="qe", b="qe"))))
    c = (corpus_df.select(F.col(id_col).alias("nid"),
                          F.expr(_dbl(vec_col)).alias("ce"))
         .withColumn("cn2", F.expr(_DOT.format(a="ce", b="ce"))))
    dot = _DOT.format(a="qe", b="ce")
    sim = F.expr(f"({dot}) / sqrt(qn2 * cn2)")
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (c.crossJoin(F.broadcast(q)).withColumn("sim", sim)
            .withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
            .select("qid", "nid", "rank", "sim"))


def lsh_topk(spark, queries_df, corpus_df, vec_col: str, id_col: str,
             dim: int, k: int = 5, n_bits: int = 16, bands: int = 4):
    """Approximate top-k: candidates share >=1 LSH band (n_bits/bands bits
    each), exact cosine re-rank within candidates only."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rb = n_bits // bands
    mask = (1 << rb) - 1

    def banded(df, prefix):
        sig = with_lsh_signature(df.select(F.col(id_col).alias(f"{prefix}id"),
                                           F.expr(_dbl(vec_col)).alias(f"{prefix}e")),
                                 f"{prefix}e", dim, n_bits)
        # self-norm once per row, not per candidate pair (see brute_force)
        sig = sig.withColumn(
            f"{prefix}n2", F.expr(_DOT.format(a=f"{prefix}e", b=f"{prefix}e")))
        bandcols = F.array(*[
            F.shiftright(F.col("lsh_sig"), i * rb).bitwiseAND(F.lit(mask))
            for i in range(bands)])
        return sig.select(f"{prefix}id", f"{prefix}e", f"{prefix}n2",
                          F.posexplode(bandcols).alias("band", "bh"))

    qb, cb = banded(queries_df, "q"), banded(corpus_df, "c")
    cand = (cb.join(F.broadcast(qb), ["band", "bh"])
            .dropDuplicates(["qid", "cid"]))
    dot = _DOT.format(a="qe", b="ce")
    sim = F.expr(f"({dot}) / sqrt(qn2 * cn2)")
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("cid"))
    return (cand.withColumn("sim", sim)
            .withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
            .select("qid", F.col("cid").alias("nid"), "rank", "sim"))


def _train_centroids(sample: np.ndarray, k: int, iters: int = 10,
                     seed: int = 0x1BF) -> np.ndarray:
    """Deterministic spherical k-means on a training sample (Lloyd
    iterations, seeded init) — the IVF coarse quantizer.  Pure numpy, runs
    on the driver over a bounded sample."""
    rng = np.random.default_rng(seed)
    sample = sample / np.maximum(
        np.linalg.norm(sample, axis=1, keepdims=True), 1e-30)
    k = min(k, len(sample))
    cent = sample[rng.choice(len(sample), size=k, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(sample @ cent.T, axis=1)
        for j in range(k):
            members = sample[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
        cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-30)
    return cent


def train_centroids_distributed(corpus_df, vec_col: str, dim: int, k: int,
                                iters: int = 5, seed: int = 0x1BF) -> np.ndarray:
    """Distributed spherical k-means (Lloyd) coarse quantizer: NO data ever
    reaches the driver — each round is one assignment pass (the existing
    cell UDF) plus one groupBy(cell, dim) sum, and only the k x dim MODEL
    state (e.g. 16 x 64 doubles) is collected.  Init is seeded random
    directions (data-independent, deterministic).  This is the 100-TB form
    of :func:`_train_centroids`'s bounded-sample collect.

    Note: distributed double summation is order-dependent at the ULP level,
    so assignments can differ across cluster layouts for borderline
    vectors — recall properties hold; byte-determinism is the sample
    trainer's contract, not this one's."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(seed)
    cent = rng.standard_normal((k, dim))
    cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-30)
    nrm = "sqrt(" + _DOT.format(a="e", b="e") + ")"
    # norm as a COLUMN, referenced from inside the lambda: Catalyst does
    # not hoist lambda-invariant subtrees out of higher-order functions,
    # so nesting the aggregate in the transform re-paid the full dot
    # product once PER ELEMENT (O(dim^2) per vector per Lloyd round)
    v = (corpus_df.select(F.expr(_dbl(vec_col)).alias("e"))
         .withColumn("_nrm", F.expr(f"greatest({nrm}, 1e-30)"))
         .select(F.expr("transform(e, x -> x / _nrm)").alias("e")))
    for _ in range(iters):
        assigned = with_ivf_cell(v, "e", cent, n_probe=1)
        ex = assigned.select(F.col("cells")[0].alias("cell"),
                             F.posexplode("e").alias("pos", "val"))
        rows = (ex.groupBy("cell", "pos")
                .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
                .collect())                      # k x dim model rows only
        sums = np.zeros((k, dim))
        counts = np.zeros(k, dtype=np.int64)
        for r in rows:
            sums[r["cell"], r["pos"]] = r["s"]
            counts[r["cell"]] = r["n"]
        live = counts > 0
        cent[live] = sums[live] / counts[live, None]   # empty cells keep seed
        cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-30)
    return cent


def with_ivf_cell(df, vec_col: str, centroids: np.ndarray,
                  n_probe: int = 1, cell_col: str = "cells"):
    """Assign each vector its ``n_probe`` nearest coarse-centroid cell ids
    (array<int>, nearest first) — one Arrow-batched matmul per batch."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, IntegerType

    cent_t = centroids.T.copy()                              # (dim, k)

    @F.pandas_udf(ArrayType(IntegerType()))
    def cell_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = _stack_vecs(vecs)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        sims = (m / np.maximum(norms, 1e-30)) @ cent_t       # (n, k) cosine
        order = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    return df.withColumn(cell_col, cell_udf(F.col(vec_col)))


def ivf_topk(spark, queries_df, corpus_df, vec_col: str, id_col: str,
             dim: int, k: int = 5, n_cells: int = 16, n_probe: int = 4,
             train_n: int = 4096, train: str = "sample"):
    """IVF ANN top-k: a coarse quantizer (spherical k-means) assigns each
    corpus vector its single nearest cell; a query probes its ``n_probe``
    nearest cells and re-ranks exactly (JVM-side cosine) inside them.

    ``train="sample"`` (default, byte-deterministic): k-means over a bounded
    deterministic sample (TopK by id — Catalyst plans TakeOrderedAndProject,
    no full sort; ``train_n`` rows cross the driver once).
    ``train="distributed"``: :func:`train_centroids_distributed` — Lloyd
    rounds as Spark aggregations; only the k x dim centroid model reaches
    the driver, nothing data-sized (the 100-TB form).

    100-TB shape: the corpus is partitioned by cell id once (in a real
    deployment: written bucketed-by-cell), and a query touches
    ``n_probe/n_cells`` of the data — the join is an equi-join on the cell
    id, never a cross join."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if train == "distributed":
        centroids = train_centroids_distributed(
            corpus_df.select(F.col(vec_col)), vec_col, dim, n_cells)
    elif train != "sample":
        raise ValueError(
            f"ivf_topk train={train!r}: expected 'sample' or 'distributed'"
            " (a typo here silently falling back to the driver-collect"
            " trainer is exactly what this guard prevents)")
    else:
        sample_rows = (corpus_df.select(F.col(id_col).alias("_i"),
                                        F.expr(_dbl(vec_col)).alias("_e"))
                       .orderBy("_i").limit(train_n).collect())
        if not sample_rows:
            raise ValueError(
                "ivf_topk: empty corpus (or all-null vectors) — nothing to "
                "train the coarse quantizer on; brute_force_topk returns "
                "empty cleanly if that is the intent")
        sample = np.stack([np.asarray(r["_e"], dtype=np.float64)
                           for r in sample_rows])
        centroids = _train_centroids(sample, n_cells)

    c = with_ivf_cell(
        corpus_df.select(F.col(id_col).alias("nid"),
                         F.expr(_dbl(vec_col)).alias("ce")),
        "ce", centroids, n_probe=1)
    c = (c.select("nid", "ce", F.col("cells")[0].alias("cell"))
         .withColumn("cn2", F.expr(_DOT.format(a="ce", b="ce"))))
    q = with_ivf_cell(
        queries_df.select(F.col(id_col).alias("qid"),
                          F.expr(_dbl(vec_col)).alias("qe")),
        "qe", centroids, n_probe=n_probe)
    q = (q.select("qid", "qe", F.explode("cells").alias("cell"))
         .withColumn("qn2", F.expr(_DOT.format(a="qe", b="qe"))))
    cand = c.join(F.broadcast(q), "cell")
    dot = _DOT.format(a="qe", b="ce")
    # self-norm once per row, not per candidate pair (see brute_force)
    sim = F.expr(f"({dot}) / sqrt(qn2 * cn2)")
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (cand.withColumn("sim", sim)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "nid", "rank", "sim"))


def cosine_metric(threshold: float):
    """:func:`textops.bucket_pair_kernel` metric over vectors ``e`` (n, dim)
    and their squared norms ``n2``: the cosine, kept when >= threshold
    (round 6 — the in-bucket shape, so the candidate volume never
    shuffles).

    BIT-EXACT with the JVM expression it replaces: the elementwise
    products are the same IEEE doubles, and ``np.cumsum`` accumulates
    strictly sequentially — the same left fold as Spark's
    ``aggregate(zip_with(a, b, *), 0.0, +)`` — so dot, sqrt, division and
    the threshold comparison reproduce the exact same float64s."""

    def metric(p, I, J):
        e, n2 = p["e"], p["n2"]
        dot = np.cumsum(e[I] * e[J], axis=1)[:, -1]
        sim = dot / np.sqrt(n2[I] * n2[J])
        return sim, sim >= threshold

    return metric


def cosine_near_dup_pairs(spark, df, vec_col: str, id_col: str,
                          threshold: float = 0.9, *, exact: bool = False,
                          dim: int | None = None, n_bits: int = 32,
                          bands: int = 8):
    """Embedding near-duplicate pairs (cosine >= threshold).

    Default path (the 100-TB shape): random-hyperplane LSH signatures
    (:func:`with_lsh_signature`), banded into ``bands`` x ``n_bits/bands``
    bit chunks; candidate pairs share >= 1 band (equi bucket-join, shuffle on
    the band hash — no CartesianProduct); the exact cosine is then verified
    on candidates only.  Near-identical vectors agree on every hyperplane
    sign, so recall approaches 1 as the threshold does; for looser
    thresholds raise ``bands`` (more, shorter bands = higher recall).

    ``exact=True``: exhaustive all-pairs comparison — the correctness oracle
    for the banded path.  O(n²); only for driver-capped inputs.

    Norms are computed once per vector (not per pair) — one dot product per
    pair instead of three; same float values, 3x less work."""
    from pyspark.sql import functions as F

    from .session import spread
    from .textops import bucket_pairs

    # spread: a one-split scan otherwise serializes the signature UDF
    # AND the per-pair cosine HOF folds on a single task (round-6
    # parallelism finding; no-op when the scan already parallelizes)
    v = spread(df).select(F.col(id_col).alias("id"),
                           F.expr(_dbl(vec_col)).alias("e"))
    v = v.withColumn("n2", F.expr(_DOT.format(a="e", b="e")))
    va = v.select(F.col("id").alias("id_a"), F.col("e").alias("ea"),
                  F.col("n2").alias("na"))
    vb = v.select(F.col("id").alias("id_b"), F.col("e").alias("eb"),
                  F.col("n2").alias("nb"))

    if exact:
        pairs = va.crossJoin(vb).filter(F.col("id_a") < F.col("id_b"))
    else:
        if dim is None:
            first = (v.filter(F.col("e").isNotNull())
                     .select(F.size("e")).first())
            dim = int(first[0]) if first else 0
        rb = n_bits // bands
        mask = (1 << rb) - 1
        sig = with_lsh_signature(v.select("id", "e", "n2"), "e", dim or 1,
                                 n_bits)
        bandcols = F.array(*[
            F.shiftright(F.col("lsh_sig"), i * rb).bitwiseAND(F.lit(mask))
            for i in range(bands)])
        # bands carry the member VECTORS into their bucket; the in-bucket
        # pair kernel cosine-filters every pair (bit-exact with the JVM
        # fold — see cosine_metric).  No bucket cap (a cap would change
        # the pair set); wide vector rows, so 64k pairs per metric call.
        ex = sig.select(F.col("id").cast("bigint").alias("id"), "e", "n2",
                        F.posexplode(bandcols).alias("band", "bh"))
        pairs = bucket_pairs(ex, ["band", "bh"], ["e", "n2"],
                             cosine_metric(threshold), "cos_sim double",
                             max_pairs=1 << 16)
        return pairs.dropDuplicates(["id_a", "id_b"])
    dot = _DOT.format(a="ea", b="eb")
    sim = F.expr(f"({dot}) / sqrt(na * nb)")
    return (pairs.withColumn("cos_sim", sim)
            .filter(F.col("cos_sim") >= threshold)
            .select(F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"),
                    "cos_sim"))


def _cluster_centroids(k: int = 16, dim: int = 64,
                       seed: int = 0x1BF) -> np.ndarray:
    """Seeded random unit centroids (data-independent, deterministic) —
    the shared model behind the oracle-checked cluster-assignment query:
    the same array feeds :func:`with_ivf_cell` on the Spark side and is
    repr'd into exact float64 literals on the DuckDB side."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((k, dim))
    c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-30)
    return c
