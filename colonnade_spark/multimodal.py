"""Multimodal columns: image/audio/video as opaque ``binary`` columns with
typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side plumbing — schema, partitioning, UDF signature, batch shape,
size-capped batches — is real and tested.  The *decode* step (actual
image/audio codecs) is stubbed behind :func:`register_decoder`:
this container has no media libraries, so the default decoder is either a
clearly-marked ``NotImplementedError`` ("real" mode) or a deterministic fake
(byte-histogram features) used by tests and queries.

Metadata (length / entropy / histogram features) is computed by a
**batch-vectorized** kernel (:func:`batch_meta`): one concatenated byte
buffer per batch, per-row segment reductions via ``np.bincount`` on
``segment*256 + byte`` keys — no per-row Python in the metadata path.  The
only per-row calls are ``zlib.crc32`` (a single C call per payload; CRC is
byte-serial by definition) and the pluggable decoder seam.

At 100 TB: binary payloads ride the same engine as text — ``blocks.py``
handles ``binary``/``large_binary`` columns natively (plain codec; media is
already entropy-coded, so auto-selection correctly falls back to plain), and
`mapInPandas` streams batches so one task never materializes a partition.
"""

from __future__ import annotations

import zlib
from typing import Callable

import numpy as np
import pandas as pd

_DECODERS: dict = {}

N_FEATURES = 8

FEATURE_SCHEMA = ("id bigint, n_bytes bigint, crc int, "
                  "entropy_milli bigint, features array<float>")


def register_decoder(modality: str, fn: Callable) -> None:
    """Plug a real decoder: fn(payload: bytes) -> np.ndarray feature vector."""
    _DECODERS[modality] = fn


def _fake_decode(payload: bytes, n_features: int = N_FEATURES) -> np.ndarray:
    """Deterministic stand-in for a media decoder: coarse byte-histogram.
    Swap via register_decoder("image", real_fn) when codecs are available.
    (Per-row reference implementation; the batch path is batch_meta.)"""
    b = np.frombuffer(payload or b"", dtype=np.uint8)
    if b.size == 0:
        return np.zeros(n_features, dtype=np.float32)
    hist = np.bincount(b >> 5, minlength=n_features).astype(np.float32)
    return hist / b.size


def _entropy_milli(payload: bytes) -> int:
    """Per-row reference implementation (tests compare batch_meta to this)."""
    b = np.frombuffer(payload or b"", dtype=np.uint8)
    if b.size == 0:
        return 0
    p = np.bincount(b, minlength=256) / b.size
    p = p[p > 0]
    return int(round(float(-(p * np.log2(p)).sum()) * 1000))


def batch_meta(payloads: list) -> dict:
    """Vectorized per-batch metadata over a list of bytes payloads.

    Returns numpy arrays: n_bytes (int64), entropy_milli (int64), and
    fake_features ((n, 8) float32 byte-histogram — the deterministic decoder
    stand-in).  One pass over a concatenated buffer; per-row reductions are
    ``np.bincount`` over ``segment*K + bucket`` keys — no per-row Python.
    """
    n = len(payloads)
    bs = [bytes(p) if p is not None else b"" for p in payloads]
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)
    total = int(lens.sum())
    if total == 0:
        return {"n_bytes": lens,
                "entropy_milli": np.zeros(n, dtype=np.int64),
                "fake_features": np.zeros((n, N_FEATURES), dtype=np.float32)}
    buf = np.frombuffer(b"".join(bs), dtype=np.uint8)
    # per-row byte histograms: one bincount over (segment, byte) keys.
    # int32 keys: n*256 stays far below 2^31 for any arrow batch and the
    # int32 multiply-add runs ~2x the int64 path (round-6 measurement:
    # the key build + second bincount were 60% of the kernel)
    seg = np.repeat(np.arange(n, dtype=np.int32), lens)
    counts = np.bincount(seg * np.int32(256) + buf,
                         minlength=n * 256).reshape(n, 256)
    safe = np.maximum(lens, 1).astype(np.float64)
    p = counts / safe[:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        logp = np.where(p > 0, np.log2(np.where(p > 0, p, 1.0)), 0.0)
    ent = -(p * logp).sum(axis=1) * 1000.0
    ent_milli = np.round(ent).astype(np.int64)
    ent_milli[lens == 0] = 0
    # fake decoder features: the coarse (>>5) histogram is the 256-bin
    # histogram folded 32 bytes at a time — derived from `counts` instead
    # of a second 9M-key bincount (same integers, so the float32 division
    # below is bit-identical to the per-row reference)
    feat_counts = (counts.reshape(n, N_FEATURES, 256 // N_FEATURES)
                   .sum(axis=2).astype(np.float32))
    feats = feat_counts / safe[:, None].astype(np.float32)
    feats[lens == 0] = 0.0
    return {"n_bytes": lens, "entropy_milli": ent_milli,
            "fake_features": feats}


def _size_capped(pdf: pd.DataFrame, payload_col: str, max_batch_bytes: int):
    """Split one pandas batch into byte-size-capped sub-batches (the
    in-kernel size cap, SURVEY.md §4.2: one giant blob can't blow a task)."""
    sizes = np.fromiter((len(p) if p is not None else 0
                         for p in pdf[payload_col]), dtype=np.int64,
                        count=len(pdf))
    cum = np.cumsum(sizes)
    lo = 0
    while lo < len(pdf):
        base = cum[lo - 1] if lo else 0
        # longest prefix with byte sum <= cap (side="right", no +1 — the +1
        # variant systematically included the cap-crossing row)
        hi = int(np.searchsorted(cum, base + max_batch_bytes, side="right"))
        hi = min(max(hi, lo + 1), len(pdf))
        yield pdf.iloc[lo:hi]
        lo = hi


def extract_features(df, id_col: str, bin_col: str, modality: str = "fake",
                     max_batch_bytes: int = 64 << 20):
    """binary column → per-item metadata + feature vector, via mapInPandas.

    Metadata (n_bytes, entropy) comes from the vectorized :func:`batch_meta`
    kernel; features come from the registered decoder ("fake" = the
    vectorized byte-histogram stand-in; a registered real decoder runs
    per-row behind the seam)."""
    from pyspark.sql import functions as F

    if modality == "real":
        raise NotImplementedError(
            "no media codecs in this environment — register_decoder() a real "
            "decoder and pass its modality name")
    decoder = _DECODERS.get(modality)
    if decoder is None and modality != "fake":
        # a typo'd modality silently producing fake histogram features
        # would poison a feature table — same guard stance as ivf_topk's
        # unknown-train-mode check
        raise KeyError(
            f"unknown modality {modality!r}: registered = "
            f"{sorted(_DECODERS)}; use 'fake' for the deterministic "
            "stand-in decoder")

    from .session import spread

    # spread: a few-MB parquet scan is one split, which would serialize
    # the whole feature kernel on a single task (round-6 finding: python
    # stages starve because AQE/scan splitting only sees bytes)
    src = spread(df.select(F.col(id_col).cast("bigint").alias("id"),
                            F.col(bin_col).alias("payload")))

    def run(batches):
        for pdf in batches:
            for sub in _size_capped(pdf, "payload", max_batch_bytes):
                payloads = list(sub["payload"])
                meta = batch_meta(payloads)
                # crc32 is byte-serial: one C call per payload, no copy
                # (zlib.crc32 takes any buffer).  Measured (round 6):
                # 5 ms per 8192x1.1KB batch = ~3% of the kernel — the
                # histogram/entropy path dominates, so a combine-based
                # vectorization has nothing to win (VERDICT item 6).
                crcs = np.fromiter(
                    (zlib.crc32(p if p is not None else b"") - (1 << 31)
                     for p in payloads), dtype=np.int32, count=len(payloads))
                if decoder is None:
                    feats = [row.tolist() for row in meta["fake_features"]]
                else:
                    feats = [decoder(bytes(p) if p is not None else b"")
                             .astype(np.float32).tolist() for p in payloads]
                yield pd.DataFrame({
                    "id": sub["id"].values,
                    "n_bytes": meta["n_bytes"],
                    "crc": crcs,
                    "entropy_milli": meta["entropy_milli"],
                    "features": feats,
                })

    return src.mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_stub(df, id_col: str, bin_col: str, target: int = 16):
    """Image-resize plumbing: (id, payload) → (id, h, w, resized binary).

    The decode step is a deterministic fake (payload bytes reshaped to the
    largest fitting square "image", nearest-neighbor sampled down/up to
    ``target`` x ``target``) — swap in a real decoder via register_decoder
    when image libs exist.  The Spark-side contract (mapInPandas batch
    shape, binary-out schema, size-capped batches) is real and tested."""
    from pyspark.sql import functions as F

    src = df.select(F.col(id_col).cast("bigint").alias("id"),
                    F.col(bin_col).alias("payload"))

    def run(batches):
        for pdf in batches:
            for sub in _size_capped(pdf, "payload", 64 << 20):
                ids, hs, ws, outs = [], [], [], []
                for i, p in zip(sub["id"], sub["payload"]):
                    b = np.frombuffer(bytes(p) if p is not None else b"",
                                      dtype=np.uint8)
                    side = max(int(np.sqrt(b.size)), 1)
                    img = b[: side * side].reshape(side, side) if b.size \
                        else np.zeros((1, 1), dtype=np.uint8)
                    # nearest-neighbor resample to target x target
                    idx = (np.arange(target) * img.shape[0]) // target
                    small = img[idx][:, idx]
                    ids.append(i)
                    hs.append(img.shape[0])
                    ws.append(img.shape[1])
                    outs.append(small.tobytes())
                yield pd.DataFrame({"id": np.asarray(ids, dtype=np.int64),
                                    "src_h": np.asarray(hs, dtype=np.int32),
                                    "src_w": np.asarray(ws, dtype=np.int32),
                                    "resized": outs})

    return src.mapInPandas(
        run, schema="id bigint, src_h int, src_w int, resized binary")


def frame_sample_stub(df, id_col: str, bin_col: str, every_n: int = 10):
    """Video frame-sampling plumbing: emits (id, frame_idx, frame_bytes) rows
    where the split step is a deterministic fake (fixed-size byte windows in
    lieu of real container parsing)."""
    from pyspark.sql import functions as F

    src = df.select(F.col(id_col).cast("bigint").alias("id"),
                    F.col(bin_col).alias("payload"))

    def run(batches):
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for i, p in zip(pdf["id"], pdf["payload"]):
                p = bytes(p) if p is not None else b""
                window = max(len(p) // max(every_n, 1), 1)
                for k in range(0, min(every_n, max(len(p), 1))):
                    lo = k * window
                    if lo >= len(p):
                        break
                    ids.append(i)
                    idxs.append(k)
                    frames.append(p[lo: lo + window])
            yield pd.DataFrame({"id": np.asarray(ids, dtype=np.int64),
                                "frame_idx": np.asarray(idxs, dtype=np.int32),
                                "frame": frames})

    return src.mapInPandas(run, schema="id bigint, frame_idx int, frame binary")
