"""Front coding (incremental prefix encoding) for SORTED string columns.

Each string stores only (shared-prefix length with the previous string,
suffix bytes).  The engine's staging sorts every bucket by
(cluster_cols, key_cols) — plan.stage_order — so key-ish columns (path,
url, repo) arrive at the codec layer in sorted runs with massive shared
prefixes; front coding stores those prefixes once.  This is the classic
dictionary-page trick of every columnar store (Parquet's DELTA_BYTE_ARRAY,
ORC's string dictionary sort) re-expressed as a standalone lightweight
codec under the north rule's codec-library umbrella.

Layout: [pw, sw] + bitpacked prefix lens (pw bits) + bitpacked suffix lens
(sw bits) + concatenated suffix bytes.

Encode is fully vectorized: the shared-prefix lengths advance over a
shrinking active set (two gathers per matched byte position — total work
is proportional to the shared-prefix bytes, not n x max_len), and the
suffix gather is the standard repeat/cumsum variable-length gather.
Decode is inherently sequential (string i needs string i-1) — the optional
C kernel (codecs/_native.py fcode_decode) does it at memcpy speed; the
numpy-free python fallback loops over bytes objects (correct, slower,
rarely used).

Reference parity: the reference renders cells from shared mutable
builders reused across rows (Colonnade/Encode.hs:560-566 "build once,
fold many times"); front coding is that reuse made explicit in the wire
format.
"""

from __future__ import annotations

import numpy as np

from . import _native, fsst
from .base import KIND_STR, Codec, ColumnData, ColumnStats, EncodeContext
from .bitpack_util import pack_uints, unpack_uints, width_for

#: cap on stored prefix length — bounds the vectorized advance loop; a
#: longer true prefix simply leaves bytes in the suffix (still correct)
_MAX_PREFIX = 1024
#: contiguous sample runs for estimate(): adjacency is the signal, so the
#: sample must be consecutive strings, not a stratified scatter
_SAMPLE_RUN = 128
#: suffix streams at least this large try an FSST sub-encoding (round-5
#: "fcode suffix entropy": long sorted keys leave suffixes with heavy
#: shared vocabulary — measured 0.27 -> 0.08 of content on deep
#: monorepo-path fixtures); smaller streams can't amortize the table
_FSST_SUB_MIN = 4096
#: the hybrid must beat raw suffix bytes by >=25% to be kept: below that
#: margin the per-chunk table cost and the two-pass decode cost more than
#: the bytes saved at any scale (measured on the bench corpus: a marginal
#: suffix win on ~45 KB path stripes cost 10.8 task-seconds of encode)
_SUB_MARGIN = 0.75
#: suffix streams at least this large always build a FRESH full-iteration
#: table (the build amortizes and a fitted table encodes smaller/faster);
#: smaller streams reuse the ctx-cached table while it clears the margin,
#: else rebuild with 2 iterations — the same size-tiered economics as the
#: FSST codec's own table policy (fsst.py `_table`, CLAUDE.md round-4)
_SUB_FRESH_MIN = 262144
#: cheap pre-gate: a 2-iter table over at most this many sample suffix
#: bytes must reach this ratio before the full build is even attempted
_SUB_PROBE_MAX = 0.70
_SUB_PROBE_BYTES = 49152


def _sub_probe_ratio(suffix: np.ndarray, s_off: np.ndarray) -> float:
    """FSST compressibility of the suffix stream from a cheap 2-iter table
    over a byte-capped prefix of the stream (cut at a suffix boundary so
    the table's segment offsets stay representative)."""
    # last boundary AT OR BELOW the cap (the insertion point itself is the
    # first boundary above it — taking that would pull in one arbitrarily
    # large suffix); always keep at least one suffix
    hi = int(np.searchsorted(s_off, _SUB_PROBE_BYTES, side="right")) - 1
    hi = max(min(hi, len(s_off) - 1), 1)
    sample = suffix[: int(s_off[hi])]
    if sample.size < 2048:
        return 1.0
    tab = fsst.build_symbol_table(sample, s_off[: hi + 1].astype(np.int64),
                                  iters=2)
    return max(fsst.encoded_ratio(
        sample, np.array([0, sample.size], dtype=np.int64), tab), 0.05)


def _prefix_lens(data: np.ndarray, offsets: np.ndarray,
                 cap: int = _MAX_PREFIX) -> np.ndarray:
    """Shared-prefix length of string i with string i-1 (plens[0] = 0)."""
    n = len(offsets) - 1
    plens = np.zeros(n, dtype=np.int64)
    if n < 2:
        return plens
    lens = np.diff(offsets)
    maxp = np.minimum(np.minimum(lens[1:], lens[:-1]),
                      cap)           # per-row bound
    cur = np.flatnonzero(maxp > 0) + 1          # candidate row indices (>=1)
    k = 0
    starts = offsets[:-1]
    while cur.size:
        m = data[starts[cur] + k] == data[starts[cur - 1] + k]
        cur = cur[m]
        plens[cur] += 1
        k += 1
        cur = cur[maxp[cur - 1] > k]
    return plens


def _suffix_gather(data: np.ndarray, offsets: np.ndarray,
                   plens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Concatenated suffix bytes + suffix lengths."""
    lens = np.diff(offsets)
    slens = lens - plens
    s_off = np.concatenate(([0], np.cumsum(slens)))
    total = int(s_off[-1])
    if total == 0:
        return np.zeros(0, dtype=np.uint8), slens
    pos = (np.arange(total, dtype=np.int64)
           - np.repeat(s_off[:-1], slens)
           + np.repeat(offsets[:-1] + plens, slens))
    return data[pos], slens


class FrontCodeCodec(Codec):
    name = "fcode"
    codec_id = 8

    def applicable(self, col: ColumnData, stats: ColumnStats) -> bool:
        # capability only (a 1-row column front-codes fine: plens=[0],
        # suffix = the whole string); the tiny-column floor lives in
        # estimate() — a FORCED codec on a 1-row mapInArrow tail batch
        # must encode, not raise (batch splits are partitioning-dependent)
        return col.kind == KIND_STR and col.n > 0

    def estimate(self, col: ColumnData, stats: ColumnStats,
                 ctx: EncodeContext) -> int:
        if stats.total_bytes < 256 or col.n < 8:
            return stats.total_bytes + (1 << 20)       # header amortization
        # saved fraction from up to 3 CONTIGUOUS runs (start/middle/end):
        # front coding's win is adjacency, which a stratified sample destroys
        n = col.n
        run = min(_SAMPLE_RUN, n)
        firsts = sorted({0, max((n - run) // 2, 0), max(n - run, 0)})
        saved = sampled = 0
        runs = []                       # (seg, local_offsets, prefix_lens)
        for f in firsts:
            off = col.offsets[f: f + run + 1]
            seg = col.data[int(off[0]): int(off[-1])]
            loc = (off - off[0]).astype(np.int64)
            p = _prefix_lens(seg, loc, cap=256)
            runs.append((seg, loc, p))
            saved += int(p.sum())
            sampled += int(off[-1] - off[0])
        frac = saved / max(sampled, 1)
        pw = width_for(min(stats.max_len, _MAX_PREFIX))
        sw = width_for(stats.max_len)
        lens_bytes = (n * (pw + sw) + 7) // 8
        suffix_est = int((1.0 - frac) * stats.total_bytes)
        sub_ratio = 1.0
        if suffix_est >= _FSST_SUB_MIN and frac >= 0.25:
            # the suffixes of sorted keys share vocabulary — probe an FSST
            # sub-encoding on the sample runs' own suffixes (2-iter table
            # over a byte-capped sample, deterministic; selection's probe
            # gating amortizes this across the stream).  The probe ratio
            # counts only if it clears _SUB_PROBE_MAX — mirroring encode()'s
            # decision so selection economics match what encode will do.
            subs, soffs, base = [], [0], 0
            for seg, loc, p in runs:
                sfx, sl = _suffix_gather(seg, loc, p)
                subs.append(sfx)
                for s in sl.tolist():
                    base += s
                    soffs.append(base)
                if base >= _SUB_PROBE_BYTES:
                    break
            sample = np.concatenate(subs) if subs else np.zeros(0, np.uint8)
            cached = ctx.extras.get("fcode_sub_tab")
            if cached is not None and sample.size >= 2048:
                # the stream's live table prices the sample for ~free
                ratio = max(fsst.encoded_ratio(
                    sample, np.array([0, sample.size], dtype=np.int64),
                    cached), 0.05)
            else:
                ratio = _sub_probe_ratio(sample,
                                         np.asarray(soffs, dtype=np.int64))
            if ratio <= _SUB_PROBE_MAX:
                sub_ratio = ratio
        return (2 + int(sub_ratio * suffix_est) + 512 * (sub_ratio < 1.0)
                + lens_bytes)

    def encode(self, col: ColumnData, stats: ColumnStats,
               ctx: EncodeContext) -> tuple[dict, bytes]:
        plens = _prefix_lens(col.data, col.offsets)
        suffix, slens = _suffix_gather(col.data, col.offsets, plens)
        pw = width_for(int(plens.max())) if col.n else 0
        sw = width_for(int(slens.max())) if col.n else 0
        parts = [bytes([pw, sw]),
                 pack_uints(plens.astype(np.uint64), pw),
                 pack_uints(slens.astype(np.uint64), sw)]
        params: dict = {}
        if suffix.size >= _FSST_SUB_MIN:
            # FSST sub-encoding of the suffix stream ("f": 1).  The stream
            # is encoded as ONE flat segment: decode reproduces the exact
            # flat suffix bytes and slens already delimits the strings, so
            # no per-string count array is needed (unlike standalone FSST)
            # and symbols may span suffix boundaries.  The table is built
            # on per-suffix offsets so stratified sampling stays
            # representative.  Kept only if it beats the raw suffix bytes
            # by the _SUB_MARGIN — a pure function of chunk content
            # (determinism/resume safe) — and the full build is only
            # attempted when a cheap 2-iter sample probe clears
            # _SUB_PROBE_MAX (the try/skip decision itself gated across the
            # stream by ctx.sub_gate, so steady-state chunks pay nothing).
            s_off = np.zeros(col.n + 1, dtype=np.int64)
            np.cumsum(slens, out=s_off[1:])
            flat = np.array([0, suffix.size], dtype=np.int64)
            big = suffix.size >= _SUB_FRESH_MIN

            def hybrid_size(tab, stream) -> int:
                return stream.size + len(fsst.pack_table(tab))

            def emit(tab, stream) -> bool:
                if hybrid_size(tab, stream) >= suffix.size * _SUB_MARGIN:
                    return False
                params["f"] = 1
                parts.extend([fsst.pack_table(tab), stream.tobytes()])
                return True

            drifted = False
            if not big:
                # small stream: a cached table that still clears the margin
                # skips the build entirely (the table is embedded per block,
                # so decode never depends on the cache)
                cached = ctx.extras.get("fcode_sub_tab")
                if cached is not None:
                    stream, _ = fsst._encode_stream(suffix, flat, cached)
                    if emit(cached, stream):
                        return params, b"".join(parts)
                    drifted = True
            if ctx.sub_gate.step():
                attempt = ctx.sub_gate.last
            else:
                # big streams pre-gate with a byte-capped 2-iter probe; for
                # small streams the 2-iter build IS the attempt (same cost)
                attempt = (not big
                           or _sub_probe_ratio(suffix, s_off) <= _SUB_PROBE_MAX)
            won = False
            if attempt:
                # small-stream iteration ladder (per-iteration cost is a
                # fixed ~2 ms python/numpy floor, so iterations are the
                # budget): fresh streams attempt with 2 iters and refine
                # once at 4 on a win (4 iters captures ~97% of the
                # full-iteration win on deep-key streams, 30594 vs 30396 B
                # on the 158 KB fixture, while marginal streams gain ~0);
                # a drifted cache means the stream already proved it wins,
                # so rebuild straight at 4
                if big:
                    tab = fsst.build_symbol_table(suffix, s_off)
                else:
                    tab = fsst.build_symbol_table(
                        suffix, s_off, iters=4 if drifted else 2)
                stream, _ = fsst._encode_stream(suffix, flat, tab)
                if (not big and not drifted
                        and hybrid_size(tab, stream)
                        < suffix.size * _SUB_MARGIN):
                    tab2 = fsst.build_symbol_table(suffix, s_off, iters=4)
                    stream2, _ = fsst._encode_stream(suffix, flat, tab2)
                    if hybrid_size(tab2, stream2) <= hybrid_size(tab, stream):
                        tab, stream = tab2, stream2
                won = emit(tab, stream)
                if not big:
                    # big chunks never touch the small-stream cache: chunk
                    # sizes oscillating around _SUB_FRESH_MIN (batch splits
                    # are partitioning-dependent) must not wipe a winner
                    ctx.extras["fcode_sub_tab"] = tab if won else None
            ctx.sub_gate.learn(won)
            if won:
                return params, b"".join(parts)
        parts.append(suffix.tobytes())
        return params, b"".join(parts)

    def decode(self, payload: memoryview, params: dict, n: int, kind: str,
               arrow_type: str) -> ColumnData:
        buf = np.frombuffer(payload, dtype=np.uint8)
        pw, sw = int(buf[0]), int(buf[1])
        p = 2
        pb = (n * pw + 7) // 8
        plens = unpack_uints(buf[p: p + pb], n, pw).astype(np.int64)
        p += pb
        sb = (n * sw + 7) // 8
        slens = unpack_uints(buf[p: p + sb], n, sw).astype(np.int64)
        p += sb
        suffix = buf[p:]
        if params.get("f"):
            # FSST-compressed suffix stream: a packed table, then the
            # stream; decode flat (one segment), slens splits the strings
            table, p = fsst.unpack_table(buf, p)
            suffix, _ = fsst._decode_stream(
                buf[p:], np.array([buf.size - p], dtype=np.int64), table)
        total = int(plens.sum() + slens.sum())
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(plens + slens, out=offsets[1:])
        out = np.empty(total, dtype=np.uint8)
        if _native.call("fcode_decode", suffix, plens, slens, n, out) is None:
            # python fallback: sequential by definition; bytes slicing
            # keeps the per-row work in C even here
            s_off = np.concatenate(([0], np.cumsum(slens)))
            sbytes = suffix.tobytes()
            prev = b""
            chunks = []
            for i in range(n):
                s = prev[: int(plens[i])] \
                    + sbytes[int(s_off[i]): int(s_off[i + 1])]
                chunks.append(s)
                prev = s
            joined = b"".join(chunks)
            out = np.frombuffer(joined, dtype=np.uint8).copy() if joined \
                else np.zeros(0, dtype=np.uint8)
        return ColumnData(kind, n, arrow_type, data=out, offsets=offsets)
