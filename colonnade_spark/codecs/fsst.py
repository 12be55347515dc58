"""FSST-style string compression (Boncz, Neumann, Leis — "FSST: Fast Random
Access String Compression", VLDB 2020; see PAPERS.md).

A symbol table of up to 255 symbols (1..8 bytes each) is built bottom-up on a
bounded sample (5 iterations of encode-sample → count unit/pair gains → keep
top-255 by gain), then strings are encoded greedily longest-match-first into
1-byte codes; byte 255 escapes a literal byte.  Random access is preserved:
per-string code-stream lengths are stored bit-packed.

Vectorization strategy (everything numpy, no per-row Python — the
`input_hint` requirement):

* matching: for each symbol length L, rolling big-endian uint64 keys over the
  whole concatenated byte buffer + ``searchsorted`` membership → per-position
  (longest match length, code);
* greedy scan: inherently sequential per string, so strings are split into
  <=SEG-byte segments (a match never crosses a segment boundary — costs <1%
  compression, bounds the chain length) and all segments advance in lockstep:
  one numpy gather per step, <=SEG steps total regardless of corpus size;
* decode: escape/literal disambiguation via run-analysis of 0xFF bytes, then
  one variable-length gather (repeat + cumsum trick) builds the output buffer.

The reference's structural ancestor is the conditional-escaping fast path of
its CSV codec (/root/reference/siphon/src/Siphon.hs:297-305 — scan, zero-copy
when clean, escape otherwise): FSST's escape byte generalizes CSV quoting.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np

from . import _native
from .base import KIND_STR, Codec, ColumnData, ColumnStats, EncodeContext
from .bitpack_util import pack_uints, unpack_uints, width_for

ESCAPE = 255
MAX_SYMS = 255
MAX_LEN = 8
SEG = 512
SAMPLE_BYTES = 1 << 15
# 7 iterations: measured on staged bench content (round 5), 5 -> 7 cuts the
# fsst stream ~2.0% (0.2885 -> 0.2829) for ~+1 ms/build now that the C
# count_grams kernel + vectorized selection dropped a build 16 -> ~7 ms
BUILD_ITERS = 7
#: cursors per greedy wave — refilled as segments finish.  Big enough to
#: amortize ~15 numpy kernel dispatches per wave, small enough that the
#: active byte range (~target x SEG ≈ 2 MiB) stays cache-resident.
_WAVE_TARGET = 4096
# chunks below this size get a cheap 2-iteration table build (FsstCodec._table
# drift-rebuild economics); bigger chunks amortize the full BUILD_ITERS build
_FULL_BUILD_MIN_BYTES = 1 << 18


_HASH_BITS = 12      # _native.match_at hardcodes the shift 32 - 12
_HASH_SIZE = 1 << _HASH_BITS
_HASH_MULT32 = 2654435761  # Knuth 32-bit multiplicative hash


@dataclass
class SymbolTable:
    """Symbol table with the FSST paper's lossy-perfect-hash lookup:
    direct tables for 1- and 2-byte symbols, a single-candidate hash on the
    3-byte prefix for 3..8-byte symbols (collisions drop the lower-gain
    symbol — lossy for compression, never for correctness).

    ``finalize`` derives everything else once: the per-code lengths
    (``sym_len``, 0 past the last code; ``unit_len``, 1 for an escape) and
    offsets into the flat symbol bytes, the lookup tables of the scan
    (``scan_tables``, in C argument order) and their one-record-per-slot
    form for the numpy wave loop."""

    symbols: list  # list[bytes], each 1..MAX_LEN bytes, index = code

    def finalize(self) -> "SymbolTable":
        n = len(self.symbols)
        lens = np.array([len(s) for s in self.symbols], dtype=np.int64)
        self.sym_flat = np.frombuffer(b"".join(self.symbols), dtype=np.uint8)
        self.sym_len = np.zeros(256, dtype=np.int64)
        self.sym_len[:n] = lens
        self.sym_off = np.zeros(256, dtype=np.int64)
        self.sym_off[:n] = np.cumsum(lens) - lens
        self.unit_len = np.maximum(self.sym_len, 1)
        t1 = np.full(256, ESCAPE, dtype=np.uint8)
        t2 = np.full(1 << 16, ESCAPE, dtype=np.uint8)
        hkey = np.zeros(_HASH_SIZE, dtype=np.uint64)
        hmask = np.zeros(_HASH_SIZE, dtype=np.uint64)
        hlen = np.zeros(_HASH_SIZE, dtype=np.int32)
        hcode = np.zeros(_HASH_SIZE, dtype=np.uint8)
        # vectorized first-wins inserts (symbols are gain-desc; finalize
        # runs once per BUILD ITERATION, so a 255-step python loop would
        # be a measurable slice of every table build): numpy fancy
        # assignment keeps the LAST write per index, so feeding the
        # symbols REVERSED makes the first (highest-gain) one win.
        if n:
            codes = np.arange(n, dtype=np.uint8)
            keys = np.frombuffer(
                b"".join(s.ljust(MAX_LEN, b"\0") for s in self.symbols),
                dtype="<u8")
            m1 = lens == 1
            if m1.any():
                idx = (keys[m1] & np.uint64(0xFF)).astype(np.int64)
                t1[idx[::-1]] = codes[m1][::-1]
            m2 = lens == 2
            if m2.any():
                idx = (keys[m2] & np.uint64(0xFFFF)).astype(np.int64)
                t2[idx[::-1]] = codes[m2][::-1]
            m3 = lens >= 3
            if m3.any():
                k3, l3, c3 = keys[m3], lens[m3], codes[m3]
                # k24 < 2^24 and MULT < 2^32 → the int64 product is exact
                h = ((((k3 & np.uint64(0xFFFFFF)).astype(np.int64)
                       * _HASH_MULT32) & 0xFFFFFFFF)
                     >> (32 - _HASH_BITS)).astype(np.int64)
                full = np.uint64(0xFFFFFFFFFFFFFFFF)
                # clamp before shifting: np.where evaluates BOTH branches,
                # and a shift by 64 (L == MAX_LEN) is undefined
                l3c = np.minimum(l3, MAX_LEN - 1).astype(np.uint64)
                masks = np.where(
                    l3 == MAX_LEN, full,
                    (np.uint64(1) << (l3c << np.uint64(3))) - np.uint64(1))
                hr = h[::-1]
                hkey[hr] = k3[::-1]
                hmask[hr] = masks[::-1]
                hlen[hr] = l3[::-1].astype(np.int32)
                hcode[hr] = c3[::-1]
        self.scan_tables = (t1, t2, hkey, hmask, hlen, hcode)
        # one structured record per hash slot → a single gather per wave
        self.slot = np.empty(_HASH_SIZE,
                             dtype=[("key", "<u8"), ("mask", "<u8"),
                                    ("len", "<i4"), ("code", "u1")])
        self.slot["key"], self.slot["mask"] = hkey, hmask
        self.slot["len"], self.slot["code"] = hlen, hcode
        return self


def pack_table(table: SymbolTable) -> bytes:
    """``[n_sym u8][n_sym length bytes][symbol bytes]``: the one table
    layout, in fsst payloads and in fcode's FSST suffix sub-encoding."""
    n = len(table.symbols)
    return b"".join([bytes([n]), table.sym_len[:n].astype(np.uint8).tobytes(),
                     table.sym_flat.tobytes()])


def unpack_table(buf: np.ndarray, p: int) -> tuple[SymbolTable, int]:
    """Read a :func:`pack_table` layout at ``buf[p:]``: (finalized table,
    position after it)."""
    n = int(buf[p])
    lens = buf[p + 1: p + 1 + n].astype(np.int64)
    ends = p + 1 + n + np.cumsum(lens)
    symbols = [buf[e - l: e].tobytes()
               for e, l in zip(ends.tolist(), lens.tolist())]
    return SymbolTable(symbols).finalize(), p + 1 + n + int(lens.sum())


def _padded(data: np.ndarray) -> np.ndarray:
    """``data`` zero-padded to a multiple of 8 bytes with >= 8 spare, so an
    unaligned 8-byte load at any byte position stays in bounds."""
    pad = np.zeros(((data.size + MAX_LEN + 15) // 8) * 8, dtype=np.uint8)
    pad[:data.size] = data
    return pad


def _u64_at(pad: np.ndarray) -> np.ndarray:
    """The little-endian u64 at every byte offset of a :func:`_padded`
    buffer, as ONE byte-strided view (as_strided strides are in bytes, so
    strides=(1,) overlays a u64 at each offset — unaligned loads the
    hardware does natively): a gather through it reads 8 bytes per cursor
    in one fancy-index."""
    return np.lib.stride_tricks.as_strided(
        pad.view("<u8"), shape=(pad.size - 8,), strides=(1,))


def _seg_for(nbytes: int) -> int:
    """Adaptive segment size: small inputs (table-build samples, probe
    encodes) get short segments so the wave loop runs many full waves
    instead of up to SEG near-empty ones (numpy dispatch, not data, is the
    cost there).  Pure function of input size — deterministic."""
    return SEG if nbytes > (1 << 16) else 64


def _segment_bounds(offsets: np.ndarray, seg: int = SEG
                    ) -> tuple[np.ndarray, np.ndarray]:
    """Split strings into <=seg-byte segments; returns (starts, ends)."""
    lens = np.diff(offsets)
    n_chunks = (lens + seg - 1) // seg
    total = int(n_chunks.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    grp_start = np.concatenate(([0], np.cumsum(n_chunks)[:-1]))
    base = np.repeat(offsets[:-1], n_chunks)
    within = np.arange(total, dtype=np.int64) - np.repeat(grp_start, n_chunks)
    starts = base + within * seg
    ends = np.minimum(starts + seg, np.repeat(offsets[1:], n_chunks))
    return starts, ends


def _greedy_encode(data: np.ndarray, offsets: np.ndarray, table: SymbolTable
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Greedy longest-match over all segments in lockstep waves.

    The greedy scan is sequential *within* a segment but independent across
    segments, so each wave advances every active segment cursor by one unit:
    gather 8 bytes at each cursor, look up 1-byte / 2-byte / hashed symbols,
    pick the longest, step.

    Wave scheduling is REFILLED: finished cursors are replaced with the next
    unstarted segments, so every wave runs near _WAVE_TARGET cursors.  This
    fixes two things at once: (a) numpy dispatch overhead per wave (~15
    kernel launches) amortizes over thousands of cursors instead of a dying
    tail — the fixed-window version spent most waves nearly empty; (b) cache
    locality — segments activate in byte order and die in rough byte order,
    so the active gather range is a sliding window of
    ~_WAVE_TARGET x SEG ≈ 2 MiB (the cache-blocking that lets 32 parallel
    executor workers share DRAM).

    Returns (unit positions ascending, unit codes; ESCAPE where literal).
    """
    n = data.size
    if n == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.uint8)
    seg_s, seg_e = _segment_bounds(offsets, _seg_for(n))
    pad = _padded(data)
    if _native.get_lib() is not None:
        # C fast path (codecs/_native.py): the same match rule, units
        # emitted directly (ascending: segments are start-ordered)
        units = np.empty(n, dtype=np.int64)
        codes = np.empty(n, dtype=np.uint8)
        k = _native.call("greedy_scan", pad, seg_s, seg_e, seg_s.size,
                         *table.scan_tables, units, codes)
        return units[:k], codes[:k]
    # numpy wave fallback: one int16 scatter per wave fuses the
    # taken-bitmap and code stores (-1 = no unit starts here); codes are
    # re-narrowed to u8 at the end.
    code_at = np.full(n, -1, dtype=np.int16)
    u64v = _u64_at(pad)
    t1, t2 = table.scan_tables[:2]
    n_segs = seg_s.size
    target = _WAVE_TARGET
    seg_ptr = 0
    cur = np.zeros(0, dtype=np.int64)
    end = cur
    while cur.size or seg_ptr < n_segs:
        if cur.size < target // 2 and seg_ptr < n_segs:
            take = min(target - cur.size, n_segs - seg_ptr)
            cur = np.concatenate((cur, seg_s[seg_ptr: seg_ptr + take]))
            end = np.concatenate((end, seg_e[seg_ptr: seg_ptr + take]))
            seg_ptr += take
            keep = cur < end
            cur, end = cur[keep], end[keep]
            if cur.size == 0:
                continue
        key8 = u64v[cur]
        rem = end - cur
        # 1-byte (default len 1; ESCAPE when no symbol).  Unsigned astype
        # truncates mod 2^k — the low byte / low 2 bytes without an AND.
        c1 = t1[key8.astype(np.uint8)]
        # 2-byte (u16 direct-table index)
        c2 = t2[key8.astype(np.uint16)]
        ok2 = (c2 != ESCAPE) & (rem >= 2)
        # 3..8-byte via prefix hash: one structured gather per wave
        h = ((key8.astype(np.uint32) & np.uint32(0xFFFFFF))
             * np.uint32(_HASH_MULT32)) >> np.uint32(32 - _HASH_BITS)
        s = table.slot[h]
        ll = s["len"]
        ok3 = (ll > 0) & ((key8 & s["mask"]) == s["key"]) & (rem >= ll)
        length = np.where(ok3, ll.astype(np.int64), 1 + ok2)
        c = np.where(ok3, s["code"], np.where(ok2, c2, c1))
        code_at[cur] = c
        cur = cur + length
        alive = cur < end
        cur, end = cur[alive], end[alive]
    units = np.flatnonzero(code_at >= 0)
    return units, code_at[units].astype(np.uint8)


def _encode_stream(data: np.ndarray, offsets: np.ndarray, table: SymbolTable
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Encode concatenated strings → (stream uint8, per-string out byte counts).

    C fast path (codecs/_native.py encode_scan): the scan EMITS the final
    stream during matching and records the stream offset at every segment
    start, so the units/codes arrays (9 bytes per input byte) and the two
    scatter passes below never materialize — per-string counts fall out of
    one searchsorted of the string offsets into the segment starts (every
    non-empty string start is a segment start).  Byte-identical to the
    numpy path (same matching rules; CRC-asserted in tests)."""
    n = int(data.size)
    if n and _native.get_lib() is not None:
        seg_s, seg_e = _segment_bounds(offsets, _seg_for(n))
        stream = np.empty(2 * n, dtype=np.uint8)   # all-escape worst case
        seg_out = np.empty(seg_s.size + 1, dtype=np.int64)
        total = _native.call("encode_scan", _padded(data), seg_s, seg_e,
                             seg_s.size, *table.scan_tables, stream, seg_out)
        ks = np.searchsorted(seg_s, offsets)
        return stream[:total], seg_out[ks[1:]] - seg_out[ks[:-1]]
    units, codes = _greedy_encode(data, offsets, table)
    esc = codes == ESCAPE
    out_len = np.where(esc, 2, 1).astype(np.int64)
    out_off = np.concatenate(([0], np.cumsum(out_len)))
    stream = np.empty(int(out_off[-1]), dtype=np.uint8)
    stream[out_off[:-1]] = codes
    stream[out_off[:-1][esc] + 1] = data[units[esc]]
    # per-string out bytes: units is sorted, so search the (few) string
    # offsets into it and diff the out_len prefix sums — O(n_strings log
    # n_units) instead of a per-unit searchsorted + weighted bincount.
    b = np.searchsorted(units, offsets)
    counts = out_off[b[1:]] - out_off[b[:-1]]
    return stream, counts


def encoded_ratio(data: np.ndarray, offsets: np.ndarray,
                  table: SymbolTable) -> float:
    """Encoded / raw bytes of the strings under ``table`` (1.0 if empty)."""
    if offsets[-1] == 0:
        return 1.0
    return _encode_stream(data, offsets, table)[0].size / int(offsets[-1])


def _classify_stream(stream: np.ndarray) -> np.ndarray:
    """Mask of positions that are *consumed literals* (not unit starts)."""
    lit = np.zeros(stream.size, dtype=bool)
    m = stream == ESCAPE
    idx = np.flatnonzero(m)
    if idx.size == 0:
        return lit
    new_run = np.concatenate(([True], np.diff(idx) > 1))
    run_id = np.cumsum(new_run) - 1
    run_start = idx[new_run][run_id]
    within = idx - run_start
    lit[idx[within % 2 == 1]] = True  # odd offsets inside a 0xFF run
    # odd-length runs: final 0xFF is an escape whose literal is the next byte
    run_len = np.bincount(run_id)
    run_starts = idx[new_run]
    odd_ends = run_starts[run_len % 2 == 1] + run_len[run_len % 2 == 1]
    odd_ends = odd_ends[odd_ends < stream.size]
    lit[odd_ends] = True
    return lit


def _decode_stream(stream: np.ndarray, counts: np.ndarray, table: SymbolTable
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of _encode_stream → (data bytes, offsets)."""
    n_strings = counts.size
    if _native.get_lib() is not None:
        # C fast path: one sequential pass (escape consumes the next byte,
        # codes copy their symbol) — byte-identical to the numpy
        # run-analysis path below, equality-tested in test_codecs.
        out_buf = np.empty(int(stream.size) * MAX_LEN + 16, dtype=np.uint8)
        out_off = np.empty(n_strings + 1, dtype=np.int64)
        total = _native.call("decode_stream", stream, stream.size, counts,
                             n_strings, table.sym_flat, table.sym_off,
                             table.sym_len, out_buf, out_off)
        return out_buf[:total], out_off
    sym_flat, sym_off = table.sym_flat, table.sym_off
    lit_mask = _classify_stream(stream)
    units = np.flatnonzero(~lit_mask)
    is_esc = stream[units] == ESCAPE
    codes = stream[units].astype(np.int64)
    out_lens = table.unit_len[codes]
    # variable-length gather: source = sym_flat ++ stream (escapes read stream[pos+1])
    src = np.concatenate((sym_flat, stream))
    src_start = np.where(is_esc, sym_flat.size + units + 1,
                         sym_off[np.where(is_esc, 0, codes)])
    total = int(out_lens.sum())
    unit_out_off = np.concatenate(([0], np.cumsum(out_lens)))
    # gather indices by scatter+cumsum instead of two np.repeat passes:
    # the index steps by 1 inside a unit and jumps to the next unit's
    # source start at each boundary.
    idx = np.ones(total, dtype=np.int64)
    if units.size:
        idx[0] = src_start[0]
        idx[unit_out_off[1:-1]] = src_start[1:] - (src_start[:-1] + out_lens[:-1] - 1)
        np.cumsum(idx, out=idx)
    data = src[idx]
    # per-string offsets: stream offsets → unit index → output offset
    stream_off = np.concatenate(([0], np.cumsum(counts)))
    unit_idx = np.searchsorted(units, stream_off)
    offsets = unit_out_off[unit_idx]
    assert offsets.size == n_strings + 1
    return data, offsets.astype(np.int64)


def _gram_keys(data: np.ndarray, pos: np.ndarray, lens: np.ndarray
               ) -> np.ndarray:
    """uint64 key for the gram at (pos, len): big-endian bytes (length kept
    separate by caller).

    ONE unaligned-u64 gather through the byte-strided view (the scan's
    trick), then byteswap to big-endian and shift off the tail bytes —
    bit-identical to the old 8-pass masked shift/or loop (byteswap of the
    little-endian load is b0<<56|..|b7; >> 8*(8-L) keeps b0..b_{L-1}, the
    big-endian L-gram), ~7x fewer kernel dispatches."""
    k = _u64_at(_padded(data))[pos].byteswap()
    return k >> ((np.uint64(MAX_LEN) - lens.astype(np.uint64))
                 << np.uint64(3))


def stratified_sample(data: np.ndarray, offsets: np.ndarray,
                      budget: int = SAMPLE_BYTES) -> tuple[np.ndarray, np.ndarray]:
    """Evenly-spaced string sample covering ~budget bytes.

    A prefix sample is biased when the chunk is key-sorted (the normal case:
    staging sorts by key, so a prefix is one repo/language) — symbols tuned
    to the prefix made the rest of the chunk escape-expand.  Spacing the
    sample across the whole chunk keeps the table representative.

    Each sampled string contributes at most its first ``budget`` bytes, so
    a chunk of a few MiB-sized strings samples ~budget bytes too, not
    whole strings."""
    n = len(offsets) - 1
    total = int(offsets[-1])
    if total <= budget:
        return data, offsets
    avg = max(total / n, 1.0)
    want = max(int(budget / avg), 2)
    idx = np.unique(np.linspace(0, n - 1, num=min(want, n)).astype(np.int64))
    lens = np.minimum(np.diff(offsets)[idx], budget)
    keep = max(int(np.searchsorted(np.cumsum(lens), budget,
                                   side="right")) + 1, 2)
    idx, lens = idx[:keep], lens[:keep]
    new_off = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
    out = np.empty(int(new_off[-1]), dtype=np.uint8)
    for k, s in enumerate(idx):  # few hundred slices, cheap
        lo = int(offsets[s])
        out[int(new_off[k]): int(new_off[k + 1])] = data[lo: lo + int(lens[k])]
    return out, new_off


def _count_grams(keys: np.ndarray, lens: np.ndarray
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(unique key, len, count) through the C open-addressing counter, in
    HASH-SLOT order (build_symbol_table re-sorts with a total order)."""
    n = keys.size
    tab_size = 1 << max(int(2 * n - 1).bit_length(), 4)
    # only cnt marks occupancy (cnt==0 = empty): key/len slots are written
    # before they are ever compared, so they can stay uninitialized
    tab = (np.empty(tab_size, dtype=np.uint64),
           np.empty(tab_size, dtype=np.int64),
           np.zeros(tab_size, dtype=np.int64))
    out = (np.empty(n, dtype=np.uint64), np.empty(n, dtype=np.int64),
           np.empty(n, dtype=np.int64))
    m = _native.call("count_grams", keys, lens, n, *tab, tab_size, *out)
    return out[0][:m], out[1][:m], out[2][:m]


def build_symbol_table(data: np.ndarray, offsets: np.ndarray,
                       iters: int = BUILD_ITERS) -> SymbolTable:
    """Bottom-up table construction on a stratified sample of the chunk."""
    data, offsets = stratified_sample(data, offsets)
    table = SymbolTable([]).finalize()
    # must match the seg _greedy_encode picks for this (sampled) data size,
    # or the adjacent-unit pairing below would cross segment boundaries
    seg_s, _seg_e = _segment_bounds(offsets, _seg_for(data.size))
    for _ in range(iters):
        units, codes = _greedy_encode(data, offsets, table)
        if units.size == 0:
            break
        ulen = table.unit_len[codes]
        # candidate grams: every unit, plus adjacent-unit concatenations <= 8B
        # (units tile each segment, so a pair's bytes are contiguous at pos_i)
        sid = np.searchsorted(seg_s, units, side="right") - 1
        adj = np.flatnonzero((sid[1:] == sid[:-1]))
        pair_pos = units[adj]
        pair_len = ulen[adj] + ulen[adj + 1]
        ok = pair_len <= MAX_LEN
        cand_pos = np.concatenate((units, pair_pos[ok]))
        cand_len = np.concatenate((ulen, pair_len[ok]))
        keys = _gram_keys(data, cand_pos, cand_len)
        lens64 = cand_len.astype(np.int64)
        # exact (key, len) grouping — no hash collisions, no byte-level
        # dedup needed (a right-aligned big-endian u64 + its length IS the
        # gram).  C counter when available (open addressing, hash-slot
        # output order), numpy sort-group fallback (sorted output order).
        if _native.get_lib() is not None:
            uk, ul, cnt = _count_grams(keys, lens64)
        else:
            grp = np.lexsort((lens64, keys))
            ks, ls = keys[grp], lens64[grp]
            starts = np.concatenate(
                ([0], np.flatnonzero((ks[1:] != ks[:-1])
                                     | (ls[1:] != ls[:-1])) + 1))
            uk, ul = ks[starts], ls[starts]
            cnt = np.diff(np.concatenate((starts, [ks.size])))
        gain = cnt * ul
        # the two counting paths emit different ORDERS; symbol selection
        # must be order-independent so a mixed fleet (some workers without
        # a C compiler) still builds byte-identical tables.  The sort key
        # (gain desc, left-aligned bytes asc, len asc) is a total order —
        # (left_key, len) uniquely identifies a gram.  A value-threshold
        # pre-filter (ties included, so still order-independent) keeps the
        # 3-key lexsort off the full candidate set.
        if gain.size > 4096:
            thr = np.partition(gain, gain.size - 2048)[gain.size - 2048]
            keep = gain >= thr
            uk, ul, gain = uk[keep], ul[keep], gain[keep]
        left = uk << ((np.uint64(MAX_LEN) - ul.astype(np.uint64))
                      << np.uint64(3))
        sel = np.lexsort((ul, left, -gain))[:MAX_SYMS]
        syms = [int(k).to_bytes(MAX_LEN, "big")[MAX_LEN - int(l):]
                for k, l in zip(uk[sel].tolist(), ul[sel].tolist())]
        table = SymbolTable(syms).finalize()
    return table


class FsstCodec(Codec):
    name = "fsst"
    codec_id = 5

    def applicable(self, col: ColumnData, stats: ColumnStats) -> bool:
        # capability only; estimate() prices tiny columns out of selection
        return col.kind == KIND_STR and col.n > 0

    def _table(self, col: ColumnData, ctx: EncodeContext) -> SymbolTable:
        """Reuse the cached symbol table across chunks, but probe it first:
        encode a tiny (8 KB) stratified sample and rebuild if the ratio
        drifted >25% from build time (content distribution changed — e.g.
        the stripe crossed into a different language's files).

        Memoized per chunk so estimate() and encode() pay one probe.  The
        memo key is CONTENT-derived (size + sample crc) — NEVER id(): a
        freed chunk's address can be reused by the next stripe's buffer
        (malloc reuse), and an id-keyed memo then returns stale state (this
        exact bug corrupted alpha4 lengths before it was caught; here a
        stale hit would only pick a stale-but-embedded symbol table, a
        compression-quality issue, but the key is made sound anyway)."""
        total = int(col.offsets[-1]) if col.n else 0
        head = col.data[:128].tobytes() if total else b""
        tail = col.data[max(total - 128, 0):total].tobytes() if total else b""
        chunk_key = (col.n, total, zlib.crc32(head + tail))
        memo = ctx.extras.get("fsst_chunk")
        if memo is not None and memo[0] == chunk_key:
            return memo[1]
        probe = stratified_sample(col.data, col.offsets, budget=8192)
        # table reuse economics, re-measured after the C encode_scan made
        # the encode itself cheap (fsst.py history: probe-gated reuse was
        # right when numpy encode dominated):
        # - BIG chunks (>= _FULL_BUILD_MIN_BYTES, e.g. 3.9 MB content
        #   stripes): ALWAYS build fresh — the ~16 ms build is repaid
        #   twice over, a chunk-fitted table encodes FASTER (fewer
        #   escapes) and smaller (measured on sorted staged buckets:
        #   shared-ctx 0.3054 @ 81 MB/s vs fresh 0.2902 @ 98 MB/s), and
        #   the probe encode itself is pure overhead.
        # - SMALL chunks (sorted path/commit slices, where the stripe cap
        #   on total row bytes leaves ~30-80 KB per column): probe-gated
        #   reuse with a cheap 2-iteration rebuild — a full build per tiny
        #   chunk costs more than encoding it.
        # Pure function of chunk size + content → deterministic.
        if total < _FULL_BUILD_MIN_BYTES:
            if ctx.fsst_table is not None:
                r = encoded_ratio(*probe, ctx.fsst_table)
                if r <= ctx.extras.get("fsst_probe_ratio", 1.0) * 1.25 + 0.02:
                    ctx.extras["fsst_chunk"] = (chunk_key, ctx.fsst_table)
                    return ctx.fsst_table
            iters = 2
        else:
            iters = BUILD_ITERS
        ctx.fsst_table = build_symbol_table(col.data, col.offsets,
                                            iters=iters)
        ctx.extras["fsst_probe_ratio"] = encoded_ratio(*probe, ctx.fsst_table)
        ctx.extras["fsst_ratio"] = encoded_ratio(
            *stratified_sample(col.data, col.offsets), ctx.fsst_table)
        ctx.extras["fsst_chunk"] = (chunk_key, ctx.fsst_table)
        return ctx.fsst_table

    def estimate(self, col: ColumnData, stats: ColumnStats, ctx: EncodeContext) -> int:
        if stats.total_bytes < 1024:  # table overhead dominates; never select
            return stats.total_bytes + 4 * (col.n + 1) + 4096
        # low-cardinality chunk: dict/RLE will beat any byte-level coder —
        # skip the symbol-table build entirely and price FSST out (pure
        # function of chunk stats, so selection stays deterministic)
        if stats.dict_codes is not None and stats.n_unique * 20 < col.n:
            return stats.total_bytes + 4096
        table = self._table(col, ctx)
        table_bytes = len(pack_table(table)) + 1      # + the count width
        cw_bytes = (col.n * 24 + 7) // 8  # pessimistic count width
        return int(ctx.extras.get("fsst_ratio", 1.0) * stats.total_bytes) \
            + table_bytes + cw_bytes

    def encode(self, col: ColumnData, stats: ColumnStats, ctx: EncodeContext) -> tuple[dict, bytes]:
        table = self._table(col, ctx)
        stream, counts = _encode_stream(col.data, col.offsets, table)
        cw = width_for(int(counts.max())) if counts.size else 0
        parts = [pack_table(table), bytes([cw]),
                 pack_uints(counts.astype(np.uint64), cw), stream.tobytes()]
        return {}, b"".join(parts)

    def decode(self, payload: memoryview, params: dict, n: int, kind: str,
               arrow_type: str) -> ColumnData:
        buf = np.frombuffer(payload, dtype=np.uint8)
        table, p = unpack_table(buf, 0)
        cw = int(buf[p]); p += 1
        cnt_bytes = (n * cw + 7) // 8
        counts = unpack_uints(buf[p: p + cnt_bytes], n, cw).astype(np.int64)
        p += cnt_bytes
        stream = buf[p:]
        data, offsets = _decode_stream(stream, counts, table)
        return ColumnData(kind, n, arrow_type, data=data, offsets=offsets)
