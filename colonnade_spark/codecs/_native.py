"""Optional C kernels for FSST and front coding, compiled at first use
with the toolchain already in the image (plain ``cc -O2 -shared``) and
loaded via ctypes — no third-party packages, no install step.

One call path, one match rule:

* ``call(kernel, *args)`` is the only way into C.  It checks every array
  against the kernel's row in ``_SIGNATURES`` (exact dtype, C-contiguous),
  passes ints as int64, and returns None when the library is unavailable.
* ``match_at`` in ``_SRC`` is the only copy of the FSST match rule that
  both scans (``greedy_scan``, ``encode_scan``) use: per position, the
  3..8-byte hashed symbol, then the 2-byte direct table, then the 1-byte
  table, never crossing a segment end.  It transliterates the numpy wave
  loop (fsst._greedy_encode).  Greedy encode is sequential PER SEGMENT and
  independent ACROSS segments, so scan order doesn't affect the result —
  the C and numpy paths emit byte-identical units, streams and tables
  (tests/test_codecs.py, end to end in tests/test_engine.py), which keeps
  resume/determinism intact even in a mixed fleet where some workers
  failed to compile and fell back.

Failure of any build step (no compiler, sandboxed /tmp, load error)
degrades to ``lib = None`` and the numpy paths — the C kernels are an
optimization, not a dependency.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_SRC = r"""
#include <stdint.h>
#include <string.h>

typedef struct {
    const uint8_t *t1, *t2;             /* 1- and 2-byte direct tables */
    const uint64_t *hkey, *hmask;       /* 3..8-byte symbols, hashed on */
    const int32_t *hlen;                /* their 3-byte prefix */
    const uint8_t *hcode;
} table_t;

/* The match rule, once: at position p of a segment ending at end, try the
   hashed 3..8-byte symbol, then the 2-byte table, then the 1-byte table
   (255 = escape), never matching past end.  Stores the code, returns the
   match length.  The hash shift 20 is 32 - fsst._HASH_BITS.  The table
   is passed by value: its pointers stay in registers across the byte
   stores of the callers, which may alias anything. */
static inline int64_t match_at(const uint8_t *pad, int64_t p, int64_t end,
                               const table_t t, uint8_t *code)
{
    uint64_t key8;
    memcpy(&key8, pad + p, 8);              /* little-endian hosts */
    const int64_t rem = end - p;
    const uint32_t h = ((uint32_t)(key8 & 0xFFFFFFu) * 2654435761u) >> 20;
    const int32_t hl = t.hlen[h];
    if (hl > 0 && (key8 & t.hmask[h]) == t.hkey[h] && hl <= rem) {
        *code = t.hcode[h];
        return hl;
    }
    const uint8_t c2 = t.t2[key8 & 0xFFFFu];
    if (c2 != 255 && rem >= 2) {
        *code = c2;
        return 2;
    }
    *code = t.t1[key8 & 0xFFu];
    return 1;
}

/* greedy scan: every unit's position and code, ascending (segments are
   start-ordered). */
int64_t greedy_scan(const uint8_t *pad,
                    const int64_t *seg_s, const int64_t *seg_e, int64_t n_segs,
                    const uint8_t *t1, const uint8_t *t2,
                    const uint64_t *hkey, const uint64_t *hmask,
                    const int32_t *hlen, const uint8_t *hcode,
                    int64_t *units_out, uint8_t *codes_out)
{
    const table_t t = {t1, t2, hkey, hmask, hlen, hcode};
    int64_t k = 0;
    for (int64_t s = 0; s < n_segs; s++) {
        const int64_t end = seg_e[s];
        for (int64_t p = seg_s[s]; p < end; k++) {
            units_out[k] = p;
            p += match_at(pad, p, end, t, &codes_out[k]);
        }
    }
    return k;
}

/* greedy scan fused with stream emission: write the final code stream
   (code byte, plus the literal byte after each escape) during the scan and
   record the stream offset at every segment start, so python skips the
   units/codes materialization and the two scatter passes entirely. */
int64_t encode_scan(const uint8_t *pad,
                    const int64_t *seg_s, const int64_t *seg_e, int64_t n_segs,
                    const uint8_t *t1, const uint8_t *t2,
                    const uint64_t *hkey, const uint64_t *hmask,
                    const int32_t *hlen, const uint8_t *hcode,
                    uint8_t *stream_out, int64_t *seg_out)
{
    const table_t t = {t1, t2, hkey, hmask, hlen, hcode};
    int64_t o = 0;
    for (int64_t s = 0; s < n_segs; s++) {
        seg_out[s] = o;
        const int64_t end = seg_e[s];
        for (int64_t p = seg_s[s]; p < end;) {
            uint8_t c;
            const int64_t len = match_at(pad, p, end, t, &c);
            stream_out[o++] = c;
            if (c == 255 && len == 1)           /* escape: literal follows */
                stream_out[o++] = pad[p];
            p += len;
        }
    }
    seg_out[n_segs] = o;
    return o;
}

/* front-coding decode: string i = previous string's first plen[i] bytes +
   the next slen[i] suffix bytes.  Sequential by definition — this loop is
   pure memcpy.  Caller sizes out = sum(plen) + sum(slen). */
int64_t fcode_decode(const uint8_t *suffix, const int64_t *plen,
                     const int64_t *slen, int64_t n, uint8_t *out)
{
    int64_t o = 0, si = 0, prev = 0;
    for (int64_t i = 0; i < n; i++) {
        const int64_t start = o;
        int64_t pl = plen[i];
        if (pl > o - prev) pl = o - prev;   /* crc guards; no OOB read */
        memcpy(out + o, out + prev, (size_t)pl);
        o += pl;
        memcpy(out + o, suffix + si, (size_t)slen[i]);
        o += slen[i];
        si += slen[i];
        prev = start;
    }
    return o;
}

int64_t decode_stream(const uint8_t *stream, int64_t stream_len,
                      const int64_t *counts, int64_t n_strings,
                      const uint8_t *sym_flat, const int64_t *sym_off,
                      const int64_t *sym_len,
                      uint8_t *out_buf, int64_t *out_offsets)
{
    /* Pack each symbol into a u64 word so the hot loop is ONE unconditional
       8-byte store + advance-by-true-length (symbols are <= 8 bytes; the
       caller over-allocates out_buf by >= 8 bytes of slack, and overshoot
       bytes are overwritten by the next store or sliced off).  Identical
       output to the per-symbol memcpy loop, ~3x fewer store instructions. */
    uint64_t sym8[256];
    for (int j = 0; j < 256; j++) {
        uint64_t w = 0;
        memcpy(&w, sym_flat + sym_off[j], (size_t)sym_len[j]);
        sym8[j] = w;
    }
    int64_t i = 0, out = 0;
    for (int64_t s = 0; s < n_strings; s++) {
        out_offsets[s] = out;
        int64_t end = i + counts[s];
        if (end > stream_len) end = stream_len;      /* crc guards; no OOB */
        while (i < end) {
            const uint8_t b = stream[i];
            if (b == 255) {
                if (i + 1 < end) out_buf[out++] = stream[i + 1];
                i += 2;
            } else {
                memcpy(out_buf + out, &sym8[b], 8);
                out += sym_len[b];
                i += 1;
            }
        }
    }
    out_offsets[n_strings] = out;
    return out;
}

/* exact (key,len) gram counter for the table build: open-addressing
   insert-or-increment over the candidate stream, then compact occupied
   slots.  Output order is hash-slot order — callers MUST select symbols
   with an order-independent total sort so this path and the numpy
   fallback (sorted-group order) build identical tables.  tab_* are
   caller-zeroed arrays of tab_size (a power of two >= 2n); cnt==0 marks
   an empty slot (a real gram always counts >= 1). */
int64_t count_grams(const uint64_t *keys, const int64_t *lens, int64_t n,
                    uint64_t *tab_key, int64_t *tab_len, int64_t *tab_cnt,
                    int64_t tab_size,
                    uint64_t *out_key, int64_t *out_len, int64_t *out_cnt)
{
    const uint64_t mask = (uint64_t)tab_size - 1;
    for (int64_t j = 0; j < n; j++) {
        const uint64_t k = keys[j];
        const int64_t l = lens[j];
        uint64_t h = (k * 0x9E3779B97F4A7C15ull) ^
                     ((uint64_t)l * 0xFF51AFD7ED558CCDull);
        h ^= h >> 33;
        uint64_t i = h & mask;
        for (;;) {
            if (tab_cnt[i] == 0) {
                tab_key[i] = k; tab_len[i] = l; tab_cnt[i] = 1;
                break;
            }
            if (tab_key[i] == k && tab_len[i] == l) {
                tab_cnt[i]++;
                break;
            }
            i = (i + 1) & mask;
        }
    }
    int64_t m = 0;
    for (int64_t i = 0; i < tab_size; i++) {
        if (tab_cnt[i] != 0) {
            out_key[m] = tab_key[i];
            out_len[m] = tab_len[i];
            out_cnt[m] = tab_cnt[i];
            m++;
        }
    }
    return m;
}
"""

#: every kernel's arguments in order: an array's exact numpy dtype (it
#: must also be C-contiguous), or ``int`` for a scalar passed as int64
_U1, _I4, _I8, _U8 = map(np.dtype, ("u1", "i4", "i8", "u8"))
_SIGNATURES = {
    "greedy_scan": (_U1, _I8, _I8, int, _U1, _U1, _U8, _U8, _I4, _U1,
                    _I8, _U1),
    "encode_scan": (_U1, _I8, _I8, int, _U1, _U1, _U8, _U8, _I4, _U1,
                    _U1, _I8),
    "fcode_decode": (_U1, _I8, _I8, int, _U1),
    "decode_stream": (_U1, int, _I8, int, _U1, _I8, _I8, _U1, _I8),
    "count_grams": (_U8, _I8, int, _U8, _I8, _I8, int, _U8, _I8, _I8),
}

lib = None
_tried = False


def _build() -> "ctypes.CDLL | None":
    tag = hashlib.sha256(_SRC.encode()).hexdigest()[:16]
    cache = os.environ.get("COLONNADE_NATIVE_DIR", tempfile.gettempdir())
    so_path = os.path.join(cache, f"colonnade_fsst_{tag}.so")
    if not os.path.exists(so_path):
        src_path = os.path.join(cache, f"colonnade_fsst_{tag}.c")
        tmp_so = f"{so_path}.{os.getpid()}.tmp"
        with open(src_path, "w") as f:
            f.write(_SRC)
        subprocess.run(
            ["cc", "-O2", "-shared", "-fPIC", "-o", tmp_so, src_path],
            check=True, capture_output=True, timeout=60)
        os.replace(tmp_so, so_path)     # atomic: concurrent workers race safely
    dll = ctypes.CDLL(so_path)
    for name, sig in _SIGNATURES.items():
        fn = getattr(dll, name)
        fn.argtypes = [ctypes.c_int64 if a is int else ctypes.c_void_p
                       for a in sig]
        fn.restype = ctypes.c_int64
    return dll


def get_lib():
    global lib, _tried
    if not _tried:
        _tried = True
        try:
            lib = _build()
        except Exception:
            lib = None              # numpy fallback; never fatal
    return lib


def call(kernel: str, *args):
    """Run one C kernel; returns its int64 result, or None when the library
    is unavailable (the caller then takes its numpy path).

    Every array must have the kernel's exact dtype and be C-contiguous:
    a mismatch raises ``TypeError`` before any C runs, on every node, so
    a wrong-dtype array can never be silently misread."""
    sig = _SIGNATURES[kernel]
    if len(args) != len(sig):
        raise TypeError(f"{kernel}: {len(sig)} arguments, got {len(args)}")
    cargs = []
    for i, (a, want) in enumerate(zip(args, sig)):
        if want is int:
            cargs.append(int(a))
        elif (not isinstance(a, np.ndarray) or a.dtype != want
              or not a.flags.c_contiguous):
            got = (f"{a.dtype}{'' if a.flags.c_contiguous else ' strided'}"
                   if isinstance(a, np.ndarray) else type(a).__name__)
            raise TypeError(f"{kernel} argument {i}: want a C-contiguous "
                            f"{want} array, got {got}")
        else:
            cargs.append(a.ctypes.data)
    dll = get_lib()
    if dll is None:
        return None
    return int(getattr(dll, kernel)(*cargs))
