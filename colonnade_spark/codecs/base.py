"""Codec core: normalized column data, per-column statistics, codec protocol.

This is the Spark-free kernel layer.  A codec consumes a ``ColumnData``
(numpy view of one column chunk) and produces ``(params, payload)``; decode
inverts it.  The design mirrors the reference's record-of-functions codec
object ``Siphon c { escape, intercalate, parse, isNull }``
(/root/reference/siphon/src/Siphon/Internal.hs:43-48) generalized to
``{ applicable, estimate, encode, decode }`` per BASELINE.json:north_rule.

The two-pass stats-then-encode shape follows the reference's ``sizeColumns``
stats pass (/root/reference/colonnade/src/Colonnade/Encode.hs:177-186): we
compute column statistics once, let every registered codec *estimate* its
encoded size from them, and select the argmin (plain is always a candidate,
so encoded size <= plain baseline structurally — BASELINE.md).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

import numpy as np
import pyarrow as pa

KIND_STR = "str"
KIND_INT = "int"
KIND_FLOAT = "float"
KIND_BOOL = "bool"

_INT_TYPES = {"int8", "int16", "int32", "int64", "uint8", "uint16", "uint32"}
_FLOAT_TYPES = {"float", "double", "float32", "float64", "halffloat"}

# arrow type string -> (numpy dtype for raw plain storage, byte width)
_INT_WIDTH = {"int8": 1, "int16": 2, "int32": 4, "int64": 8,
              "uint8": 1, "uint16": 2, "uint32": 4}


@dataclass
class ColumnData:
    """One null-free column chunk, normalized for codec kernels.

    Strings: ``data`` (uint8 bytes) + ``offsets`` (int64, n+1, zero-based).
    Ints: ``values`` as int64.  Floats: native width.  Bools: np.bool_.
    """

    kind: str
    n: int
    arrow_type: str
    data: Optional[np.ndarray] = None
    offsets: Optional[np.ndarray] = None
    values: Optional[np.ndarray] = None

    @property
    def total_bytes(self) -> int:
        if self.kind == KIND_STR:
            return int(self.offsets[-1]) if self.n else 0
        return int(self.values.nbytes)


def kind_of(typ: pa.DataType) -> str:
    s = str(typ)
    if s in ("string", "large_string", "binary", "large_binary"):
        return KIND_STR
    if s in _INT_TYPES:
        return KIND_INT
    if s in _FLOAT_TYPES:
        return KIND_FLOAT
    if s == "bool":
        return KIND_BOOL
    raise TypeError(f"unsupported column type for codec engine: {typ}")


def split_nulls(arr: pa.Array) -> tuple[pa.Array, Optional[np.ndarray]]:
    """(``arr`` with each null filled by its kind's zero, validity or None
    when there is no null) — the one null fill of an encoded block."""
    if not arr.null_count:
        return arr, None
    fill = {"str": "", "int": 0, "float": 0.0, "bool": False}[kind_of(arr.type)]
    return arr.fill_null(fill), np.asarray(arr.is_valid())


def from_arrow(arr: pa.Array) -> tuple[ColumnData, Optional[np.ndarray]]:
    """Normalize an arrow array: returns (null-free ColumnData, validity or None)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    arrow_type = str(arr.type)
    kind = kind_of(arr.type)
    arr, validity = split_nulls(arr)
    n = len(arr)
    if kind == KIND_STR:
        big = arr.cast(pa.large_binary()) if "binary" in arrow_type else arr.cast(pa.large_string())
        bufs = big.buffers()
        off = np.frombuffer(bufs[1], dtype=np.int64, count=n + 1, offset=big.offset * 8)
        data = (np.frombuffer(bufs[2], dtype=np.uint8)
                if bufs[2] is not None else np.zeros(0, dtype=np.uint8))
        if off[0] != 0 or (n and int(off[-1]) != data.size):
            data = data[int(off[0]): int(off[-1])]
            off = off - off[0]
        return ColumnData(kind, n, arrow_type, data=data, offsets=off.astype(np.int64)), validity
    vals = arr.to_numpy(zero_copy_only=False)
    if kind == KIND_INT:
        vals = vals.astype(np.int64, copy=False)
    elif kind == KIND_BOOL:
        vals = vals.astype(np.bool_, copy=False)
    return ColumnData(kind, n, arrow_type, values=vals), validity


def to_arrow(col: ColumnData, validity: Optional[np.ndarray] = None) -> pa.Array:
    """Rebuild an arrow array of the original type, reinserting nulls."""
    if col.kind == KIND_STR:
        base = pa.large_binary() if "binary" in col.arrow_type else pa.large_string()
        off = np.ascontiguousarray(col.offsets, dtype=np.int64)
        data = np.ascontiguousarray(col.data, dtype=np.uint8)
        arr = pa.Array.from_buffers(
            base, col.n, [None, pa.py_buffer(off.tobytes()), pa.py_buffer(data.tobytes())])
    elif col.kind == KIND_BOOL:
        arr = pa.array(np.ascontiguousarray(col.values, dtype=np.bool_))
    else:
        arr = pa.array(np.ascontiguousarray(col.values))
    arr = arr.cast(pa.type_for_alias(col.arrow_type))
    if validity is not None:
        arr = pa.compute.if_else(pa.array(validity), arr, pa.nulls(col.n, arr.type))
    return arr


def string_at(col: ColumnData, i: int) -> bytes:
    return col.data[int(col.offsets[i]): int(col.offsets[i + 1])].tobytes()


@dataclass
class ColumnStats:
    """Per-chunk column statistics driving codec selection (the ``sizeColumns``
    analog, Encode.hs:177-186, generalized beyond max-width).

    Dictionary statistics are *sample-gated*: a contiguous 2048-row prefix is
    factorized first; only when it shows dict/RLE potential (repeats or runs)
    is the full chunk factorized.  High-cardinality columns (content, hashes)
    skip the full pass entirely — it was the dominant non-codec cost.
    ``ensure_dict`` materializes the full factorization lazily for a codec
    that actually needs it (e.g. a user-forced dict on a high-card column).
    """

    n: int
    kind: str
    total_bytes: int = 0
    max_len: int = 0
    n_unique: int = 0            # exact when dict_codes is set, else estimate
    run_count: int = 0           # exact when dict_codes is set, else estimate
    vmin: int = 0
    vmax: int = 0
    dict_codes: Optional[np.ndarray] = None      # int64 codes, first-occurrence order
    dict_values: Optional[pa.Array] = None
    arr: Optional[pa.Array] = None               # null-free source (for ensure_dict)


_SAMPLE_ROWS = 2048


def _full_dict(st: ColumnStats, arr: pa.Array) -> None:
    de = arr.dictionary_encode()
    codes = np.asarray(de.indices.to_numpy(zero_copy_only=False), dtype=np.int64)
    st.dict_codes = codes
    st.dict_values = de.dictionary
    st.n_unique = len(de.dictionary)
    st.run_count = 1 + int(np.count_nonzero(codes[1:] != codes[:-1]))


def ensure_dict(st: ColumnStats) -> None:
    if st.dict_codes is None:
        _full_dict(st, st.arr)


def compute_stats(col: ColumnData, arr_nonnull: pa.Array) -> ColumnStats:
    st = ColumnStats(n=col.n, kind=col.kind)
    if col.n == 0:
        return st
    if col.kind == KIND_STR:
        lens = np.diff(col.offsets)
        st.total_bytes = int(col.offsets[-1])
        st.max_len = int(lens.max()) if col.n else 0
    elif col.kind == KIND_INT:
        st.vmin = int(col.values.min())
        st.vmax = int(col.values.max())
        st.total_bytes = col.values.nbytes
    else:
        st.total_bytes = col.values.nbytes
    if col.kind in (KIND_STR, KIND_INT):
        if isinstance(arr_nonnull, pa.ChunkedArray):
            arr_nonnull = arr_nonnull.combine_chunks()
        st.arr = arr_nonnull
        if col.n <= 2 * _SAMPLE_ROWS:
            _full_dict(st, arr_nonnull)
        else:
            head = arr_nonnull.slice(0, _SAMPLE_ROWS)
            de = head.dictionary_encode()
            hcodes = np.asarray(de.indices.to_numpy(zero_copy_only=False))
            h_unique = len(de.dictionary) / _SAMPLE_ROWS
            h_runs = (1 + int(np.count_nonzero(hcodes[1:] != hcodes[:-1]))) / _SAMPLE_ROWS
            if h_unique < 0.5 or h_runs < 0.5:
                _full_dict(st, arr_nonnull)   # dict/RLE plausible → exact stats
            else:
                st.n_unique = int(h_unique * col.n)
                st.run_count = max(int(h_runs * col.n), 1)
    return st


#: probe gating: once the same decision wins GATE_STREAK consecutive chunks
#: of a column stream, reuse it without probing, with a full re-probe every
#: GATE_REPROBE-th chunk (content drift, e.g. a stripe crossing into
#: another language's files).
GATE_STREAK = 3
GATE_REPROBE = 16


@dataclass
class ProbeGate:
    """One probe gate over a column's chunk stream: codec selection
    (blocks.select_codec) and fcode's suffix sub-encoding each keep one in
    the stream's EncodeContext, so a decision stays a pure function of the
    chunk sequence (resume/determinism intact)."""

    idx: int = 0
    last: object = None
    streak: int = 0

    def step(self) -> bool:
        """Count one chunk; True when it may reuse ``last`` unprobed."""
        idx = self.idx
        self.idx += 1
        return self.streak >= GATE_STREAK and idx % GATE_REPROBE != 0

    def learn(self, decision) -> None:
        if decision == self.last:
            self.streak += 1
        else:
            self.last, self.streak = decision, 1


@dataclass
class EncodeContext:
    """Per-column-stream scratch shared across codec estimate/encode calls
    and across the stream's successive chunks."""

    fsst_table: Optional[object] = None
    select_gate: ProbeGate = field(default_factory=ProbeGate, init=False)
    sub_gate: ProbeGate = field(default_factory=ProbeGate, init=False)
    extras: dict = field(default_factory=dict)


class Codec:
    """Codec protocol. Subclasses are stateless singletons in the registry."""

    name: str = "?"
    codec_id: int = -1

    def applicable(self, col: ColumnData, stats: ColumnStats) -> bool:
        raise NotImplementedError

    def estimate(self, col: ColumnData, stats: ColumnStats, ctx: EncodeContext) -> int:
        raise NotImplementedError

    def encode(self, col: ColumnData, stats: ColumnStats, ctx: EncodeContext) -> tuple[dict, bytes]:
        raise NotImplementedError

    def decode(self, payload: memoryview, params: dict, n: int, kind: str,
               arrow_type: str) -> ColumnData:
        raise NotImplementedError


def int_width(arrow_type: str) -> int:
    return _INT_WIDTH.get(arrow_type, 8)
