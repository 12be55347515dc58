"""Self-describing block format + codec auto-selection.

A block = one column × one row range, framed as::

    b"CSPB" | version u8 | codec_id u8 | header_len u32le | header JSON | payload

The header's ``crc`` (crc32 of the payload as stored) is required: a
frame without one is refused on decode.

The JSON header is the ``Headed`` regime of the reference (named,
self-describing columns — /root/reference/colonnade/src/Colonnade/Encode.hs:
499-500); ``strip_header``/``reattach_header`` give the ``Headless``/
``Indexed`` positional regime (Encode.hs:515-516, siphon/src/Siphon/Types.hs:
25-27) where the header travels in an external manifest instead.

Unlike the reference's CSV chunking (content-oblivious: a cell may span
chunks, handled by parser continuations — Siphon.hs:612-616), blocks are
row-aligned and size-capped: decode never needs cross-block state
(SURVEY.md §4.3, the one deliberate physical divergence).
"""

from __future__ import annotations

import base64
import json
import zlib

import numpy as np
import pyarrow as pa

from .codecs import BY_ID, BY_NAME, EncodeContext, compute_stats, from_arrow, to_arrow
from .codecs.base import split_nulls

MAGIC = b"CSPB"
VERSION = 1

#: selection candidates in deterministic tie-break order (lower wins ties).
#: deliberately all LIGHTWEIGHT codecs (north rule: dict/RLE/FSST/bit-pack/
#: FOR family) — general-purpose DEFLATE is available as the post-encode
#: fmap (encode_block(post="zlib")), not as a selection candidate.
_CANDIDATE_ORDER = ("plain", "forbp", "delta", "dict", "rle", "alpha4",
                    "fcode", "fsst", "fbss")


class BlockError(ValueError):
    """Typed decode error with coordinates — the SiphonError analog
    (/root/reference/siphon/src/Siphon/Types.hs:35-59)."""


def select_codec(col, stats, ctx, exclude=()) -> str:
    """Argmin of estimated encoded size over applicable candidates.

    ``plain`` is always applicable, so the result is never worse than the
    plain baseline (BASELINE.md compressed-size bound, structural).

    Probe-gated by ``ctx.select_gate`` (codecs.base.ProbeGate): once one
    codec keeps winning, the losers' estimates are skipped until the next
    re-probe.  The auto-path plain fallback in encode_block still bounds
    every block at <= plain even when the gated pick goes stale."""
    gate = ctx.select_gate
    if (gate.step() and not exclude
            and BY_NAME[gate.last].applicable(col, stats)):
        return gate.last
    best_name, best_est = "plain", None
    for name in _CANDIDATE_ORDER:
        if name in exclude:
            continue
        codec = BY_NAME[name]
        if not codec.applicable(col, stats):
            continue
        est = codec.estimate(col, stats, ctx)
        if best_est is None or est < best_est:
            best_name, best_est = name, est
    if not exclude:        # retry probes (exclude != ()) don't teach the gate
        gate.learn(best_name)
    return best_name


def encode_block(arr: pa.Array, codec: str = "auto", exclude=(),
                 ctx: EncodeContext | None = None,
                 post: str | None = None) -> bytes:
    """Encode one arrow array into a framed, self-describing block.

    ``ctx`` may be passed in to reuse expensive per-column scratch (the FSST
    symbol table) across successive chunks of the same column — the
    build-once / fold-many plan reuse of the reference
    (/root/reference/colonnade/src/Colonnade/Encode.hs:560-566).

    With ``codec="auto"`` the encoded payload is *guaranteed* <= the plain
    payload: if the estimate-selected codec turns out worse on the actual
    data (estimates are sample-based), we fall back to plain post-hoc.

    ``post`` is the user-facing post-encode ``fmap``
    (/root/reference/colonnade/src/Colonnade/Encode.hs:569: map content
    AFTER the cell encoder runs): an optional transform over the already-
    encoded payload, recorded in the header and inverted on decode.
    Currently ``"zlib"`` (DEFLATE over the block payload).
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    # config validation BEFORE any early return: a bogus codec/post name
    # must raise on EVERY batch, not only non-empty ones (otherwise the
    # error is partitioning-dependent — whether it surfaces depends on
    # which worker sees an empty tail batch)
    if codec != "auto" and codec not in BY_NAME:
        raise BlockError(f"unknown codec {codec!r}; have {sorted(BY_NAME)}")
    _check_post(post)
    if _is_supported_list(arr.type):
        return _encode_list_block(arr, codec=codec, ctx=ctx, post=post,
                                  exclude=exclude)
    arr, validity = split_nulls(arr)
    col, _ = from_arrow(arr)
    header: dict = {"n": col.n, "k": col.kind, "t": col.arrow_type}
    _put_validity(header, validity)
    if col.n == 0:
        return _seal(BY_NAME["plain"].codec_id, header, b"", None)
    stats = compute_stats(col, arr)
    if ctx is None:
        ctx = EncodeContext()
    auto = codec == "auto"
    if auto:
        name = select_codec(col, stats, ctx, exclude)
    else:
        name = codec
        if not BY_NAME[name].applicable(col, stats):
            raise BlockError(
                f"codec {name!r} not applicable to kind={col.kind} column "
                f"({col.arrow_type}, n={col.n})")
    c = BY_NAME[name]
    params, payload = c.encode(col, stats, ctx)
    if auto and name != "plain":
        plain = BY_NAME["plain"]
        if len(payload) >= plain.estimate(col, stats, ctx):
            c = plain
            params, payload = plain.encode(col, stats, ctx)
    if params:
        header["p"] = params
    return _seal(c.codec_id, header, payload, post)


def decode_block(buf: bytes | memoryview) -> pa.Array:
    codec_id, header, payload = _open(buf)
    if "f" in header:
        raise BlockError(
            f"block is cell fragment {header['f']}: a fragmented cell needs "
            f"its full set — use decode_cell_fragments")
    if header["n"] == 0:
        base = pa.type_for_alias(header["t"])
        if header.get("k") == "list":
            # list headers store t = VALUE type; an empty list block must
            # still decode to the list type (an empty tail batch of an
            # embedding column otherwise comes back as bare float)
            base = pa.large_list(base) if header.get("lg") else pa.list_(base)
        return pa.array([], type=base)
    if header["k"] == "list":
        return _decode_list_block(header, payload)
    codec = BY_ID.get(codec_id)
    if codec is None:
        raise BlockError(f"unknown codec id {codec_id}")
    col = codec.decode(payload, header.get("p", {}), header["n"], header["k"], header["t"])
    return to_arrow(col, _get_validity(header))


def _put_validity(header: dict, validity) -> None:
    """Record a validity mask (None: no null) in a block header."""
    if validity is not None:
        header["v"] = base64.b64encode(
            np.packbits(validity, bitorder="little").tobytes()).decode("ascii")


def _get_validity(header: dict):
    """The validity mask a header records, or None when it has no null."""
    if "v" not in header:
        return None
    bits = np.frombuffer(base64.b64decode(header["v"]), dtype=np.uint8)
    return np.unpackbits(bits, bitorder="little")[: header["n"]].astype(bool)


def pack_nested(sub_block: bytes, rest: bytes) -> bytes:
    """A payload that carries a whole block before its own bytes: the
    sub-block's u32le length, the sub-block, then ``rest``.  Dict values,
    RLE run values and a list's child values all ride this framing."""
    return b"".join([len(sub_block).to_bytes(4, "little"), sub_block, rest])


def open_nested(payload) -> tuple[pa.Array, memoryview]:
    """Inverse of :func:`pack_nested`: (decoded sub-block, rest bytes)."""
    payload = memoryview(payload)
    n = int.from_bytes(payload[:4], "little")
    return decode_block(payload[4: 4 + n]), payload[4 + n:]


# --------------------------------------------------------------------------
# list columns (array<primitive>) — composite child + lengths block
# --------------------------------------------------------------------------
#
# The embeddings/training-pipeline case: an ``array<float>`` column rides
# the SAME block store as flat columns by decomposing into its arrow parts
# and recursively encoding each with the normal codec machinery — child
# values (one concatenated primitive array → fbss/forbp/fsst pick up the
# usual wins) and per-row lengths (constant for fixed-dim embeddings → RLE
# collapses them).  One level only (value types: numeric/string); outer
# nulls ride the header validity like every other block.

def _is_supported_list(t: pa.DataType) -> bool:
    if not (pa.types.is_list(t) or pa.types.is_large_list(t)):
        return False
    v = t.value_type
    return (pa.types.is_floating(v) or pa.types.is_integer(v)
            or pa.types.is_string(v) or pa.types.is_boolean(v))


def _encode_list_block(arr: pa.Array, codec: str = "auto",
                       ctx: EncodeContext | None = None,
                       post: str | None = None, exclude=()) -> bytes:
    import pyarrow.compute as pc

    lens = pc.fill_null(pc.list_value_length(arr), 0)
    lens64 = pa.array(np.asarray(lens, dtype=np.int64))
    child = pc.list_flatten(arr)            # values of non-null slots only
    sub_ctx = ctx if ctx is not None else EncodeContext()
    child_blk = encode_block(child, codec=codec, ctx=sub_ctx,
                             exclude=exclude)
    payload = pack_nested(child_blk, encode_block(lens64, exclude=exclude))
    header: dict = {"n": len(arr), "k": "list",
                    "t": str(arr.type.value_type),
                    "lg": 1 if pa.types.is_large_list(arr.type) else 0}
    _put_validity(header, np.asarray(arr.is_valid()) if arr.null_count
                  else None)
    return _seal(BY_NAME["plain"].codec_id, header, payload, post)


def _decode_list_block(header: dict, payload) -> pa.Array:
    child, rest = open_nested(payload)
    lens = np.asarray(decode_block(rest), dtype=np.int64)
    off_dtype = np.int64 if header.get("lg") else np.int32
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(off_dtype)
    valid = _get_validity(header)
    mask = None if valid is None else pa.array(~valid)
    cls = pa.LargeListArray if header.get("lg") else pa.ListArray
    return cls.from_arrays(pa.array(offsets), child, mask=mask)


# --------------------------------------------------------------------------
# multi-block cells (a single cell spanning several blocks)
# --------------------------------------------------------------------------
#
# The reference's CSV chunking lets one cell span chunk boundaries, resumed
# by parser continuations (/root/reference/siphon/src/Siphon.hs:612-616 —
# `Continue`/`commit` across chunk refills).  Blocks here are row-aligned,
# so the analog is at the CELL level: a single cell larger than the stripe
# cap is split into `nfrag` framed fragment blocks (header "f": [i, nfrag]),
# each carrying a byte slice of the raw cell.  Fragments bound block size
# (and sidestep the 2 GiB int32-offset cliff: each fragment is well under
# it, and reassembly can target large types).  decode_block refuses a lone
# fragment — reassembly needs the full set, via decode_cell_fragments.

_FRAG_KINDS = {"str", "bin"}


def encode_cell_fragments(arr: pa.Array, frag_bytes: int,
                          post: str | None = None) -> list[bytes]:
    """Split a single oversized var-width cell across multiple framed blocks.

    ``arr`` must be a one-row string/binary array (the stripe cutter already
    isolates such rows).  Each fragment is independently integrity-checked
    (per-fragment crc) and optionally post-compressed (the fmap ``post``,
    applied per fragment so decode can stream them)."""
    _check_post(post)
    if len(arr) != 1:
        raise BlockError(f"cell fragmentation takes a 1-row array, got {len(arr)}")
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        kind = "str"
    elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
        kind = "bin"
    else:
        raise BlockError(f"cell fragmentation needs string/binary, got {t}")
    if arr.null_count:
        raise BlockError("a null cell is never oversized; refuse to fragment")
    v = arr[0].as_py()
    raw = v.encode("utf-8") if isinstance(v, str) else bytes(v)
    frag_bytes = max(int(frag_bytes), 1)
    nfrag = max((len(raw) + frag_bytes - 1) // frag_bytes, 1)
    return [_seal(BY_NAME["plain"].codec_id,
                  {"n": 1, "k": kind, "t": str(t), "f": [i, nfrag]},
                  raw[i * frag_bytes:(i + 1) * frag_bytes], post)
            for i in range(nfrag)]


def iter_cell_fragments(frames, meta_out: dict | None = None):
    """Stream one fragmented cell as index-ordered byte chunks WITHOUT ever
    materializing the whole cell — the >2 GiB-cell scale path (an arrow
    scalar caps at 2 GiB; a chunk iterator does not).

    Fragments may arrive in any order; only out-of-order fragments are
    buffered, so index-ordered arrival streams in O(one fragment) memory.
    Per-fragment crc is validated on arrival, completeness when the input
    is exhausted (the generator raises BlockError at that point — consumers
    must drain it before trusting the prefix).  Chunks are raw payload
    bytes: a ``str`` cell is UTF-8 and a chunk may end mid-codepoint — use
    ``codecs.getincrementaldecoder("utf-8")`` on the consumer side.

    ``meta_out`` (optional dict) receives ``{"k": kind, "t": arrow_type,
    "n": n_fragments}`` as soon as the first fragment arrives.

    This is the only place the fragment-set rule lives: decode, validation
    and ``engine.decode_giant_cells`` all read fragments through it.

    The reference analog is the resumable parser continuation for cells
    spanning chunk boundaries (/root/reference/siphon/src/Siphon.hs:612-616)
    — there the chunking is the CSV transport's, here it is the fragment
    blocks'.
    """
    pending: dict[int, bytes] = {}
    nfrag = kind = typ = None
    nxt = 0
    for buf in frames:
        i, n, payload, k, t = fragment_chunk(buf)
        if nfrag is None:
            nfrag, kind, typ = n, k, t
            if meta_out is not None:
                meta_out.update({"k": kind, "t": typ, "n": nfrag})
        elif (n, k, t) != (nfrag, kind, typ):
            raise BlockError("inconsistent fragment set (mixed cells?)")
        if i < nxt or i in pending:
            raise BlockError(f"duplicate cell fragment {i}/{nfrag}")
        if i >= nfrag:
            # would sit in `pending` forever and the nxt==nfrag completeness
            # check would still pass — reject corrupt indexes on arrival
            raise BlockError(f"cell fragment index {i} out of range "
                             f"(set has {nfrag} fragments)")
        pending[i] = payload
        while nxt in pending:
            yield pending.pop(nxt)
            nxt += 1
    # every index is checked < nfrag on arrival, so a fragment still
    # pending here sits above a gap
    if nfrag is None or nxt != nfrag:
        missing = sorted(set(range(nxt, nfrag or 0)) - set(pending))
        raise BlockError(f"incomplete cell fragment set: missing {missing}")


def fragment_chunk(buf) -> tuple[int, int, bytes, str, str]:
    """Decode ONE fragment block standalone → (frag_idx, n_frags, payload
    bytes, kind, arrow_type).  Per-fragment crc validated; post-transform
    inverted; no cross-fragment state (that is
    :func:`iter_cell_fragments`'s)."""
    _codec_id, header, payload = _open(buf)
    f = header.get("f")
    if f is None:
        raise BlockError("not a cell fragment (no 'f' in header)")
    return int(f[0]), int(f[1]), bytes(payload), header["k"], header["t"]


def decode_cell_fragments(frames) -> pa.Array:
    """Reassemble one cell from its fragment blocks (any order — fragments
    carry their index).  Validates completeness, duplicates, and per-fragment
    crc; returns a 1-row arrow array of the original type.  (Materializing
    form of :func:`iter_cell_fragments` — fine below the 2 GiB arrow scalar
    ceiling, use the iterator above it.)"""
    meta: dict = {}
    raw = b"".join(iter_cell_fragments(frames, meta_out=meta))
    atype = pa.type_for_alias(meta["t"])
    scalar = raw.decode("utf-8") if meta["k"] == "str" else raw
    return pa.array([scalar], type=atype)


def is_fragment(buf: bytes | memoryview) -> bool:
    _codec_id, header, _payload = _unframe(buf)
    return "f" in header


def block_info(buf: bytes | memoryview) -> dict:
    codec_id, header, payload = _unframe(buf)
    return {"codec": BY_ID[codec_id].name, "codec_id": codec_id,
            "payload_bytes": len(payload), **header}


def strip_header(buf: bytes | memoryview) -> tuple[dict, bytes]:
    """Headless mode: split a block into (manifest header dict, bare frame)."""
    codec_id, header, payload = _unframe(buf)
    return ({"codec_id": codec_id, **header},
            bytes(payload))


def reattach_header(manifest: dict, payload: bytes) -> bytes:
    m = dict(manifest)
    codec_id = m.pop("codec_id")
    return _frame(codec_id, m, payload)


def _check_post(post) -> None:
    if post is not None and post != "zlib":
        raise BlockError(f"unknown post-encode transform {post!r}")


def _seal(codec_id: int, header: dict, payload, post) -> bytes:
    """Frame one block: apply the ``post`` transform (already checked by
    the caller), then record the crc of the payload as stored."""
    if post is not None:
        payload = zlib.compress(payload, 6)
        header["z"] = 1
    header["crc"] = zlib.crc32(payload)
    return _frame(codec_id, header, payload)


def _open(buf) -> tuple:
    """Unframe one block, check its required crc and invert the ``post``
    transform: ``(codec_id, header, payload)``."""
    codec_id, header, payload = _unframe(buf)
    if zlib.crc32(payload) != header.get("crc"):
        what = "crc mismatch" if "crc" in header else "no crc"
        where = (f"cell fragment {header['f']}" if "f" in header
                 else f"block (codec_id={codec_id})")
        raise BlockError(f"{what} in {where}")
    if header.get("z"):
        payload = memoryview(zlib.decompress(payload))
    return codec_id, header, payload


def _frame(codec_id: int, header: dict, payload: bytes) -> bytes:
    hj = json.dumps(header, separators=(",", ":"), sort_keys=True).encode()
    return b"".join([MAGIC, bytes([VERSION, codec_id]),
                     len(hj).to_bytes(4, "little"), hj, payload])


def _unframe(buf: bytes | memoryview):
    buf = memoryview(buf)
    if len(buf) < 10 or bytes(buf[:4]) != MAGIC:
        raise BlockError("bad block magic or truncated frame")
    if buf[4] != VERSION:
        raise BlockError(f"unsupported block version {buf[4]}")
    codec_id = buf[5]
    hlen = int.from_bytes(buf[6:10], "little")
    if 10 + hlen > len(buf):
        raise BlockError("truncated block header")
    try:
        header = json.loads(bytes(buf[10:10 + hlen]))
    except ValueError as e:
        raise BlockError(f"corrupt block header: {e}") from e
    return codec_id, header, buf[10 + hlen:]
