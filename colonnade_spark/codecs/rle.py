"""Run-length codec: change-point detection over factorized codes, run values
sub-encoded with the best non-RLE codec, run lengths bit-packed.

The reference's closest ancestor is the group-adjacent renderer ``sectioned``
(/root/reference/lucid-colonnade/src/Lucid/Colonnade.hs:269-292) — runs of
equal adjacent values; generalized here into a storage codec
(BASELINE.json:north_rule).  Change points via vectorized ``np.diff``-style
comparison on dictionary codes (SURVEY.md §7 step 3).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .base import (KIND_INT, KIND_STR, Codec, ColumnData, ColumnStats,
                   EncodeContext, ensure_dict, from_arrow)
from .bitpack_util import pack_uints, unpack_uints, width_for


class RleCodec(Codec):
    name = "rle"
    codec_id = 2

    def applicable(self, col: ColumnData, stats: ColumnStats) -> bool:
        # capability only — "is it worth it" lives in estimate()
        return col.kind in (KIND_STR, KIND_INT) and col.n > 0

    def estimate(self, col: ColumnData, stats: ColumnStats, ctx: EncodeContext) -> int:
        r = stats.run_count
        avg_val = (stats.total_bytes / max(col.n, 1)) if col.kind == KIND_STR else 8
        lw = width_for(col.n)
        return int(r * avg_val + 4 * r + (r * lw + 7) // 8 + 16)

    def encode(self, col: ColumnData, stats: ColumnStats, ctx: EncodeContext) -> tuple[dict, bytes]:
        from .. import blocks

        ensure_dict(stats)
        codes = stats.dict_codes
        change = np.flatnonzero(codes[1:] != codes[:-1])
        starts = np.concatenate(([0], change + 1))
        run_lens = np.diff(np.concatenate((starts, [col.n])))
        run_vals = pa.compute.take(stats.dict_values, pa.array(codes[starts]))
        sub = blocks.encode_block(run_vals, codec="auto", exclude=("rle",))
        lw = width_for(int(run_lens.max()))
        return {"r": len(starts), "lw": lw}, blocks.pack_nested(
            sub, pack_uints(run_lens.astype(np.uint64), lw))

    def decode(self, payload: memoryview, params: dict, n: int, kind: str,
               arrow_type: str) -> ColumnData:
        from .. import blocks

        values, rest = blocks.open_nested(payload)
        r = params["r"]
        run_lens = unpack_uints(rest, r, params["lw"]).astype(np.int64)
        idx = np.repeat(np.arange(r, dtype=np.int64), run_lens)
        out = pa.compute.take(values, pa.array(idx))
        col, _ = from_arrow(out)
        col.arrow_type = arrow_type
        return col
