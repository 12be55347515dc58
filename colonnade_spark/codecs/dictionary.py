"""Dictionary codec: factorize values, bit-pack the codes, sub-encode the
dictionary with the best non-recursive codec.

Generalizes the reference's low-cardinality columns fixture (locale/country
columns in /root/reference/geolite-csv/src/Geolite/Types.hs:15-29) into a
real dictionary encoding per BASELINE.json:north_rule.  Factorization uses
pyarrow ``dictionary_encode`` (first-occurrence order → deterministic blocks,
required for checkpoint/resume byte-identity).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .base import (KIND_INT, KIND_STR, Codec, ColumnData, ColumnStats,
                   EncodeContext, ensure_dict, from_arrow)
from .bitpack_util import pack_uints, unpack_uints, width_for


def _dict_values_bytes(stats: ColumnStats) -> int:
    dv = stats.dict_values
    if dv is None or len(dv) == 0:
        return 0
    if stats.kind == KIND_STR:
        return int(pa.compute.sum(pa.compute.binary_length(dv)).as_py() or 0) + 4 * (len(dv) + 1)
    return 8 * len(dv)


class DictCodec(Codec):
    name = "dict"
    codec_id = 1

    def applicable(self, col: ColumnData, stats: ColumnStats) -> bool:
        return col.kind in (KIND_STR, KIND_INT) and stats.n_unique > 0

    def estimate(self, col: ColumnData, stats: ColumnStats, ctx: EncodeContext) -> int:
        w = width_for(max(stats.n_unique - 1, 0))
        if stats.dict_values is not None:
            dv = _dict_values_bytes(stats)
        else:  # estimate dict payload from average value size
            avg = stats.total_bytes / max(col.n, 1)
            dv = int(stats.n_unique * avg) + 4 * (stats.n_unique + 1)
        return dv + (col.n * w + 7) // 8 + 16

    def encode(self, col: ColumnData, stats: ColumnStats, ctx: EncodeContext) -> tuple[dict, bytes]:
        from .. import blocks  # lazy: avoid circular import

        ensure_dict(stats)
        codes = stats.dict_codes
        w = width_for(max(stats.n_unique - 1, 0))
        sub = blocks.encode_block(stats.dict_values, codec="auto",
                                  exclude=("dict", "rle"))
        return {"w": w}, blocks.pack_nested(
            sub, pack_uints(codes.astype(np.uint64), w))

    def decode(self, payload: memoryview, params: dict, n: int, kind: str,
               arrow_type: str) -> ColumnData:
        from .. import blocks

        values, rest = blocks.open_nested(payload)
        codes = unpack_uints(rest, n, params["w"]).astype(np.int64)
        out = pa.compute.take(values, pa.array(codes))
        col, _ = from_arrow(out)
        col.arrow_type = arrow_type
        return col
