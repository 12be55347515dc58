"""An independent reference decoder for the decode equivalence tests: a
small driver-side pyarrow reader of a warehouse's blocks files.

It shares nothing with the engine's read path but the block codecs: it
reads each ``blocks/bucket=N/part-0.parquet`` whole, prunes stripes with
its own zone-overlap rule, decodes with ``blocks.decode_block`` and
``blocks.decode_cell_fragments``, and checks row counts itself."""

import glob
import json
import os

import pyarrow.parquet as pq

from colonnade_spark import blocks


def _overlap(mn, mx, lo, hi) -> bool:
    # no min = no statistics, never overlaps; a null string max means
    # "unbounded above"
    return mn is not None and mn <= hi and (mx is None or mx >= lo)


def _live_stripes(meta: dict, zones) -> set:
    live = set(meta["stripe"])
    for zcol, lo, hi in zones:
        stat = "v"
        if isinstance(lo, (str, bytes)):
            stat = "s"
            lo, hi = (b.encode() if isinstance(b, str) else b for b in (lo, hi))
        live &= {s for s, c, mn, mx in zip(meta["stripe"], meta["column"],
                                           meta[stat + "min"], meta[stat + "max"])
                 if c == zcol and _overlap(mn, mx, lo, hi)}
    return live


def reference_rows(warehouse: str, columns=None, zone_filter=None) -> list:
    """Every row of the live stripes as a tuple in ``columns`` order (all
    planned columns by default); ``zone_filter`` is a ``(col, lo, hi)``
    range or a list of them, ANDed."""
    with open(os.path.join(warehouse, "manifest.json")) as f:
        manifest = json.load(f)
    cols = list(columns or [s["name"] for s in manifest["plan"]["specs"]])
    zones = ([] if zone_filter is None else [zone_filter]
             if isinstance(zone_filter, tuple) else list(zone_filter))
    rows = []
    for path in glob.glob(os.path.join(warehouse, "blocks", "bucket=*",
                                       "part-0.parquet")):
        meta = pq.read_table(path).to_pydict()
        live = _live_stripes(meta, zones)
        stripes: dict = {}
        for s, c, frag, n, blob in zip(meta["stripe"], meta["column"],
                                       meta["frag"], meta["n_rows"],
                                       meta["block"]):
            if s in live and c in cols:
                stripes.setdefault(s, {}).setdefault(c, []).append((frag, n, blob))
        assert set(stripes) == live, (path, sorted(live - set(stripes)))
        for s, by_col in stripes.items():
            assert set(by_col) == set(cols), (path, s, sorted(by_col))
            values = {}
            for c, blks in by_col.items():
                if all(frag >= 0 for frag, _, _ in blks):
                    arr = blocks.decode_cell_fragments([b for _, _, b in blks])
                else:
                    assert len(blks) == 1, (path, s, c, "duplicate blocks")
                    _, n, blob = blks[0]
                    arr = blocks.decode_block(blob)
                    assert len(arr) == n, (path, s, c, len(arr), n)
                values[c] = arr.to_pylist()
            assert len({len(v) for v in values.values()}) == 1, (path, s)
            rows += zip(*(values[c] for c in cols))
    return rows
