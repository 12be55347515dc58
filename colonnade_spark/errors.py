"""Decode-side validation with positioned, *aggregated* errors.

The reference returns errors as values with coordinates, never throwing:
``SiphonError { row, cause }`` with missing/duplicate/size/parse causes
(/root/reference/siphon/src/Siphon/Types.hs:35-59), and accumulates every
error across columns via the ``EitherWrap`` applicative rather than
short-circuiting (/root/reference/siphon/src/Siphon.hs:546-555).

Here the unit of decode is a block, so errors carry (bucket, stripe, column)
coordinates; a validation pass over a warehouse reports ALL of: missing
column blocks, duplicate column blocks, unknown codec ids, CRC mismatches,
row-count disagreements between sibling blocks (the RowErrorSize analog),
and decode failures — as a DataFrame, never an exception.
"""

from __future__ import annotations

import os

import pyarrow as pa

from . import blocks as B

ERROR_SCHEMA = ("bucket int, stripe long, column string, kind string, "
                "detail string")

KIND_MISSING = "missing_column"
KIND_DUPLICATE = "duplicate_column"
KIND_CRC = "crc_mismatch"
KIND_CODEC = "unknown_codec"
KIND_SIZE = "row_count_mismatch"
KIND_DECODE = "decode_failure"


def resolve_stripe(present: list, expected: list) -> list:
    """The ``headedToIndexed`` analog (Siphon.hs:252-278): match expected
    column names against the blocks present in one stripe.  Order-insensitive,
    extra columns ignored, missing and duplicated names ALL reported."""
    errs = []
    seen: dict = {}
    for c in present:
        seen[c] = seen.get(c, 0) + 1
    for c, k in seen.items():
        if k > 1 and c in expected:
            errs.append((KIND_DUPLICATE, c, f"{k} blocks for column"))
    for c in expected:
        if c not in seen:
            errs.append((KIND_MISSING, c, "no block for column"))
    return errs


def _failure(e: Exception) -> tuple:
    """(kind, detail) of a block that failed to decode."""
    if not isinstance(e, B.BlockError):        # decode bug
        return KIND_DECODE, repr(e)
    msg = str(e)
    return (KIND_CRC if "crc" in msg
            else KIND_CODEC if "codec id" in msg else KIND_DECODE), msg


def _check_stripe(names, blobs, n_rows, frags, expected_cols) -> list:
    """Every error of one stripe's blocks, as ``(column, kind, detail)``;
    a decode failure is reported with its position, never thrown."""
    errs = []
    # fragment rows (frag >= 0) are one LOGICAL block per column: a
    # multi-block cell (blocks.encode_cell_fragments) is not a duplicate
    fragged: dict = {}
    for name, blob, f in zip(names, blobs, frags):
        if f >= 0:
            fragged.setdefault(name, []).append(blob)
    present = [c for c, f in zip(names, frags) if f < 0] + sorted(fragged)
    for kind, col, detail in resolve_stripe(present, expected_cols):
        errs.append((col, kind, detail))
    n_by_col = {}
    for name, blob, n, f in zip(names, blobs, n_rows, frags):
        if f >= 0:
            continue
        try:
            arr = B.decode_block(blob)
            n_by_col[name] = len(arr)
            if len(arr) != n:
                errs.append((name, KIND_SIZE, f"block decodes to {len(arr)} "
                                              f"rows, catalog says {n}"))
        except Exception as e:
            errs.append((name, *_failure(e)))
    for col, frames in fragged.items():
        try:
            # STREAMING drain, not decode_cell_fragments: validation needs
            # per-fragment crc + completeness, not the value — materializing
            # would cost ~4x the cell size on the very multi-GiB cells the
            # fragment path exists for
            for _chunk in B.iter_cell_fragments(frames):
                pass
            n_by_col[col] = 1          # a fragmented cell is one row
        except Exception as e:
            errs.append((col, *_failure(e)))
    if len(set(n_by_col.values())) > 1:
        errs.append(("*", KIND_SIZE, f"sibling blocks disagree on rows: {n_by_col}"))
    return errs


def validate_blocks(spark, warehouse: str, expected_cols: list | None = None):
    """Full-warehouse validation → DataFrame(bucket, stripe, column, kind,
    detail); empty result = sound warehouse.

    Reads ``blocks/`` like ``engine.decode_table``: one driver listing (a
    missing manifest or bucket directory raises at call time, no Spark job
    runs) and one ``mapInArrow`` over file indices.  Everything found
    inside a file is a row, never an exception: :func:`_check_stripe` for
    each stripe the reader yields, and a file the reader cannot get
    through (unreadable, no ``frag`` column, a stripe split in two) as one
    ``decode_failure`` row at stripe -1."""
    from .engine import _bucket_files, _map_files, _read_stripes, read_manifest

    manifest = read_manifest(warehouse)
    if expected_cols is None:
        expected_cols = [s["name"] for s in manifest["plan"]["specs"]]
    files = _bucket_files(warehouse, manifest)
    out_schema = pa.schema([("bucket", pa.int32()), ("stripe", pa.int64()),
                            ("column", pa.string()), ("kind", pa.string()),
                            ("detail", pa.string())])

    def check_file(path):
        bucket = int(os.path.basename(os.path.dirname(path))[len("bucket="):])
        rows = []
        try:
            for stripe, *group in _read_stripes(path, expected_cols, [],
                                                len(expected_cols)):
                rows += [(bucket, stripe, col, kind, str(detail)[:200])
                         for col, kind, detail
                         in _check_stripe(*group, expected_cols)]
        except B.BlockError as e:
            rows.append((bucket, -1, None, KIND_DECODE, str(e)[:200]))
        if rows:
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(zip(*rows), out_schema)],
                schema=out_schema)

    return _map_files(spark, files, check_file, ERROR_SCHEMA)


def humanize_errors(err_df, limit: int = 50) -> str:
    """The ``humanizeSiphonError`` analog (Siphon.hs:474-544)."""
    rows = err_df.limit(limit).collect()
    if not rows:
        return "no errors"
    out = []
    for r in rows:
        out.append(f"bucket {r['bucket']} stripe {r['stripe']} "
                   f"column {r['column']}: {r['kind']} — {r['detail']}")
    return "\n".join(out)
