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
and decode failures — as a DataFrame, never an exception.  One function,
:func:`decode_stripe`, decides whether a stripe is sound: decode raises its
first problem, validation reports them all.
"""

from __future__ import annotations

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


def decode_stripe(cols, names, blobs, n_rows, frags, *,
                  cells: bool = True) -> tuple:
    """The one check of whether a stripe is sound, for decode
    (``engine._assemble_stripe``) and validation (:func:`validate_blocks`)
    alike.  Decodes each block of one stripe once and returns ``(arrays,
    problems)``: ``arrays`` maps each column to its decoded array, and
    ``problems`` lists every ``(column, kind, detail)``:

    * a row with a null ``frag``;
    * a block that fails to decode (crc, codec id, anything else), or
      decodes to other than its recorded row count;
    * a fragment set :func:`blocks.iter_cell_fragments` refuses (missing,
      duplicate, out-of-range or corrupt fragments);
    * a missing or duplicate column (:func:`resolve_stripe`; the fragment
      blocks of a column count as one block, so whole and fragment blocks
      of one column are a duplicate);
    * sibling columns that disagree on rows (a fragmented cell is one row).

    With ``cells`` each fragmented cell is joined into a one-row array;
    without, its chunks only stream through, so a cell past arrow's 2 GiB
    scalar limit is checked without ever being built."""
    problems, arrays, present, sets = [], {}, [], {}
    for name, blob, n, f in zip(names, blobs, n_rows, frags):
        if name not in cols:             # extra columns are ignored
            continue
        if f is not None and f >= 0:
            sets.setdefault(name, []).append(blob)
            continue
        present.append(name)
        if f is None:
            problems.append((name, KIND_DECODE, "block row has a null frag"))
            continue
        try:
            arrays[name] = arr = B.decode_block(blob)
        except Exception as e:
            problems.append((name, *_failure(e)))
            continue
        if len(arr) != n:
            problems.append((name, KIND_SIZE, f"block decodes to {len(arr)} "
                                              f"rows, catalog says {n}"))
    rows = {c: len(a) for c, a in arrays.items()}
    for name, frames in sets.items():
        present.append(name)
        rows[name] = 1
        try:
            if cells:
                arrays[name] = B.decode_cell_fragments(frames)
            else:
                for _chunk in B.iter_cell_fragments(frames):
                    pass
        except Exception as e:
            problems.append((name, *_failure(e)))
    problems += [(c, kind, d) for kind, c, d in resolve_stripe(present, cols)]
    if len(set(rows.values())) > 1:
        problems.append(("*", KIND_SIZE, f"sibling blocks disagree on rows: {rows}"))
    return arrays, problems


def validate_blocks(spark, warehouse: str, expected_cols: list | None = None):
    """Full-warehouse validation → DataFrame(bucket, stripe, column, kind,
    detail); empty result = sound warehouse.

    Reads ``blocks/`` like ``engine.decode_table``: one driver listing (a
    missing manifest or bucket directory raises at call time, no Spark job
    runs) and one ``mapInArrow`` over file indices.  Everything found
    inside a file is a row, never an exception: every problem
    :func:`decode_stripe` finds in each stripe the reader yields, and a
    file the reader cannot get through (unreadable, no ``frag`` column,
    stripe ids not ``0..n-1``, a stripe with no block left) as one
    ``decode_failure`` row at stripe -1.
    A stripe whose blocks sit in two runs of the file is read whole, like
    any other."""
    from .engine import _bucket_files, _map_files, _read_stripes, read_manifest

    manifest = read_manifest(warehouse)
    if expected_cols is None:
        expected_cols = [s["name"] for s in manifest["plan"]["specs"]]
    files = _bucket_files(warehouse, manifest)
    out_schema = pa.schema([("bucket", pa.int32()), ("stripe", pa.int64()),
                            ("column", pa.string()), ("kind", pa.string()),
                            ("detail", pa.string())])

    def check_file(bucket, path):
        rows = []
        try:
            for stripe, *group in _read_stripes(path, expected_cols, [],
                                                len(expected_cols)):
                _, problems = decode_stripe(expected_cols, *group, cells=False)
                rows += [(bucket, stripe, col, kind, str(detail)[:200])
                         for col, kind, detail in problems]
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
