"""Cornice (hierarchical headers), ASCII renderers, delta codec, and the
aggregated-error validation model (SURVEY.md §2.2, §2.6, §1 error model)."""

import glob
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from colonnade_spark.blocks import block_info, decode_block, encode_block
from colonnade_spark.cornice import cap, recap
from colonnade_spark.plan import plan


def _plan_ab():
    return plan().headed("a").headed("b"), plan().headed("c")


def test_cap_recap_discard_endow():
    pa_, pc = _plan_ab()
    cor = recap("top", cap("left", pa_), cap("right", pc))
    flat = cor.discard()
    assert flat.column_names == ["a", "b", "c"]
    q = cor.endow()
    assert q.column_names == ["top.left.a", "top.left.b", "top.right.c"]


def test_annotate_colspans_and_size():
    pa_, pc = _plan_ab()
    cor = recap("top", cap("left", pa_), cap("right", pc))
    ann = cor.annotate()
    assert ann.size() == 3
    assert [s for _, s in ann.uncap()] == [1, 1, 1]
    rows = ann.header_rows()
    assert rows[0] == [("top", 3)]
    assert rows[1] == [("left", 2), ("right", 1)]


def test_annotate_finely_and_ascii(spark):
    from colonnade_spark.render import ascii_capped, ascii_table

    df = spark.createDataFrame(
        [("x", 1, "long-ish value"), ("yy", 22, "v")], "a string, b int, c string")
    pa_ = plan().headed("a").headed("b")
    pc = plan().headed("c")
    cor = recap("grp", cap("ab", pa_), cap("c", pc))
    ann = cor.annotate_finely(df)
    assert ann.size() >= 4  # data-driven widths
    txt = ascii_table(df)
    assert "long-ish value" in txt and txt.startswith("| a")
    capped = ascii_capped(cor, df)
    assert "grp" in capped and "ab" in capped


# ---------- delta codec ----------

@pytest.mark.parametrize("vals", [
    np.arange(5000, dtype=np.int64) + 10**15,
    np.array([0, 2**63 - 1, -(2**63), 7], dtype=np.int64),
    np.cumsum(np.random.default_rng(1).integers(-3, 4, 3000)).astype(np.int64),
])
def test_delta_roundtrip(vals):
    arr = pa.array(vals, type=pa.int64())
    out = decode_block(encode_block(arr, codec="delta"))
    assert out.equals(arr)


def test_delta_wins_on_sorted():
    arr = pa.array(np.arange(50000, dtype=np.int64) * 7 + 123456789)
    assert block_info(encode_block(arr))["codec"] == "delta"


# ---------- error model ----------

@pytest.fixture(scope="module")
def small_wh(spark, tmp_path_factory):
    from colonnade_spark import engine
    from colonnade_spark.corpus import generate_corpus
    from colonnade_spark.plan import corpus_plan

    wh = str(tmp_path_factory.mktemp("errwh") / "wh")
    df = generate_corpus(spark, 150, seed=42)
    engine.encode_table(spark, df, corpus_plan(), wh, n_buckets=2,
                        input_token="err")
    return wh


def test_validate_clean_warehouse(spark, small_wh):
    from colonnade_spark.errors import validate_blocks

    assert validate_blocks(spark, small_wh).count() == 0


def test_validate_reports_all_errors(spark, small_wh, tmp_path):
    """Corrupt one block, drop another column's block, duplicate a third —
    ALL reported with coordinates, nothing thrown (EitherWrap semantics)."""
    import shutil

    from colonnade_spark.errors import humanize_errors, validate_blocks

    wh = str(tmp_path / "wh")
    shutil.copytree(small_wh, wh)
    f = sorted(glob.glob(os.path.join(wh, "blocks", "bucket=*", "*.parquet")))[0]
    t = pq.read_table(f).to_pydict()
    cols = t["column"]
    ci = cols.index("content")
    li = cols.index("lang")
    pi = cols.index("path")
    blk = bytearray(t["block"][ci])
    blk[-1] ^= 0xFF                      # CRC corruption
    t["block"][ci] = bytes(blk)
    for k in t:                          # duplicate the path block row
        t[k] = t[k] + [t[k][pi]]
    keep = [i for i in range(len(t["column"])) if i != li]  # drop lang block
    t = {k: [v[i] for i in keep] for k, v in t.items()}
    orig_schema = pq.read_table(f).schema
    pq.write_table(pa.Table.from_pydict(t, schema=orig_schema), f,
                   compression="NONE")

    errs = validate_blocks(spark, wh)
    kinds = {(r["column"], r["kind"]) for r in errs.collect()}
    assert ("content", "crc_mismatch") in kinds
    assert ("lang", "missing_column") in kinds
    assert ("path", "duplicate_column") in kinds
    text = humanize_errors(errs)
    assert "crc_mismatch" in text and "bucket" in text


def test_validate_truncated_file_is_one_row(spark, small_wh, tmp_path):
    """A truncated blocks file is reported, not thrown: one decode_failure
    row at stripe -1 for that bucket; the other bucket stays clean."""
    import shutil

    from colonnade_spark.errors import validate_blocks

    wh = str(tmp_path / "wh")
    shutil.copytree(small_wh, wh)
    f = sorted(glob.glob(os.path.join(wh, "blocks", "bucket=*", "*.parquet")))[-1]
    os.truncate(f, os.path.getsize(f) // 2)
    bucket = int(f.split("bucket=")[1].split(os.sep)[0])
    rows = validate_blocks(spark, wh).collect()
    assert [(r["bucket"], r["stripe"], r["kind"]) for r in rows] == [
        (bucket, -1, "decode_failure")]
    assert "unreadable blocks file" in rows[0]["detail"]


def test_resolve_stripe_permuted_extra():
    """Order-insensitive, extra ignored (headedToIndexed, Siphon.hs:252-278;
    permuted-header test shape from siphon/test/Test.hs:123-138)."""
    from colonnade_spark.errors import resolve_stripe

    assert resolve_stripe(["c", "a", "b", "zz"], ["a", "b", "c"]) == []
    errs = resolve_stripe(["a", "a", "c"], ["a", "b", "c"])
    kinds = {(k, c) for k, c, _ in errs}
    assert ("duplicate_column", "a") in kinds
    assert ("missing_column", "b") in kinds


def test_empty_cornice_is_monoid_identity():
    """ToEmptyCornice (Encode.hs:583-590, 623-628): mempty at each tier is
    the identity for the cornice monoid on every derived surface."""
    from colonnade_spark.cornice import cap, empty_cornice, recap
    from colonnade_spark.plan import plan

    x = recap("G", cap("L", plan().headed("a").headed("b")))
    for mempty in (empty_cornice(0), empty_cornice(1), empty_cornice(3)):
        for combined in (mempty + x, x + mempty):
            assert combined.discard().column_names == x.discard().column_names
            assert combined.endow().column_names == x.endow().column_names
            assert (combined.annotate().header_rows()
                    == x.annotate().header_rows())
            assert combined.annotate().size() == x.annotate().size()
    # mempty + mempty is still an identity (associativity smoke)
    m2 = empty_cornice(1) + empty_cornice(1)
    assert (m2 + x).discard().column_names == x.discard().column_names
    assert empty_cornice(0).discard().column_names == []


def test_compact_html_printers_golden():
    """printCompactHtml / printVeryCompactHtml (Blaze/Colonnade.hs:436-531)
    including the reference's self-disclaimed quirks (error text AS the
    return value on malformed input)."""
    from colonnade_spark.html import (compact_html,
                                      remove_whitespace_after_tag,
                                      very_compact_html)

    html = ("<table>\n    <thead>\n        <tr>\n            <th>\n"
            "                Name\n            </th>\n        </tr>\n"
            "    </thead>\n</table>")
    # td/th contents pulled onto one line; tr structure preserved
    c = compact_html(html)
    assert "<th>Name</th>" in c
    assert "\n" in c  # tr-level whitespace kept by the plain variant
    v = very_compact_html(html)
    assert "<tr><th>Name</th></tr>" in v.replace("\n", "").replace(" ", "") \
        or "<tr><th>Name</th></tr>" in v
    # the reference quirk: malformed input returns the ERROR STRING
    assert remove_whitespace_after_tag("td", "</td>") == \
        "closing tag without any opening tag"
    assert remove_whitespace_after_tag("td", "<<") == "unexpected <"
    # mismatched nesting is loud, matching the Haskell message format
    out = remove_whitespace_after_tag("td", "<tr><td></tr>")
    assert out.startswith("closing tag <tr> did not match opening tag <td>")


def test_uncap_keeps_per_column_sizes(spark):
    """Regression (review): uncap() averaged a plan's total width across
    its columns; the reference keeps per-column Sized values
    (Encode.hs:288-299) — a zero-width column must report 0 even next to
    a wide sibling."""
    from colonnade_spark.cornice import cap
    from colonnade_spark.plan import plan

    df = spark.createDataFrame([("0123456789", "")] * 3,
                               "a string, b string")
    cor = cap("G", plan().headed("a").headed("b"))
    sizes = dict(cor.annotate_finely(df).uncap())
    assert sizes == {"a": 10, "b": 0}


def test_annotate_finely_headless_siblings_get_own_widths(spark):
    """Regression (review): sibling headless plans both name their column
    _c0; the width lookup was name-keyed against the ORIGINAL names, so
    group B silently got group A's width.  Mapping is positional now."""
    from colonnade_spark.cornice import cap
    from colonnade_spark.plan import plan

    df = spark.createDataFrame([("aaaa", "bbbbbbbb")] * 2,
                               "x string, y string")
    cor = cap("A", plan().headless_col("x")) + cap("B", plan().headless_col("y"))
    ann = cor.annotate_finely(df)
    spans = {lbl: n for lbl, n in ann.header_rows()[0]}
    assert spans == {"A": 4, "B": 8}


def test_html_capped_hides_groups_and_shrinks_spans(spark):
    """Regression (review): hiding a column via widths must shrink its
    ancestors' tier colspans, and a group whose columns are ALL hidden
    renders display:none itself (setColspanOrHide keys off the annotated
    size, Lucid/Colonnade.hs:228-231)."""
    from colonnade_spark.cornice import cap, recap
    from colonnade_spark.html import html_capped
    from colonnade_spark.plan import plan

    df = spark.createDataFrame([("1", "2", "3")] * 2,
                               "a string, b string, c string")
    cor = recap("top",
                cap("left", plan().headed("a").headed("b")),
                cap("right", plan().headed("c")))
    out = html_capped(cor, df, widths={"b": 0, "c": 0})
    assert '<th colspan="1">top</th>' in out          # 3 cols, 2 hidden
    assert '<th colspan="1">left</th>' in out         # b hidden
    assert '<th style="display:none;">right</th>' in out  # all hidden


# ---------- decode and validation share one stripe check ----------

@pytest.fixture(scope="module")
def frag_wh(spark, tmp_path_factory):
    """One bucket file with small-row stripes and two fragmented cells
    (a 1 KiB stripe cap; each big cell spans 5+ fragment blocks)."""
    from colonnade_spark import engine
    from colonnade_spark.plan import corpus_plan

    rows = [("r", f"p{i}", f"c{i}", "py", f"body {i}") for i in range(20)]
    rows += [("r", f"big{i}.txt", f"g{i}", "txt", f"zeile {i} ünï 日本 " * 400)
             for i in range(2)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    wh = str(tmp_path_factory.mktemp("fragwh") / "wh")
    engine.encode_table(spark, df, corpus_plan(), wh, n_buckets=1,
                        stripe_bytes=1 << 10, input_token="frag-err")
    return wh


def _row(t, column, frag=-1, stripe=None):
    """Index of the first blocks row of ``column`` with ``frag`` (in
    ``stripe``, when given)."""
    return next(i for i, (s, c, f) in enumerate(
        zip(t["stripe"], t["column"], t["frag"]))
        if c == column and f == frag and stripe in (None, s))


def _frag_stripe(t):
    return t["stripe"][_row(t, "content", frag=0)]


def _flip_payload(t):
    i = _row(t, "lang")
    blk = bytearray(t["block"][i])
    blk[-1] ^= 0xFF
    t["block"][i] = bytes(blk)
    return t["stripe"][i], "lang", "crc_mismatch"


def _drop_block(t):
    i = _row(t, "path")
    for k in t:
        del t[k][i]
    return t["stripe"][i], "path", "missing_column"


def _dup_block(t):
    i = _row(t, "path")
    for k in t:
        t[k].append(t[k][i])
    return t["stripe"][i], "path", "duplicate_column"


def _wrong_n_rows(t):
    i = _row(t, "path")
    t["n_rows"][i] += 1
    return t["stripe"][i], "path", "row_count_mismatch"


def _drop_fragment(which):
    def corrupt(t):
        s = _frag_stripe(t)
        n = sum(1 for x, c, f in zip(t["stripe"], t["column"], t["frag"])
                if x == s and c == "content" and f >= 0)
        i = _row(t, "content", frag={"middle": 1, "tail": n - 1}[which],
                 stripe=s)
        for k in t:
            del t[k][i]
        return s, "content", "decode_failure"
    return corrupt


def _null_frag(t):
    i = _row(t, "path")
    t["frag"][i] = None
    return t["stripe"][i], "path", "decode_failure"


def _whole_and_fragments(t):
    s = _frag_stripe(t)
    i = _row(t, "content", frag=0)
    for k in t:
        t[k].append(t[k][i])
    t["frag"][-1], t["n_rows"][-1] = -1, 1
    t["block"][-1] = encode_block(pa.array(["whole"]))
    return s, "content", "duplicate_column"


def _siblings_disagree(t):
    i = _row(t, "path")
    n = t["n_rows"][i]
    t["block"][i] = encode_block(pa.array([f"x{j}" for j in range(n + 1)]))
    t["n_rows"][i] = n + 1
    return t["stripe"][i], "*", "row_count_mismatch"


@pytest.mark.parametrize("corrupt", [
    None, _flip_payload, _drop_block, _dup_block, _wrong_n_rows,
    _drop_fragment("middle"), _drop_fragment("tail"), _null_frag,
    _whole_and_fragments, _siblings_disagree,
], ids=["sound", "flipped_payload_byte", "dropped_block", "duplicated_block",
        "wrong_n_rows", "dropped_middle_fragment", "dropped_tail_fragment",
        "null_frag", "whole_and_fragment_blocks", "siblings_disagree"])
def test_decode_raises_iff_validate_reports(spark, frag_wh, tmp_path, corrupt):
    """Decode and validation decide a stripe's soundness by the same rule:
    decode_table raises BlockError exactly when validate_blocks reports a
    row, and the decode error and the rows name the same column and kind
    (the rows in the corrupted bucket and stripe)."""
    import shutil

    from colonnade_spark import engine
    from colonnade_spark.errors import validate_blocks

    wh = str(tmp_path / "wh")
    shutil.copytree(frag_wh, wh)
    [f] = glob.glob(os.path.join(wh, "blocks", "bucket=*", "*.parquet"))
    schema = pq.read_schema(f)
    t = pq.read_table(f).to_pydict()
    assert max(t["frag"]) >= 4                  # a cell of 5+ fragments
    want = corrupt(t) if corrupt else None
    pq.write_table(pa.Table.from_pydict(t, schema=schema), f,
                   compression="NONE")

    rows = {(r["bucket"], r["stripe"], r["column"], r["kind"])
            for r in validate_blocks(spark, wh).collect()}
    if want is None:
        assert rows == set()
        assert engine.decode_table(spark, wh).count() == 22
        return
    stripe, column, kind = want
    assert (0, stripe, column, kind) in rows, rows
    with pytest.raises(Exception, match="BlockError: .*"
                       + re.escape(f"(column '{column}', {kind})")):
        engine.decode_table(spark, wh).collect()
