"""Bucket assignment against the reference salt layout: the engine sizes
partition values from per-task partial sums added by key, and broadcasts
only the fanned-out values; the reference (``reference_salt``) sizes them
with a ``groupBy`` and broadcasts every value's size.  Every row must land
in the same ``__bucket``, including null partition values, the
exact-integer ceil boundary, many fanned-out values and an empty input."""

import pytest
from conftest import run_jobs
from reference_salt import assign_buckets_reference

from colonnade_spark import engine
from colonnade_spark.plan import corpus_plan

DDL = "repo string, path string, commit string, lang string, content string"


def _skew_rows():
    """The skew fixture of test_engine: one repo with ~99% of the bytes."""
    rows = [("megacorp/monorepo", f"src/f{i}.py", f"c{i}", "py", "x" * 4000)
            for i in range(800)]
    return rows + [(f"tiny/r{j}", "a.py", f"t{j}", "py", "small file")
                   for j in range(40)]


@pytest.fixture(params=["driver_merge", "group_by"])
def sizing(request, monkeypatch):
    """Run a test on both sizing paths of ``engine._salt_fanouts``: the
    driver merge of per-task partial sums (forced even for an input of
    unknown size) and the ``groupBy`` of a large input."""
    monkeypatch.setattr(engine, "_DRIVER_MERGE_BYTES",
                        (1 << 63) - 1 if request.param == "driver_merge" else 0)
    return request.param


def _layout(df):
    return sorted(((r["repo"], r["path"], r["commit"], r["__bucket"])
                   for r in df.select("repo", "path", "commit", "__bucket").collect()),
                  key=lambda t: (t[0] is None, t[0] or "", t[1], t[2]))


def _assert_same_layout(spark, rows, n_buckets, **kw):
    plan = corpus_plan()
    df = plan.project(spark.createDataFrame(rows, DDL))
    got = _layout(engine.assign_buckets(df, plan, n_buckets, **kw))
    want = _layout(assign_buckets_reference(df, plan, n_buckets, **kw))
    assert got == want
    return got


@pytest.mark.parametrize("fraction", [1.0, 0.5, 0.05])
def test_skew_fixture_matches_reference(spark, sizing, fraction):
    got = _assert_same_layout(spark, _skew_rows(), 8,
                              target_salt_bytes=256 << 10,
                              salt_sample_fraction=fraction)
    giant = {b for repo, _, _, b in got if repo == "megacorp/monorepo"}
    assert len(giant) >= 3, giant        # the salt really fans the repo out


@pytest.mark.parametrize("with_giant", [True, False])
def test_null_partition_values_match_reference(spark, sizing, with_giant):
    """Null repos are big enough to earn a fan-out if they were sized, but
    a null never matches the salt map, so they keep fan-out 1."""
    rows = [(None, f"n{i}.py", f"n{i}", "c", "y" * 3000) for i in range(200)]
    rows += _skew_rows() if with_giant else _skew_rows()[800:]
    got = _assert_same_layout(spark, rows, 8, target_salt_bytes=256 << 10)
    assert len({b for repo, _, _, b in got if repo is None}) == 1


def test_exact_ceil_boundary_matches_reference(spark, sizing):
    """Weights that make ``sum * scale / target`` an exact integer: 2000
    chars over a 1000 target is fan-out 2, 2001 is 3, 1000 is 1."""
    def repo_rows(repo, n, extra=0):
        # 1 + 2 + 2 + 2 + 193 = 200 chars per row
        return [(repo, f"p{i}", f"c{i}", "py", "a" * (193 + (extra if i == 0 else 0)))
                for i in range(n)]

    rows = repo_rows("x", 10) + repo_rows("y", 10, extra=1) + repo_rows("z", 5)
    got = _assert_same_layout(spark, rows, 64, target_salt_bytes=1000)
    spread = {r: len({b for repo, _, _, b in got if repo == r}) for r in "xyz"}
    assert spread["x"] <= 2 and spread["y"] <= 3 and spread["z"] == 1, spread


@pytest.mark.parametrize("fraction", [1.0, 0.5])
def test_many_fanned_out_values_match_reference(spark, sizing, fraction):
    """Hundreds of repos above a small target, with nulls, over several
    input partitions: the hash-looked-up salt table gives every row the
    reference bucket."""
    rows = [(f"r{j % 300}", f"p{j}", f"c{j}", "py", "x" * (50 + j % 70))
            for j in range(3000)]
    rows += [(None, f"n{i}.py", f"n{i}", "c", "y" * 300) for i in range(50)]
    plan = corpus_plan()
    df = plan.project(spark.createDataFrame(rows, DDL))
    got = _layout(engine.assign_buckets(df, plan, 16, target_salt_bytes=300,
                                        salt_sample_fraction=fraction))
    want = _layout(assign_buckets_reference(df, plan, 16, target_salt_bytes=300,
                                            salt_sample_fraction=fraction))
    assert got == want
    assert len({(repo, b) for repo, _, _, b in got}) > 900   # ~300 fanned out


def test_empty_input_matches_reference(spark, sizing):
    assert _assert_same_layout(spark, [], 8, target_salt_bytes=256 << 10) == []


@pytest.mark.parametrize("merge_bytes, n_jobs", [(None, 1), (0, 2)])
def test_assign_buckets_job_count(spark, tmp_path, monkeypatch, merge_bytes, n_jobs):
    """Salt sizing runs at call time: one job for a small input (its size
    estimate comes from the parquet files), two when it is summed by a
    ``groupBy`` (under AQE the aggregate's shuffle map stage is its own
    job).  The bucketed DataFrame runs no further sizing job."""
    path = str(tmp_path / "skew")
    spark.createDataFrame(_skew_rows(), DDL).write.parquet(path)
    if merge_bytes is not None:
        monkeypatch.setattr(engine, "_DRIVER_MERGE_BYTES", merge_bytes)
    plan = corpus_plan()
    df = plan.project(spark.read.parquet(path))
    kw = dict(target_salt_bytes=256 << 10, salt_sample_fraction=0.05)
    _, jobs = run_jobs(spark, lambda: engine.assign_buckets(df, plan, 8, **kw))
    assert len(jobs) == n_jobs
