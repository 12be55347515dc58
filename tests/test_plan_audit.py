"""Catalyst physical-plan audits: the 100-TB checklist from SURVEY.md §4.2
asserted against actual `executedPlan` strings — filters pushed to the
parquet scan, columns pruned before the Python boundary, small sides
broadcast, aggregations partial+final, and no cartesian products anywhere
in the query surface."""

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_broadcasts_bounded_side_only_and_pushes_filters(spark):
    """The 100-TB discipline: exactly ONE explicit broadcast hint (customer,
    the genuinely bounded dimension).  The date-filtered orders side is
    fact-sized and must NOT carry a hint — whether lineitem⋈orders broadcasts
    is Catalyst/AQE's size-based call (correct at sandbox SFs, correct at
    100 TB)."""
    from colonnade_spark.queries import q_tpch_shipping_priority

    df = q_tpch_shipping_priority(spark, SF)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert logical.count("ResolvedHint") == 1, logical
    plan = _plan(df)
    # the customer join is broadcast; no cartesian anywhere
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "CartesianProduct" not in plan, plan
    # predicate pushdown reached the scans
    assert "PushedFilters: [IsNotNull(c_mktsegment)" in plan \
        or "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan


def test_scan_prunes_columns_before_python_boundary(spark):
    from colonnade_spark.queries import registry

    fn, _ = registry()["rt_fsst_text"]
    plan = _plan(fn(spark, SF))
    # only the selected columns reach the scan (lang/source/n_chars pruned)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_aggregations_are_partial_plus_final(spark):
    from colonnade_spark.queries import q_dedup_exact, q_events_window

    for q in (q_dedup_exact, q_events_window):
        plan = _plan(q(spark, SF))
        # map-side combine: two HashAggregate levels around the exchange
        assert plan.count("HashAggregate") >= 2, plan


def test_no_cartesian_anywhere_in_query_surface(spark):
    """Every registry query except the two explicit exact-oracle baselines
    (all-pairs by definition) must plan without cartesian products."""
    from colonnade_spark.queries import registry

    allowed_cartesian = {"embedding_neardup", "ann_topk"}  # exact baselines
    for name, (fn, _sql) in registry().items():
        plan = _plan(fn(spark, SF))
        if name in allowed_cartesian:
            continue
        assert "CartesianProduct" not in plan, f"{name}: {plan[:2000]}"


def _staging_plan(spark, **kw) -> str:
    from colonnade_spark import engine
    from colonnade_spark.plan import corpus_plan
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = docs.selectExpr("source as repo",
                             "cast(doc_id as string) as path",
                             "md5(text) as commit", "lang",
                             "text as content")
    plan_obj = corpus_plan()
    bucketed = engine.assign_buckets(plan_obj.project(corpus), plan_obj, 8, **kw)
    staged = (bucketed.repartition(8, F.col("__bucket"))
              .sortWithinPartitions(*plan_obj.stage_order))
    plan = _plan(staged)
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1, plan
    assert "Exchange hashpartitioning(__bucket#" in plan, plan
    assert ", 8), REPARTITION_BY_NUM" in plan, plan
    assert "CartesianProduct" not in plan, plan
    return plan


def test_encode_staging_plan_shape(spark):
    """The staging plan: salts are sized eagerly by assign_buckets, so its
    only exchange is the hash repartition on __bucket; with no value
    above the target the salt is a constant: no join, no broadcast."""
    plan = _staging_plan(spark)
    assert "Join" not in plan, plan
    assert "BroadcastExchange" not in plan, plan


def test_encode_staging_plan_shape_with_fanned_out_values(spark):
    """With values above the target (4 KiB) the fan-outs are looked up by
    hash: one broadcast left join and no other join, and still one
    hash exchange on __bucket."""
    plan = _staging_plan(spark, target_salt_bytes=4 << 10)
    assert plan.count("Join") == 1, plan
    assert "BroadcastHashJoin" in plan and "LeftOuter, BuildRight" in plan, plan
    assert plan.count("BroadcastExchange") == 1, plan


def test_chunking_and_mix_sample_are_shuffle_free(spark):
    """doc_chunk_windows (explode over per-row windows) and
    dataset_mix_sample (hash-bucket filter) are embarrassingly parallel by
    construction — their plans must contain NO exchange at all (at 100 TB
    these run as pure map stages over the scan)."""
    from colonnade_spark.queries import (q_dataset_mix_sample,
                                         q_doc_chunk_windows)

    for q in (q_doc_chunk_windows, q_dataset_mix_sample):
        plan = _plan(q(spark, SF))
        assert "Exchange" not in plan, plan
