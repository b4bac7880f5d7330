"""Physical-plan quality gates: the optimizations we claim must be visible
in .explain() output, not just intended."""

import re

import pytest

import __spark_entry__ as em
from scripts.plan_audit import executed_plans

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_broadcast_join_is_broadcast(spark):
    plan = _plan(em.q_join_broadcast(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(em.q_filter_project(spark, SF_DIR))
    # the quantity/returnflag predicates reach the parquet reader (the
    # plan text truncates long filter lists, so match the leading entries)
    assert "PushedFilters: [IsNotNull(l_quantity)" in plan
    assert "GreaterThanOrEqual(l_quantity,30.0)" in plan


def test_column_pruning_reaches_scan(spark):
    plan = _plan(em.q_token_count(spark, SF_DIR))
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m is not None
    # only doc_id and text are read, not lang/source/n_chars
    assert "lang" not in m.group(1) and "n_chars" not in m.group(1)


def test_no_python_row_udfs_in_relational_queries(spark):
    """B19 discipline: no BatchEvalPython (row UDF) and no MapInPandas in
    any registered query; Python runs only in Arrow stages.  The
    per-document kernels (extraction, multimodal, decode and crypt
    queries) go through ``map_rows``' one mapInArrow; the similarity and
    dedup queries use numpy kernels under mapInArrow / grouped
    applyInArrow."""
    for name, fn in em.queries().items():
        plan = _plan(fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name


@pytest.mark.parametrize("name", ["topk_orders", "sim_topk",
                                  "sim_topk_lsh", "sim_topk_ivf",
                                  "sim_topk_ivf_indexed"])
def test_topk_uses_take_ordered(spark, name):
    """Every single-query top-k ranks through TakeOrderedAndProject (no
    shuffle); the cosine family scores candidates in one Arrow map."""
    plan = _plan(em.queries()[name](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    if name.startswith("sim_"):
        assert "MapInArrow" in plan, plan


def test_whole_stage_codegen_active(spark):
    # non-AQE plans carry the *(n) codegen-stage markers directly
    plan = _plan(em.q_filter_project(spark, SF_DIR))
    assert "*(1)" in plan
    # AQE plans reveal the final (codegen'd) plan only after execution
    df = em.q_agg_pricing(spark, SF_DIR)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan and "*(" in plan


@pytest.mark.parametrize("name", ["dedup_minhash_lsh",
                                  "dedup_simhash_pairs",
                                  "dedup_ngram_jaccard", "sim_near_dup"])
def test_hot_bucket_cap_is_broadcast_anti_join(spark, name):
    """Every capped LSH query drops its hot buckets with a BROADCAST
    anti-join ahead of the bucket comparison (a shuffled anti-join would
    add a full shuffle of the bucket table at 100 TB), and no cross join
    may appear."""
    plan = _plan(em.queries()[name](spark, SF_DIR))
    assert "LeftAnti, BuildRight" in plan or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan), plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["dedup_simhash", "dedup_simhash_pairs",
                                  "sim_near_dup", "sim_topk_lsh"])
def test_signature_stages_are_arrow_maps(spark, name):
    """SimHash signatures and sign-LSH keys are built in one mapInArrow
    pass each; the SimHash stage has no shingle explode and no
    per-document aggregate left.  The pair queries read their signature
    frame through a lazy localCheckpoint, whose executed plan is a bare
    RDD scan, so the plans of checkpointed frames are audited too."""
    plan = executed_plans(spark,
                          lambda: em.queries()[name](spark, SF_DIR))
    assert "MapInArrow" in plan, plan
    if name == "dedup_simhash":
        assert "HashAggregate" not in plan and "Generate" not in plan, plan
