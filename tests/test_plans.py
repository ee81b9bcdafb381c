"""Physical-plan assertions: the optimizations the 100 TB story depends
on must be visible in `.explain`, not just assumed.

- filters + projection reach the parquet scan (PushedFilters/ReadSchema);
- small dimension sides broadcast (no shuffle join for them);
- expression pipelines stay inside WholeStageCodegen;
- the encode plan has exactly ONE exchange (the clustering shuffle).
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_range_filter_pushdown(spark):
    df = entrymod.queries()["range_filter"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "IsNotNull" in plan or "GreaterThan" in plan
    # projection pruning: the scan must not read every lineitem column
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read


def test_semi_join_broadcasts(spark):
    df = entrymod.queries()["semi_join"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_inner_join_broadcasts_dim(spark):
    df = entrymod.queries()["inner_join"](spark, SF)
    plan = _plan(df)
    assert "BroadcastExchange" in plan


def test_tpch_q3_pushdown_and_broadcasts(spark):
    """The 3-table join pipeline: every filter reaches its parquet scan,
    scans are column-pruned, and BOTH filtered dimension sides broadcast
    (the only hash exchange left is the group-by)."""
    df = entrymod.queries()["tpch_q3"](spark, SF)
    plan = _plan(df)
    assert "GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    # formatted explain names each node in tree + detail sections; the
    # load-bearing claim is: both joins broadcast, none shuffle-sorts
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    for absent in ("o_totalprice", "c_name", "l_comment"):
        assert absent not in plan


def test_dedup_decision_anti_join_broadcasts(spark):
    """The survivor-set anti-join must broadcast the (tiny) dominated-id
    set, never shuffle the full corpus against it."""
    df = entrymod.queries()["dedup_near"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin LeftAnti" in plan \
        or ("LeftAnti" in plan and "BroadcastExchange" in plan)


def test_queries_use_codegen(spark):
    # AQE wraps the plan until execution, hiding codegen subtrees from
    # a pre-execution explain — disable it just for this inspection
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("tpch_q1", "quality_score", "token_count"):
            df = entrymod.queries()[name](spark, SF)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "codegen")
            assert "Found 0 WholeStageCodegen" not in plan, name
            assert "WholeStageCodegen subtrees" in plan, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_encode_plan_single_exchange(spark):
    """The encode pipeline's only shuffle is the clustering exchange on
    part_id (the salt map joins via broadcast)."""
    from skar_spark.config import EngineConfig
    from skar_spark.engine.encode import plan_partitions, plan_salt
    from skar_spark.synth import synth_documents

    docs = synth_documents(spark, 2_000, partitions=4)
    cfg = EngineConfig(target_partition_rows=500, salt_threshold_rows=400)
    planned = plan_partitions(
        docs, 4, plan_salt(docs, cfg.salt_threshold_rows)[1])
    grouped = planned.groupBy("part_id").agg(F.count("*").alias("n"))
    plan = _plan(grouped)
    # one shuffle for the groupBy; the heavy-host salt join broadcasts
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2  # groupBy partial+final counts once under AQE
    assert "BroadcastExchange" in plan


def test_kmv_plan_takeordered_no_global_sort(spark):
    """The KMV sketch's bottom-k must be TakeOrdered (per-partition
    top-k + driver merge of k longs) with a map-side partial distinct —
    never a global Sort — and the scan must read ONLY the text column."""
    df = entrymod.queries()["kmv_distinct"](spark, SF)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "\n   Sort " not in plan and "GlobalSort" not in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read and "doc_id" not in read


def test_sample_hash_is_scan_plus_filter(spark):
    """Deterministic sampling must stay a single-stage scan + filter:
    no exchange of any kind (embarrassingly parallel at any scale)."""
    df = entrymod.queries()["sample_hash"](spark, SF)
    plan = _plan(df)
    assert "Exchange" not in plan
