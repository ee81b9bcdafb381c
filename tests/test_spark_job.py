"""Spark-job level tests: distributed encode→decode, salting, resume.

Resume mirrors the reference's checkpoint-restart semantics
(db.next_block_num, skar/src/db/mod.rs:68-86; FIXTURES.md §4): kill after
K of P partition batches commit, restart, assert exactly-once partition
output identical to an uninterrupted run.
"""

import glob
import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from skar_spark.config import EngineConfig
from skar_spark.engine.decode import list_part_files, prune_partitions, scan
from skar_spark.engine.encode import (
    completed_part_ids,
    encode_documents,
    plan_partitions,
)
from skar_spark.synth import synth_documents

N_DOCS = 6_000
CFG = EngineConfig(target_partition_rows=1_000, max_row_group_size=500,
                   salt_threshold_rows=800, batch_partitions=2)

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def docs(spark):
    return synth_documents(spark, N_DOCS, partitions=8)


def test_salting_bounds_partition_size(spark, docs):
    planned = plan_partitions(docs, 8, CFG)
    sizes = planned.groupBy("part_id").count().collect()
    # zipf head host has ~20% of docs; without salting one partition would
    # hold >1200 rows from that host alone. With salting, each (host,salt)
    # group ≤ threshold, so no partition should be wildly above fair share.
    assert max(r["count"] for r in sizes) < 3 * N_DOCS / 8
    # salts actually used for the heavy host
    n_salted = planned.filter(F.col("salt") > 0).count()
    assert n_salted > 0


def test_encode_decode_identity(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    lin = encode_documents(spark, docs, out, CFG, n_rows=N_DOCS)
    assert lin.agg(F.sum("row_count")).collect()[0][0] == N_DOCS
    assert lin.filter(F.col("status") != "committed").count() == 0

    dec = scan(spark, out)
    assert dec.count() == N_DOCS
    a = docs.select("url", "warc_ts", "html", "text", "lang")
    b = dec.select("url", "warc_ts", "html", "text", "lang")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_resume_exactly_once(spark, docs, tmp_path):
    out_full = str(tmp_path / "full")
    out_resume = str(tmp_path / "resumed")

    lin_full = encode_documents(spark, docs, out_full, CFG, n_rows=N_DOCS)
    full_rows = {(r.partition_id, r.row_count) for r in
                 lin_full.select("partition_id", "row_count").collect()}

    # run only the first batch, "kill", then resume
    encode_documents(spark, docs, out_resume, CFG, n_rows=N_DOCS,
                     max_batches=1)
    partial = completed_part_ids(spark, out_resume)
    assert 0 < len(partial) < len(full_rows)

    lin_res = encode_documents(spark, docs, out_resume, CFG, n_rows=N_DOCS,
                               resume=True)
    res_rows = {(r.partition_id, r.row_count) for r in
                lin_res.select("partition_id", "row_count").collect()}
    assert res_rows == full_rows  # exactly-once, identical partitioning
    # no duplicate partition ids in lineage
    ids = [r.partition_id for r in lin_res.select("partition_id").collect()]
    assert len(ids) == len(set(ids))
    # decoded content identical between interrupted+resumed and full runs
    a = scan(spark, out_full).select("url", "text")
    b = scan(spark, out_resume).select("url", "text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_partition_pruning_via_lineage(spark, docs, tmp_path):
    out = str(tmp_path / "out2")
    encode_documents(spark, docs, out, CFG, n_rows=N_DOCS)
    all_files = list_part_files(out)
    # a host that exists
    some_host = (plan_partitions(docs, 8, CFG)
                 .select("host").limit(1).collect()[0].host)
    kept = prune_partitions(out, host_eq=some_host)
    assert 0 < len(kept) <= len(all_files)
    rows = scan(spark, out, columns=["url"], host_eq=some_host).count()
    assert rows > 0
    # absent host prunes everything (bloom has no false negatives)
    kept_none = prune_partitions(out, host_eq="www.no-such-host.zz")
    assert len(kept_none) <= max(1, len(all_files) // 2)


def _rows_sha256(rows) -> str:
    return hashlib.sha256("\n".join(
        "\t".join(map(str, r)) for r in sorted(rows)).encode()).hexdigest()


def _salt_map_rows(out: str) -> list[tuple]:
    t = pa.concat_tables([pq.read_table(f) for f in glob.glob(
        os.path.join(out, "meta", "salt_map", "**", "*.parquet"),
        recursive=True)])
    return list(zip(*(t[c].to_pylist() for c in t.column_names)))


# the pinned plan of `docs` under CFG: any drift in heavy-host
# membership, salts or chunk packing changes these hashes
PLAN_SHA256 = (
    "7be4aea6c8586e4412cb30da07038b692f39f546dece3f10db97655f6b6b5304")
SALT_MAP_SHA256 = (
    "f1252d1fcadab324eda72458c15cca24e2fdf4d762468d30eac183132a245d79")


@pytest.fixture(scope="module")
def encoded(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("encoded") / "out")
    encode_documents(spark, docs, out, CFG, n_rows=N_DOCS)
    return out


def test_plan_membership_pinned(spark, docs, encoded):
    planned = plan_partitions(docs, 8, CFG)
    assert _rows_sha256(tuple(r) for r in planned.select(
        "url", "salt", "part_id").collect()) == PLAN_SHA256
    assert _rows_sha256(_salt_map_rows(encoded)) == SALT_MAP_SHA256


def test_planning_launches_no_unneeded_job(spark, docs):
    """An increment with fewer counted rows than the salt threshold has
    no heavy host, so its heavy-host step runs no Spark job; neither
    does planning with a given salt table."""
    from skar_spark.engine.encode import plan_salt, plan_totals

    inc = docs.limit(64)
    inc_totals = plan_totals(inc)
    _, salt = plan_salt(docs, CFG.salt_threshold_rows,
                        totals=plan_totals(docs))
    assert salt.num_rows  # the Zipf head host is heavy
    sc = spark.sparkContext
    group = "plan-no-jobs"
    sc.setJobGroup(group, "planning only")
    try:
        _, light = plan_salt(inc, CFG.salt_threshold_rows, totals=inc_totals)
        plan_partitions(docs, 8, CFG, salt)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        spark.range(1).count()  # the check itself sees jobs of this group
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert light.num_rows == 0 and light.schema == salt.schema


def test_legacy_salt_map_replans_hash_only(spark, docs, encoded, tmp_path):
    """A salt map written before chunk_bytes existed (host, n_salts)
    replans with the plain hash rule for every row, salted or not."""
    from skar_spark.engine.encode import _replan_with_stored, load_plan_meta

    out = str(tmp_path / "legacy")
    shutil.copytree(encoded, out)
    sm_dir = os.path.join(out, "meta", "salt_map")
    shutil.rmtree(sm_dir)
    os.makedirs(sm_dir)
    heavy = [h for h, *_ in _salt_map_rows(encoded)]
    pq.write_table(pa.table({"host": pa.array(heavy, pa.string()),
                             "n_salts": pa.array([3] * len(heavy),
                                                 pa.int32())}),
                   os.path.join(sm_dir, "legacy.parquet"))
    n = load_plan_meta(out)["num_parts"]
    planned, _meta = _replan_with_stored(spark, docs, out, CFG)
    expect = F.pmod(F.xxhash64("host", "salt"), F.lit(n)).cast("int")
    assert planned.filter(F.col("salt") > 0).count() > 0
    assert planned.filter(F.col("part_id") != expect).count() == 0
