"""MERGE (upsert by url) and DELETE as partition-granular copy-on-write
— the Iceberg row-level-update analogs over the encoded table. The
rewrite set is located from plan metadata (a url's partition is a pure
function of the url under the hash scheme), so an upsert touching p
partitions costs O(p) partition rewrites, never a table rewrite —
mirror of the reference's surgical reorg rewrite
(skar/src/skar_runner.rs:160-232)."""

import pytest
from pyspark.sql import functions as F

from skar_spark.config import EngineConfig
from skar_spark.engine.decode import scan, validate_output
from skar_spark.engine.encode import (
    delete_rows,
    encode_documents,
    merge_updates,
    read_lineage,
)
from skar_spark.synth import synth_documents

pytestmark = pytest.mark.spark

N_DOCS = 3_000
CFG = EngineConfig(target_partition_rows=400, max_row_group_size=200,
                   salt_threshold_rows=350)


def _encode(spark, tmp_path, name="tbl", cfg=CFG):
    docs = synth_documents(spark, N_DOCS, partitions=8).cache()
    out = str(tmp_path / name)
    encode_documents(spark, docs, out, cfg, n_rows=N_DOCS)
    return docs, out


def test_merge_upsert_and_insert_exactly_once(spark, tmp_path):
    docs, out = _encode(spark, tmp_path)
    before = {r.partition_id: (r.row_count, bytes(r.text_checksum))
              for r in read_lineage(spark, out, latest=True).collect()}

    mod = (F.pmod(F.xxhash64("url"), F.lit(37)) == 0)
    updates = docs.filter(mod).withColumn(
        "text", F.concat(F.col("text"), F.lit(" [rev2]")))
    inserts = (docs.filter(F.pmod(F.xxhash64("url"), F.lit(101)) == 3)
               .withColumn("url", F.concat(F.col("url"), F.lit("/v2")))
               .withColumn("text", F.concat(F.lit("ins:"), F.col("text"))))
    n_upd, n_ins = updates.count(), inserts.count()
    assert n_upd > 5 and n_ins > 3

    lin = merge_updates(spark, updates.unionByName(inserts), out, CFG)

    expected = (docs.filter(~mod).unionByName(updates)
                .unionByName(inserts).select("url", "text"))
    back = scan(spark, out).select("url", "text")
    assert back.exceptAll(expected).count() == 0
    assert expected.exceptAll(back).count() == 0
    assert all(r.ok for r in validate_output(spark, out).collect())

    # the total row delta is exactly the insert count, and at least one
    # partition's lineage actually flipped (updates landed somewhere)
    after = {r.partition_id: (r.row_count, bytes(r.text_checksum))
             for r in lin.collect()}
    changed = {p for p in before if p in after and before[p] != after[p]}
    assert changed
    assert (sum(v[0] for v in after.values())
            == sum(v[0] for v in before.values()) + n_ins)


def test_merge_is_surgical_single_partition(spark, tmp_path):
    """Updates confined to one partition rewrite ONLY that partition —
    every other lineage row (row_count, checksum, part path) must be
    byte-identical after the merge."""
    docs, out = _encode(spark, tmp_path, name="surg")
    before = {r.partition_id: (r.row_count, bytes(r.text_checksum), r.file)
              for r in read_lineage(spark, out, latest=True).collect()}
    victim = min(before)
    vic_urls = [r.url for r in
                scan(spark, out, part_ids={victim}).select("url")
                .limit(5).collect()]
    assert len(vic_urls) == 5
    updates = (docs.filter(F.col("url").isin(vic_urls))
               .withColumn("text", F.concat("text", F.lit(" [touch]"))))
    lin = merge_updates(spark, updates, out, CFG)
    after = {r.partition_id: (r.row_count, bytes(r.text_checksum), r.file)
             for r in lin.collect()}
    assert after[victim] != before[victim]
    for p in before:
        if p != victim:
            assert after[p] == before[p], f"partition {p} was rewritten"
    touched = scan(spark, out).filter(F.col("text").endswith(" [touch]"))
    assert touched.count() == 5


def test_merge_rejects_duplicate_update_urls(spark, tmp_path):
    docs, out = _encode(spark, tmp_path)
    one = docs.limit(1)
    with pytest.raises(ValueError, match="duplicate urls"):
        merge_updates(spark, one.unionByName(one), out, CFG)


def test_merge_and_delete_reject_streamed_table(spark, tmp_path):
    """A streamed table plans per epoch (no stored url→partition
    function) — merge/delete must refuse it loudly rather than locate a
    wrong rewrite set."""
    out = str(tmp_path / "streamed")
    (tmp_path / "streamed").mkdir()
    docs = synth_documents(spark, 50, partitions=2)
    with pytest.raises(NotImplementedError, match="plan metadata"):
        merge_updates(spark, docs, out, CFG)
    with pytest.raises(NotImplementedError, match="plan metadata"):
        delete_rows(spark, docs.select("url"), out, CFG)


def test_merge_and_delete_reject_day_hash(spark, tmp_path):
    docs = synth_documents(spark, N_DOCS, partitions=8)
    out = str(tmp_path / "dh")
    encode_documents(spark, docs, out, CFG, scheme="day_hash")
    with pytest.raises(NotImplementedError, match="hash partition scheme"):
        merge_updates(spark, docs.limit(5), out, CFG)
    with pytest.raises(NotImplementedError, match="hash partition scheme"):
        delete_rows(spark, docs.select("url").limit(5), out, CFG)


def test_delete_rows_including_emptied_partition(spark, tmp_path):
    docs, out = _encode(spark, tmp_path)
    lin0 = read_lineage(spark, out, latest=True)
    # empty out one whole partition + scattered urls from others
    victim = int(lin0.orderBy("partition_id").first().partition_id)
    victim_urls = scan(spark, out, part_ids={victim}).select("url")
    scattered = docs.filter(
        F.pmod(F.xxhash64("url"), F.lit(53)) == 1).select("url")
    doomed = victim_urls.unionByName(scattered).distinct().cache()
    n_doomed = doomed.count()

    lin = delete_rows(spark, doomed, out, CFG)

    back = scan(spark, out).select("url", "text")
    expected = docs.join(doomed, "url", "left_anti").select("url", "text")
    assert back.exceptAll(expected).count() == 0
    assert expected.exceptAll(back).count() == 0
    assert back.count() == N_DOCS - n_doomed
    # the emptied partition is superseded by a zero-row part and the
    # whole table still validates (empty part included)
    vrow = [r for r in lin.collect() if r.partition_id == victim]
    assert len(vrow) == 1 and vrow[0].row_count == 0
    assert all(r.ok for r in validate_output(spark, out).collect())
    # a later merge re-inserts into the emptied partition
    revived = docs.join(victim_urls, "url", "left_semi").limit(3)
    n_rev = revived.count()
    merge_updates(spark, revived, out, CFG)
    assert scan(spark, out).count() == N_DOCS - n_doomed + n_rev


def test_emptying_delete_commits_one_lineage_object(spark, tmp_path):
    """A delete that empties one partition and thins others publishes
    ONE lineage object holding both the rewritten and the emptied
    partitions' rows, so no reader sees half of the delete."""
    import os

    import pyarrow.parquet as pq

    docs, out = _encode(spark, tmp_path, name="one_put")
    victim = min(r.partition_id for r in
                 read_lineage(spark, out, latest=True).collect())
    doomed = scan(spark, out, part_ids={victim}).select("url").unionByName(
        docs.filter(F.pmod(F.xxhash64("url"), F.lit(53)) == 1)
        .select("url")).distinct()
    ldir = os.path.join(out, "lineage")
    before = set(os.listdir(ldir))
    delete_rows(spark, doomed, out, CFG)
    added = set(os.listdir(ldir)) - before
    assert len(added) == 1
    rows = pq.read_table(os.path.join(ldir, added.pop())).to_pylist()
    assert len({r["attempt_id"] for r in rows}) == 1
    counts = {r["partition_id"]: r["row_count"] for r in rows}
    assert counts[victim] == 0 and len(counts) > 1


def test_delete_reads_stored_plan_once(spark, tmp_path, monkeypatch):
    """One delete_rows reads its stored plan once: one GET of
    meta/plan.json, one listing and one GET of the salt map (metadata
    reads are a round trip each on an object store)."""
    from skar_spark.engine import storage

    docs, out = _encode(spark, tmp_path, name="plan_reads")
    doomed = docs.filter(
        F.pmod(F.xxhash64("url"), F.lit(53)) == 1).select("url")
    gets, lists = [], []
    real_get, real_list = storage.get_bytes, storage.list_prefix
    monkeypatch.setattr(storage, "get_bytes",
                        lambda p: gets.append(p) or real_get(p))
    monkeypatch.setattr(storage, "list_prefix",
                        lambda p: lists.append(p) or real_list(p))
    delete_rows(spark, doomed, out, CFG)
    assert sum(p.endswith("plan.json") for p in gets) == 1
    assert sum("salt_map" in p for p in lists) == 1
    assert sum("salt_map" in p for p in gets) == 1


def test_merge_evolves_schema_with_new_column(spark, tmp_path):
    docs, out = _encode(spark, tmp_path)
    updates = (docs.filter(F.pmod(F.xxhash64("url"), F.lit(41)) == 0)
               .withColumn("rev", F.lit(2).cast("long")))
    n_upd = updates.count()
    merge_updates(spark, updates, out, CFG)
    back = scan(spark, out)
    assert "rev" in back.columns
    assert back.filter(F.col("rev") == 2).count() == n_upd
    assert back.filter(F.col("rev").isNull()).count() == N_DOCS - n_upd


def test_merge_time_travel_across_upsert(spark, tmp_path):
    import time

    cfg = EngineConfig(target_partition_rows=400, max_row_group_size=200,
                       salt_threshold_rows=350, retain_superseded=True)
    docs, out = _encode(spark, tmp_path, name="tt", cfg=cfg)
    t_pre = time.time()
    time.sleep(0.05)
    updates = docs.limit(7).withColumn(
        "text", F.concat(F.col("text"), F.lit(" [rev2]")))
    merge_updates(spark, updates, out, cfg)
    # latest view sees the update; as_of pre-merge sees the original
    now = scan(spark, out).filter(F.col("text").endswith(" [rev2]"))
    assert now.count() == 7
    old = scan(spark, out, as_of=t_pre)
    assert old.filter(F.col("text").endswith(" [rev2]")).count() == 0
    assert old.count() == N_DOCS
