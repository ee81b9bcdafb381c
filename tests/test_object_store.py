"""Object-store seam (VERDICT r04 item 2): the engine's encode → scan →
query path and the ann staging root must work on a non-POSIX root,
exercised through the dir-backed ``mock://`` fake object store
(engine/storage.py) — part files published via whole-file buffer + one
atomic PUT, listing via key prefixes, lineage/salt-map parquet via
local spool + per-object PUT/GET. rename-based operations (vacuum,
compaction) are explicitly refused, never silently wrong.

The mock backing root is the module default (/tmp/skar_mock_store):
executor workers are separate processes, so a monkeypatched root would
not reach them — tests isolate by unique table prefixes instead."""

import os
import shutil
import uuid

import pytest

from skar_spark.config import EngineConfig
from skar_spark.engine import storage
from skar_spark.engine.decode import (
    list_part_files,
    prune_partitions,
    scan,
)
from skar_spark.engine.encode import encode_documents, vacuum
from skar_spark.synth import synth_documents

pytestmark = pytest.mark.spark

CFG = EngineConfig(target_partition_rows=500, max_row_group_size=250,
                   salt_threshold_rows=400)


@pytest.fixture()
def mock_table():
    name = f"tbl-{uuid.uuid4().hex[:8]}"
    yield f"mock://{name}/out"
    shutil.rmtree(os.path.join(storage.MOCK_BACKING_ROOT, name),
                  ignore_errors=True)


def _content(df):
    return {(r.url, r.text) for r in df.select("url", "text").collect()}


def test_mock_encode_scan_query_roundtrip(spark, mock_table):
    docs = synth_documents(spark, 2_000, partitions=4)
    want = _content(docs)
    encode_documents(spark, docs, mock_table, CFG, n_rows=2_000)

    # nothing at the URI path on the real filesystem — everything went
    # through the seam into the backing store
    assert not os.path.exists(mock_table)
    files = list_part_files(mock_table)
    assert files and all(f.startswith("mock://") for f in files)

    assert _content(scan(spark, mock_table)) == want

    # pruned point read (host bloom + zone maps through the seam)
    some = next(iter(want))[0]
    host = some.split("://")[1].split("/")[0]
    hit = scan(spark, mock_table, host_eq=host).select("url").collect()
    assert any(r.url == some for r in hit)
    assert all(r.url.split("://")[1].split("/")[0] == host for r in hit)

    # local (DataSource-planning) pruner works on the object listing
    assert set(prune_partitions(
        mock_table, ts_range=(0, 1 << 62))) <= set(files)


def test_mock_resume_checkpoint(spark, mock_table):
    """Kill after one batch, resume: plan meta + salt map + lineage all
    live behind the seam, and the resumed encode completes the table
    exactly once."""
    cfg = EngineConfig(target_partition_rows=400, max_row_group_size=200,
                       salt_threshold_rows=350, batch_partitions=2)
    docs = synth_documents(spark, 2_000, partitions=4)
    want = _content(docs)
    encode_documents(spark, docs, mock_table, cfg, n_rows=2_000,
                     max_batches=1)
    partial = len(list_part_files(mock_table))
    assert 0 < partial < 5
    encode_documents(spark, docs, mock_table, cfg, n_rows=2_000,
                     resume=True)
    assert _content(scan(spark, mock_table)) == want


def test_mock_rename_ops_refused(spark, mock_table):
    from skar_spark.engine.compact import compact_parts

    docs = synth_documents(spark, 1_000, partitions=2)
    encode_documents(spark, docs, mock_table, CFG, n_rows=1_000)
    with pytest.raises(NotImplementedError, match="POSIX"):
        vacuum(spark, mock_table)
    with pytest.raises(NotImplementedError, match="POSIX"):
        compact_parts(spark, mock_table, CFG)


def test_mock_unknown_scheme_refused():
    with pytest.raises(NotImplementedError, match="s3"):
        storage.get_bytes("s3://bucket/key")


def test_ann_stage_on_mock_root(spark, monkeypatch):
    """SKAR_STAGE_DIR=mock://… routes the ann_lsh staging through the
    seam; results must match the unstaged plan exactly."""
    import skar_spark.ops.dedup as dedup
    from skar_spark.ops.dedup import q_ann_lsh

    sf = "/root/testdata/sf0.001"
    base = {(r.a, r.b, r.cos) for r in q_ann_lsh(spark, sf).collect()}

    name = f"stage-{uuid.uuid4().hex[:8]}"
    monkeypatch.setenv("SKAR_STAGE_DIR", f"mock://{name}")
    monkeypatch.setattr(dedup, "_ANN_STAGE_MIN_ROWS", 0)  # force staging
    try:
        staged = {(r.a, r.b, r.cos)
                  for r in q_ann_lsh(spark, sf).collect()}
    finally:
        shutil.rmtree(os.path.join(storage.MOCK_BACKING_ROOT, name),
                      ignore_errors=True)
    assert staged == base


def test_mock_datasource_and_query_handler(spark, mock_table):
    """Wider seam coverage: the Python DataSource (planning runs in a
    SEPARATE worker process — it must resolve the same mock backing
    root) and the JSON query handler both serve a mock:// table."""
    from pyspark.sql import functions as F

    from skar_spark.query import run_query
    from skar_spark.sources import register

    docs = synth_documents(spark, 1_500, partitions=4)
    encode_documents(spark, docs, mock_table, CFG, n_rows=1_500)
    want = _content(docs)

    register(spark)
    df = spark.read.format("skar").load(mock_table)
    assert {(r.url, r.text)
            for r in df.select("url", "text").collect()} == want

    # pushdown point read through the DataSource
    host = df.select("host").first()["host"]
    hits = df.filter(F.col("host") == host).select("url").collect()
    assert hits
    assert all(r.url.split("://")[1].split("/")[0] == host for r in hits)

    # reference-shaped JSON query (pruning + paging machinery)
    res = run_query(spark, mock_table, {
        "selections": [{"hosts": [host]}],
        "field_selection": ["url"],
    })
    assert {(r["url"],) for r in res["rows"]} == {(r.url,) for r in hits}
