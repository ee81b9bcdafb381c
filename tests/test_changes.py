"""Batch append (append_documents) + change data feed (scan_changes):
exactly-once increments, window semantics, increment-only reads, and
the re-statement contract across compaction.
"""

import time

import pytest
from pyspark.sql import functions as F

from skar_spark.config import EngineConfig
from skar_spark.engine.decode import scan, scan_changes
from skar_spark.engine.encode import (append_documents, encode_documents,
                                      read_lineage)
from skar_spark.synth import synth_documents

pytestmark = pytest.mark.spark

CFG = EngineConfig(target_partition_rows=400, max_row_group_size=200,
                   salt_threshold_rows=1_000)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """1200-doc table loaded as 800 initial + 400 appended, with the
    commit boundary captured between."""
    out = str(tmp_path_factory.mktemp("cdf") / "tbl")
    docs = synth_documents(spark, 1200, partitions=4)
    first = synth_documents(spark, 800, partitions=4)  # ids 0..799 of docs
    encode_documents(spark, first, out, CFG, n_rows=800)
    t1 = read_lineage(spark, out).agg(
        F.max("committed_at").alias("t")).collect()[0].t
    second = docs.subtract(first)
    n_appended = append_documents(spark, second, out, CFG)
    return out, t1, n_appended, docs


def test_append_is_exactly_once(spark, table):
    out, _t1, n_appended, docs = table
    assert n_appended >= 1
    back = scan(spark, out).select("url", "text")
    src = docs.select("url", "text")
    assert back.count() == 1200
    assert src.exceptAll(back).count() == 0
    assert back.exceptAll(src).count() == 0


def test_change_windows_partition_the_table(spark, table):
    out, t1, n_appended, _docs = table
    s1, s2 = {}, {}
    era1 = scan_changes(spark, out, until=t1, _stats=s1)
    era2 = scan_changes(spark, out, since=t1, _stats=s2)
    assert era1.count() == 800
    assert era2.count() == 400
    # the increment read opens ONLY the appended partitions
    assert s2["n_changed_parts"] == n_appended
    assert era1.select("url").intersect(era2.select("url")).count() == 0


def test_empty_window_is_empty(spark, table):
    out, _t1, _n, _docs = table
    now = time.time() + 10
    stats = {}
    df = scan_changes(spark, out, since=now, _stats=stats)
    assert stats["n_changed_parts"] == 0
    assert df.count() == 0
    assert "url" in df.columns and "text" in df.columns  # schema intact


def test_changes_compose_with_predicates(spark, table):
    out, t1, _n, _docs = table
    langs = {r.lang for r in
             scan_changes(spark, out, since=t1, columns=["lang"],
                          lang_eq="en").collect()}
    assert langs <= {"en"}


def test_restated_partitions_reemit_after_compaction(spark, table):
    """Compaction re-states every partition: a change window opened at
    the pre-compaction high-water re-emits the FULL table (the
    documented replace-not-delta contract), and appends keep flowing
    above the compaction high-water afterwards."""
    from skar_spark.engine.compact import compact_parts

    out, _t1, _n, docs = table
    t2 = read_lineage(spark, out).agg(
        F.max("committed_at").alias("t")).collect()[0].t
    res = compact_parts(spark, out, CFG, small_rows=10_000)
    assert res["new_parts"] >= 1
    restated = scan_changes(spark, out, since=t2)
    assert restated.count() == 1200  # full re-statement

    extra = synth_documents(spark, 1300, partitions=2).subtract(docs)
    assert extra.count() == 100
    t3 = read_lineage(spark, out).agg(
        F.max("committed_at").alias("t")).collect()[0].t
    n_extra = append_documents(spark, extra, out, CFG)
    stats = {}
    inc = scan_changes(spark, out, since=t3, _stats=stats)
    assert stats["n_changed_parts"] == n_extra
    assert inc.count() == 100
    assert scan(spark, out).count() == 1300


def test_append_requires_existing_table(spark, tmp_path):
    docs = synth_documents(spark, 50, partitions=1)
    with pytest.raises(FileNotFoundError, match="lineage"):
        append_documents(spark, docs, str(tmp_path / "nope"), CFG)


def test_append_rejects_day_hash_tables(spark, tmp_path):
    """day_hash partition ids are a pure function of (day, host bucket);
    hash-planned appends would silently break the invariant delete_rows
    and reencode_late locate partitions by."""
    out = str(tmp_path / "dh")
    docs = synth_documents(spark, 300, partitions=2)
    encode_documents(spark, docs, out, CFG, n_rows=300, scheme="day_hash")
    with pytest.raises(ValueError, match="day_hash"):
        append_documents(spark, docs, out, CFG)


def test_stream_rejects_day_hash_tables(spark, tmp_path, monkeypatch):
    """A stream epoch is refused like an append, before it writes a
    part file or a lineage row, and the refusal is not retried."""
    import os

    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.errors import StreamingQueryException

    from skar_spark import streaming
    from skar_spark.engine.encode import lineage_table
    from skar_spark.streaming import stream_encode
    from skar_spark.synth import synth_batch

    out = str(tmp_path / "dh")
    docs = synth_documents(spark, 300, partitions=2)
    encode_documents(spark, docs, out, CFG, n_rows=300, scheme="day_hash")
    files, lin = sorted(os.listdir(os.path.join(out, "parts"))), \
        lineage_table(out)
    land = tmp_path / "land"
    land.mkdir()
    pq.write_table(synth_batch(np.arange(300, 400)),
                   str(land / "f.parquet"))
    q = stream_encode(spark, str(land), out, CFG, max_retries=0,
                      checkpoint_dir=str(tmp_path / "ckpt"))
    with pytest.raises(StreamingQueryException, match="day_hash"):
        q.awaitTermination(120)
    assert sorted(os.listdir(os.path.join(out, "parts"))) == files
    assert lineage_table(out).equals(lin)

    # the refusal is not retried: a retry budget runs the epoch once
    calls = []
    real = streaming.encode_increment

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(streaming, "encode_increment", spy)
    q = stream_encode(spark, str(land), out, CFG, max_retries=3,
                      backoff_base_sec=0.05,
                      checkpoint_dir=str(tmp_path / "ckpt2"))
    with pytest.raises(StreamingQueryException, match="day_hash"):
        q.awaitTermination(120)
    assert len(calls) == 1
    assert lineage_table(out).equals(lin)


def test_append_empty_increment_is_noop(spark, table):
    out, _t1, _n, _docs = table
    before = scan(spark, out).count()
    lin_before = read_lineage(spark, out).count()
    docs = synth_documents(spark, 10, partitions=1).limit(0)
    assert append_documents(spark, docs, out, CFG) == 0
    assert scan(spark, out).count() == before
    assert read_lineage(spark, out).count() == lin_before
