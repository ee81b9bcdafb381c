"""Iceberg-style snapshots on the engine table: retained superseded
attempts, time-travel reads (scan(as_of=...) and the DataSource
``as_of`` option), the snapshot log, and vacuum (expire_snapshots +
remove_orphan_files analog).

No analog in the reference — its reorg walk-back deletes superseded
folders outright (skar/src/skar_runner.rs:160-232); this is the
capability COVERAGE.md maps to Iceberg's snapshot/time-travel surface,
implemented natively on the lineage table (attempt_id + committed_at).
"""

import time

import pytest
from pyspark.sql import functions as F

from skar_spark.config import EngineConfig
from skar_spark.engine.decode import list_part_files, scan, validate_output
from skar_spark.engine.encode import (
    encode_documents,
    is_retained,
    read_lineage,
    reencode_late,
    snapshots,
    vacuum,
)
from skar_spark.synth import synth_documents

pytestmark = pytest.mark.spark

N_DOCS = 3_000
CFG = EngineConfig(target_partition_rows=500, max_row_group_size=250,
                   salt_threshold_rows=400, retain_superseded=True)


def _split(docs):
    is_late = (F.pmod(F.xxhash64("url"), F.lit(701)) == 0)
    return docs.filter(~is_late), docs.filter(is_late)


def _content(df):
    return {(r.url, r.text) for r in df.select("url", "text").collect()}


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """Encode v1 (on-time rows), then a late-data rollback creating v2 —
    with retain_superseded so both snapshots stay readable."""
    docs = synth_documents(spark, N_DOCS, partitions=8)
    on_time, late = _split(docs)
    out = str(tmp_path_factory.mktemp("snap") / "out")
    encode_documents(spark, on_time, out, CFG, n_rows=N_DOCS)
    t_v1 = time.time()
    time.sleep(0.05)  # commit times are float seconds; separate snapshots
    reencode_late(spark, docs, late, out, CFG)
    return {"out": out, "t_v1": t_v1,
            "v1": _content(on_time), "v2": _content(docs)}


def test_retained_attempts_keep_both_snapshots_readable(spark, table):
    out = table["out"]
    assert is_retained(out)
    # latest view = the corrected dataset
    assert _content(scan(spark, out)) == table["v2"]
    # time travel to before the rollback = the original dataset, even
    # though superseded and current files coexist in parts/
    assert _content(scan(spark, out, as_of=table["t_v1"])) == table["v1"]
    # superseded files really are still on disk (> latest partition count)
    n_latest = read_lineage(spark, out, latest=True).count()
    assert len(list_part_files(out)) > n_latest


def test_snapshot_log_lists_both_attempts(spark, table):
    log = snapshots(spark, table["out"]).collect()
    assert len(log) == 2
    assert log[0].committed_at < log[1].committed_at
    assert log[1].attempt_id.startswith("late-")
    # the log's commit times are valid as_of anchors
    assert _content(scan(spark, table["out"],
                         as_of=log[0].last_committed_at)) == table["v1"]


def test_scan_before_first_commit_is_empty(spark, table):
    assert scan(spark, table["out"], as_of=1.0).count() == 0


def test_datasource_as_of_option(spark, table):
    from skar_spark.sources import register
    register(spark)
    cur = spark.read.format("skar").load(table["out"])
    old = (spark.read.format("skar").option("as_of", str(table["t_v1"]))
           .load(table["out"]))
    assert _content(cur) == table["v2"]
    assert _content(old) == table["v1"]


def test_pruning_membership_matches_lineage_on_snapshots(spark, table):
    """On a retained table the pruner's unfiltered file set is exactly
    the lineage snapshot view, for the live view and for every
    time-travel anchor; a filtered snapshot read keeps every file of
    that snapshot holding a matching row."""
    from skar_spark.engine.decode import prune_partitions
    from tests.util import assert_sound

    out = table["out"]
    host = next(iter(table["v1"]))[0].split("://")[1].split("/")[0]
    for as_of in (None, table["t_v1"], 1.0):
        view = {r.file for r in read_lineage(
            spark, out, latest=True, as_of=as_of).collect()}
        assert set(prune_partitions(out, as_of=as_of)) == view, as_of
        assert_sound(prune_partitions(out, host_eq=host, as_of=as_of),
                     view, host_eq=host)


def test_vacuum_expires_superseded_snapshots(spark, table):
    out = table["out"]
    dead = vacuum(spark, out)
    assert dead  # the rollback superseded at least one attempt file
    # expired files are gone; every surviving file is referenced
    on_disk = set(list_part_files(out))
    assert not (set(dead) & on_disk)
    lin = read_lineage(spark, out, latest=True)
    assert {r.file for r in lin.collect()} == on_disk
    # current view unchanged and still checksum-valid
    assert _content(scan(spark, out)) == table["v2"]
    assert all(r.ok for r in validate_output(spark, out).collect())
    # time travel to the expired snapshot now resolves to nothing older
    # than what lineage retains — the old content is unreachable
    assert _content(scan(spark, out, as_of=table["t_v1"])) != table["v1"]
    # idempotent
    assert vacuum(spark, out) == []
