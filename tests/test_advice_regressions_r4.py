"""Regression guards for the round-3 ADVICE findings.

Each test pins one fixed failure mode: null-lang bloom crash, the
compaction marker ordering vs schema pre-flight, committed-membership on
the no-filter fast path, read_paged as_of cursor consistency, and the
lineage-swap crash window.
"""

import datetime as dt
import os
import shutil
import time

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from skar_spark.config import EngineConfig
from skar_spark.engine.compact import compact_parts, is_compacted
from skar_spark.engine.decode import (
    list_part_files,
    prune_partitions,
    scan,
)
from skar_spark.engine.encode import (
    encode_documents,
    lineage_dir,
    reencode_late,
    vacuum,
)
from skar_spark.synth import DOCS_DDL, synth_documents

pytestmark = pytest.mark.spark

CFG = EngineConfig(target_partition_rows=1_000, max_row_group_size=400,
                   salt_threshold_rows=900)


def _content(df):
    return {(r.url, r.text) for r in df.select("url", "text").collect()}


# -- ADVICE r03 #1: null lang must not crash the bloom builders --------

def test_partition_bloom_skips_nulls():
    from skar_spark.engine.bloom import bloom_might_contain
    from skar_spark.engine.partfile import partition_host_bloom

    blob = partition_host_bloom(pa.array(["en", None, "de"]))
    assert bloom_might_contain(blob, "en")
    assert bloom_might_contain(blob, "de")


def test_encode_with_null_lang(spark, tmp_path):
    """lang is nullable per DOCS_DDL — encoding must survive nulls and
    lang_eq scans must still return exactly the matching rows (null
    never equals anything)."""
    out = str(tmp_path / "out")
    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    rows = [(f"https://h{i % 7}.com/p{i}", base + dt.timedelta(seconds=i),
             b"<html>", f"text {i}", None if i % 3 == 0 else "en")
            for i in range(600)]
    docs = spark.createDataFrame(rows, DOCS_DDL)
    encode_documents(spark, docs, out, CFG, n_rows=600)
    assert scan(spark, out).count() == 600
    got = scan(spark, out, lang_eq="en")
    assert got.count() == 600 - 200
    assert got.filter(F.col("lang").isNull()).count() == 0


# -- ADVICE r03 #2: compaction pre-flight before the archival marker --

def _small_parts_table(spark, tmp_path, n=1_200, parts=6):
    out = str(tmp_path / "out")
    docs = synth_documents(spark, n, partitions=4)
    encode_documents(spark, docs, out, CFG, num_parts=parts, n_rows=n)
    return out, _content(docs)


def test_compact_old_lineage_without_lang_bloom(spark, tmp_path):
    """A table encoded before the lang_bloom column existed must still
    compact (null backfill), not end up permanently archival-marked with
    nothing compacted."""
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    out, want = _small_parts_table(spark, tmp_path)
    ldir = lineage_dir(out)
    t = pads.dataset(ldir, format="parquet").to_table()
    t = t.drop_columns(["lang_bloom"])  # simulate the pre-lang_bloom era
    shutil.rmtree(ldir)
    os.makedirs(ldir)
    pq.write_table(t, os.path.join(ldir, "part-0.parquet"),
                   coerce_timestamps="us", allow_truncated_timestamps=True)

    res = compact_parts(spark, out, CFG)
    assert res["compacted_parts"] > 0
    assert is_compacted(out)
    assert _content(scan(spark, out)) == want


def test_failed_preflight_leaves_table_writable(spark, tmp_path,
                                                monkeypatch):
    """Any failure before part files are written (here: the footer read
    in the plan build) must leave NO archival marker — a failed
    pre-flight may not permanently freeze the table."""
    import skar_spark.engine.partfile as partfile

    out, _ = _small_parts_table(spark, tmp_path)

    def boom(path):
        raise RuntimeError("injected pre-flight failure")

    monkeypatch.setattr(partfile, "read_footer", boom)
    with pytest.raises(RuntimeError, match="injected"):
        compact_parts(spark, out, CFG)
    monkeypatch.undo()
    assert not is_compacted(out)
    # still writable/compactable afterwards
    res = compact_parts(spark, out, CFG)
    assert res["compacted_parts"] > 0


def test_incompatible_lineage_fails_before_marker(spark, tmp_path):
    """A lineage column whose stored type cannot be cast to its declared
    type fails compaction in the lineage read, before the archival
    marker: the table stays writable."""
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    out, _ = _small_parts_table(spark, tmp_path)
    ldir = lineage_dir(out)
    t = pads.dataset(ldir, format="parquet").to_table()
    t = t.set_column(t.schema.get_field_index("row_count"), "row_count",
                     pa.array(["many"] * t.num_rows))
    shutil.rmtree(ldir)
    os.makedirs(ldir)
    pq.write_table(t, os.path.join(ldir, "part-0.parquet"))
    with pytest.raises(pa.ArrowInvalid):
        compact_parts(spark, out, CFG)
    assert not is_compacted(out)


# -- ADVICE r03 #3: full-scan membership == committed lineage set ------

def test_uncommitted_part_invisible_to_full_scan(spark, tmp_path):
    """A part file with no committed lineage row (crashed batch/epoch)
    must be invisible to BOTH the no-filter fast path and filtered
    scans — adding a predicate may never change table membership."""
    out = str(tmp_path / "out")
    docs = synth_documents(spark, 2_000, partitions=4)
    encode_documents(spark, docs, out, CFG, n_rows=2_000)
    n = scan(spark, out).count()

    files = list_part_files(out)
    orphan = os.path.join(out, "parts", "part-999990.skar")
    shutil.copy(files[0], orphan)

    assert scan(spark, out).count() == n  # fast path: no duplicate rows
    assert orphan not in prune_partitions(out)
    # consistency: filtered and unfiltered membership agree
    assert set(prune_partitions(out)) \
        >= set(prune_partitions(out, ts_range=(0, 1 << 62)))


def test_lineage_less_dir_keeps_listing_membership(spark, tmp_path):
    """Static hand-built directories (no lineage at all) keep
    listing-is-membership semantics."""
    import numpy as np

    from skar_spark.engine.partfile import write_part_file
    from skar_spark.synth import synth_batch

    out = str(tmp_path / "out")
    os.makedirs(os.path.join(out, "parts"))
    t = synth_batch(np.arange(100))
    t = t.append_column("_host", pa.array(["h"] * 100))
    write_part_file(os.path.join(out, "parts", "part-000000.skar"),
                    t, EngineConfig(max_row_group_size=100))
    assert scan(spark, out).count() == 100


# -- ADVICE r03 #4: read_paged honors as_of in cursor arithmetic -------

def test_read_paged_as_of_pages_the_snapshot_view(spark, tmp_path):
    from skar_spark.sources import read_paged, register

    cfg = EngineConfig(target_partition_rows=500, max_row_group_size=250,
                       salt_threshold_rows=400, retain_superseded=True)
    docs = synth_documents(spark, 3_000, partitions=8)
    is_late = (F.pmod(F.xxhash64("url"), F.lit(701)) == 0)
    on_time, late = docs.filter(~is_late), docs.filter(is_late)
    out = str(tmp_path / "out")
    encode_documents(spark, on_time, out, cfg, n_rows=3_000)
    t_v1 = time.time()
    time.sleep(0.05)
    reencode_late(spark, docs, late, out, cfg)

    register(spark)
    want = _content(scan(spark, out, as_of=t_v1))
    got: set = set()
    cursor, pages = 0, 0
    while cursor is not None:
        df, cursor = read_paged(spark, out, cursor=cursor, page_files=2,
                                as_of=t_v1)
        got |= _content(df)
        pages += 1
        assert pages < 50
    assert pages >= 2            # actually paged
    assert got == want           # no skips, no repeats, snapshot view


# -- ADVICE r03 #5: lineage-swap crash window heals on read ------------

@pytest.mark.parametrize("tmp_sfx,old_sfx",
                         [(".vacuum", ".expired"),
                          (".compact", ".precompact")])
def test_interrupted_lineage_swap_rolls_forward(spark, tmp_path,
                                                tmp_sfx, old_sfx):
    """Crash between rename(path→old) and rename(tmp→path): lineage dir
    is missing but both siblings exist. Readers must roll forward to the
    fully-written tmp copy instead of raising FileNotFoundError."""
    out = str(tmp_path / "out")
    docs = synth_documents(spark, 1_000, partitions=4)
    encode_documents(spark, docs, out, CFG, n_rows=1_000)
    want = _content(scan(spark, out))

    ldir = lineage_dir(out)
    shutil.copytree(ldir, ldir + tmp_sfx)
    os.rename(ldir, ldir + old_sfx)
    assert not os.path.isdir(ldir)

    # local reader heals it ...
    assert prune_partitions(out, ts_range=(0, 1 << 62))
    assert os.path.isdir(ldir)
    assert not os.path.isdir(ldir + tmp_sfx)
    assert not os.path.isdir(ldir + old_sfx)
    # ... and the table reads exactly as before
    assert _content(scan(spark, out)) == want


def test_vacuum_swap_crash_then_scan(spark, tmp_path):
    """End-to-end: a retained table vacuumed, then the crash window
    simulated — the Spark read path must heal and serve the current
    view."""
    cfg = EngineConfig(target_partition_rows=500, max_row_group_size=250,
                       salt_threshold_rows=400, retain_superseded=True)
    docs = synth_documents(spark, 1_500, partitions=4)
    out = str(tmp_path / "out")
    encode_documents(spark, docs, out, cfg, n_rows=1_500)
    vacuum(spark, out)
    want = _content(scan(spark, out))

    ldir = lineage_dir(out)
    shutil.copytree(ldir, ldir + ".vacuum")
    os.rename(ldir, ldir + ".expired")
    assert _content(scan(spark, out)) == want
    assert os.path.isdir(ldir)
