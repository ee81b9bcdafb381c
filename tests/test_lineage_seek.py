"""Indexed lineage seek (VERDICT r03 item 3) — the single-node analog of
the reference's keyed mdbx range cursor (db/mod.rs:217-305): lineage is
written sorted by min_warc_ts, so a ts-filtered planning pass reads only
the parquet row groups whose stats overlap the range instead of
streaming all N partition rows.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from skar_spark.engine.decode import prune_partitions

N_PARTS = 50_000
DAY_US = 86_400_000_000
T0 = 1_700_000_000_000_000  # epoch us


def _build_big_lineage(out: str):
    """50k-partition table: day-ranged partitions (the day_hash layout
    shape), lineage sorted by min_warc_ts, 1000-row row groups."""
    parts_dir = os.path.join(out, "parts")
    ldir = os.path.join(out, "lineage")
    os.makedirs(parts_dir)
    os.makedirs(ldir)

    pids = np.arange(N_PARTS)
    day = pids // 100  # 100 partitions per day, 500 days
    files = [os.path.join(parts_dir, f"part-{p:06d}.skar")
             for p in pids]
    for f in files:
        open(f, "wb").close()
    t = pa.table({
        "partition_id": pa.array(pids, pa.int32()),
        "file": pa.array(files),
        "status": pa.array(["committed"] * N_PARTS),
        "min_warc_ts": pa.array(T0 + day * DAY_US,
                                pa.timestamp("us", "UTC")),
        "max_warc_ts": pa.array(T0 + (day + 1) * DAY_US - 1,
                                pa.timestamp("us", "UTC")),
        "host_bloom": pa.array([None] * N_PARTS, pa.binary()),
        "committed_at": pa.array([1.0] * N_PARTS, pa.float64()),
    })
    pq.write_table(t, os.path.join(ldir, "lineage.parquet"),
                   row_group_size=1000)
    return out, day, files


@pytest.fixture(scope="module")
def big_lineage(tmp_path_factory):
    return _build_big_lineage(str(tmp_path_factory.mktemp("seek") / "out"))


def test_seek_reads_fraction_of_rowgroups(big_lineage):
    out, day, files = big_lineage
    # 2-day window in the middle: 200 of 50k partitions
    lo = T0 + 250 * DAY_US
    hi = T0 + 252 * DAY_US
    stats: dict = {}
    got = prune_partitions(out, ts_range=(lo, hi), seek_stats=stats)
    # [lo, hi) semantics: day 252 starts exactly AT hi → excluded
    want = [f for f, d in zip(files, day) if 250 <= d < 252]
    assert got == sorted(want)
    # seek: only the row groups whose stats overlap the window are read
    assert stats["rg_total"] == N_PARTS // 1000
    assert stats["rg_read"] <= 3, stats


def test_seek_agrees_with_full_stream(big_lineage):
    """Differential: the seeking pruner must return exactly what the
    streaming pruner returns for a range crossing row-group borders."""
    out, day, files = big_lineage
    lo = T0 + 99 * DAY_US + 1
    hi = T0 + 101 * DAY_US + 1
    stats: dict = {}
    got = prune_partitions(out, ts_range=(lo, hi), seek_stats=stats)
    # full stream: widen the range to everything, filter manually
    all_files = prune_partitions(out)
    keep = [f for f, d in zip(files, day)
            if not (T0 + d * DAY_US >= hi or T0 + (d + 1) * DAY_US - 1 < lo)]
    assert got == sorted(keep)
    assert set(got) <= set(all_files)
    assert stats["rg_read"] < stats["rg_total"] // 4


def test_unfiltered_scan_untouched_by_seek(big_lineage):
    out, _day, files = big_lineage
    assert prune_partitions(out) == sorted(files)


@pytest.mark.spark
def test_vacuum_keeps_lineage_seekable(spark, tmp_path):
    """vacuum rewrites this lineage (which has no attempt_id, row_count
    or col_stats column) to the same ts-pruned file set, and the
    rewrite still seeks."""
    from skar_spark.engine.encode import vacuum

    out, _day, _files = _build_big_lineage(str(tmp_path / "out"))
    ts = (T0 + 250 * DAY_US, T0 + 252 * DAY_US)
    before = prune_partitions(out, ts_range=ts)
    assert vacuum(spark, out) == []
    stats: dict = {}
    assert prune_partitions(out, ts_range=ts, seek_stats=stats) == before
    assert stats["rg_read"] < stats["rg_total"], stats
