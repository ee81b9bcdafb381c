"""day(warc_ts) × bucket(host) partition scheme — range+hash layout.

The Iceberg-style layout from SURVEY §1.3 (mirror of skar's block-range
folders, its time-range partitions): each partition covers one day, so
lineage min/max warc_ts prunes whole partitions for time-windowed scans.
"""

import pytest
from pyspark.sql import functions as F

from skar_spark.config import EngineConfig
from skar_spark.engine.decode import list_part_files, prune_partitions, scan
from skar_spark.engine.encode import encode_documents
from skar_spark.synth import synth_documents, T0_US

pytestmark = pytest.mark.spark

N_DOCS = 6_000  # synth spans N_DOCS seconds; widen ts to several days below
CFG = EngineConfig(target_partition_rows=1_000, max_row_group_size=500)


@pytest.fixture(scope="module")
def docs(spark):
    d = synth_documents(spark, N_DOCS, partitions=8)
    # stretch timestamps ~500× so the data spans ~5 weeks of days
    return d.withColumn(
        "warc_ts",
        F.timestamp_micros(
            (F.unix_micros("warc_ts") - F.lit(T0_US)) * 500 + F.lit(T0_US)))


def test_day_hash_encode_and_ts_pruning(spark, docs, tmp_path):
    out = str(tmp_path / "dayout")
    lin = encode_documents(spark, docs, out, CFG, scheme="day_hash")
    assert lin.agg(F.sum("row_count")).collect()[0][0] == N_DOCS

    # every partition spans at most one day
    spans = lin.select(
        F.datediff(F.to_date("max_warc_ts"),
                   F.to_date("min_warc_ts")).alias("d")).collect()
    assert all(r.d == 0 for r in spans)

    # partition-level time pruning now actually prunes
    all_files = list_part_files(out)
    lo = T0_US + 10 * 86_400_000_000   # day 10
    hi = T0_US + 11 * 86_400_000_000
    kept = prune_partitions(out, ts_range=(lo, hi))
    assert 0 < len(kept) < len(all_files) // 4

    got = scan(spark, out, columns=["url", "warc_ts"], ts_range=(lo, hi))
    want = docs.filter(
        (F.unix_micros("warc_ts") >= lo) & (F.unix_micros("warc_ts") < hi))
    got_exact = got.filter(
        (F.unix_micros("warc_ts") >= lo) & (F.unix_micros("warc_ts") < hi))
    assert got_exact.count() == want.count()
    # full content identity for the window
    a = want.select("url")
    b = got_exact.select("url")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_day_hash_resume(spark, docs, tmp_path):
    out = str(tmp_path / "dayresume")
    cfg = EngineConfig(target_partition_rows=1_000, max_row_group_size=500,
                       batch_partitions=8)
    encode_documents(spark, docs, out, cfg, scheme="day_hash", max_batches=2)
    lin = encode_documents(spark, docs, out, cfg, scheme="day_hash",
                           resume=True)
    assert lin.agg(F.sum("row_count")).collect()[0][0] == N_DOCS
    ids = [r.partition_id for r in lin.select("partition_id").collect()]
    assert len(ids) == len(set(ids))
