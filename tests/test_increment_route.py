"""The two routes of encode.encode_increment: a one-part increment under
the collect bound is collected once and encoded on the driver; every
other increment goes through the encode_footers exchange. The driver
route must write the same part bytes and footer row as the exchange
would, and run at most two Spark jobs."""

import dataclasses
import hashlib

import numpy as np
import pyarrow.parquet as pq
import pytest

from skar_spark.config import EngineConfig
from skar_spark.engine import encode
from skar_spark.engine.decode import scan
from skar_spark.engine.encode import (append_documents, encode_documents,
                                      lineage_table)
from skar_spark.streaming import stream_encode
from skar_spark.synth import DOCS_DDL, synth_batch

pytestmark = pytest.mark.spark

# the 600-doc increment plans to one part; its Zipf head host is above
# the salt threshold, so the exchange route salts it
CFG = EngineConfig(target_partition_rows=1_000, max_row_group_size=200,
                   salt_threshold_rows=100)
# footer fields that name the attempt, the file or the clock
VOLATILE = {"attempt_id", "file", "committed_at", "sort_sec", "encode_sec",
            "meta_sec"}


def _docs(spark, lo: int, hi: int, partitions: int):
    """Synth docs lo..hi-1 over `partitions` input partitions."""
    def gen(batches):
        for b in batches:
            yield from synth_batch(b.column("id").to_numpy()).to_batches()

    return spark.range(lo, hi, 1, partitions).mapInArrow(gen, DOCS_DDL)


def _table(spark, out: str) -> None:
    encode_documents(spark, _docs(spark, 0, 400, 2), out, CFG,
                     num_parts=2, n_rows=400)


def _footers_spy(monkeypatch) -> list:
    calls = []
    real = encode.encode_footers

    def spy(planned, part_ids, *a, **kw):
        calls.append(list(part_ids))
        return real(planned, part_ids, *a, **kw)

    monkeypatch.setattr(encode, "encode_footers", spy)
    return calls


def _appended(out: str) -> tuple[str, dict]:
    """(sha256 of the appended part file, its footer row minus VOLATILE)."""
    lin = lineage_table(out).sort_by("partition_id").to_pylist()[-1]
    with open(lin["file"], "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    return digest, {k: v for k, v in lin.items() if k not in VOLATILE}


def test_driver_route_writes_the_exchange_bytes(spark, tmp_path,
                                                monkeypatch):
    """One increment appended twice onto equal tables: through the
    driver route, and (collect bound 0) through encode_footers planned
    to one part. Small Arrow batches give the kernel and the collect
    differently chunked input."""
    calls = _footers_spy(monkeypatch)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "128")
    try:
        routes = {}
        for route, bound in (("driver", 1 << 30), ("exchange", 0)):
            out = str(tmp_path / route)
            _table(spark, out)
            monkeypatch.setattr(encode, "max_result_bytes",
                                lambda _s, _b=bound: _b)
            calls.clear()
            assert append_documents(spark, _docs(spark, 400, 1_000, 3),
                                    out, CFG) == 1
            assert calls == ([] if route == "driver" else [[2]])
            routes[route] = _appended(out)
    finally:
        spark.conf.set(conf, old)
    (d_sha, d_row), (x_sha, x_row) = routes["driver"], routes["exchange"]
    assert d_row["partition_id"] == 2 and d_row["row_count"] == 600
    assert d_sha == x_sha
    assert d_row == x_row
    assert scan(spark, str(tmp_path / "driver")).count() == 1_000


def test_small_append_runs_two_jobs(spark, tmp_path):
    """A 64-doc append runs the totals action and one Arrow collect:
    no heavy-host job, no exchange, no kernel job."""
    out = str(tmp_path / "t")
    _table(spark, out)
    inc = _docs(spark, 400, 464, 1)
    sc = spark.sparkContext
    group = "small-append"
    sc.setJobGroup(group, "64-doc append")
    try:
        assert append_documents(spark, inc, out, CFG) == 1
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert scan(spark, out).count() == 464


def test_other_increments_take_the_exchange(spark, tmp_path, monkeypatch):
    """Two planned parts, or one part over the collect bound, commit
    through encode_footers."""
    out = str(tmp_path / "t")
    _table(spark, out)
    calls = _footers_spy(monkeypatch)
    two_parts = dataclasses.replace(CFG, target_partition_rows=300)
    assert append_documents(spark, _docs(spark, 400, 1_000, 3), out,
                            two_parts) == 2
    assert calls == [[2, 3]]
    monkeypatch.setattr(encode, "max_result_bytes", lambda _s: 1 << 10)
    assert append_documents(spark, _docs(spark, 1_000, 1_100, 1), out,
                            CFG) == 1
    assert calls == [[2, 3], [4]]
    assert scan(spark, out).count() == 1_100


@pytest.mark.parametrize("target,routes", [(1_000, []), (250, [[0, 1, 2]])])
def test_stream_epoch_is_sized_by_the_target(spark, tmp_path, monkeypatch,
                                             target, routes):
    """A 600-row epoch commits ceil(600 / target) parts: one, on the
    driver route, under a 1,000-row target; three through
    encode_footers under a 250-row target."""
    land = tmp_path / "land"
    land.mkdir()
    pq.write_table(synth_batch(np.arange(0, 600)), str(land / "f.parquet"))
    out = str(tmp_path / "out")
    calls = _footers_spy(monkeypatch)
    stream_encode(spark, str(land), out,
                  dataclasses.replace(CFG, target_partition_rows=target)
                  ).awaitTermination(120)
    assert calls == routes
    assert sorted(lineage_table(out)["partition_id"].to_pylist()) == \
        list(range(-(-600 // target)))
    assert scan(spark, out).count() == 600


def test_collect_bound_is_the_sessions_max_result_size(spark):
    assert encode.max_result_bytes(spark) == 1 << 30  # Spark's 1g default
