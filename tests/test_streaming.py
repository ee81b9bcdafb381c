"""Streaming ingest tests — the T1/T3/T4 mirror (continuous encode with
exactly-once micro-batch commits; SURVEY §2.7)."""

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from skar_spark.config import EngineConfig
from skar_spark.engine.decode import scan
from skar_spark.streaming import stream_encode, windowed_rate
from skar_spark.synth import synth_batch

CFG = EngineConfig(max_row_group_size=500)

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    # two "arrivals" as separate files (distinct micro-batch fodder)
    pq.write_table(synth_batch(np.arange(0, 1500)), str(d / "a.parquet"))
    pq.write_table(synth_batch(np.arange(1500, 2500)), str(d / "b.parquet"))
    return str(d)


def test_stream_encode_drains_and_roundtrips(spark, landing, tmp_path):
    out = str(tmp_path / "stream_out")
    q = stream_encode(spark, landing, out, CFG)
    q.awaitTermination(120)

    dec = scan(spark, out)
    assert dec.count() == 2500
    # content identity vs the landing data
    src = spark.read.parquet(landing).select("url", "text")
    back = dec.select("url", "text")
    assert src.exceptAll(back).count() == 0
    assert back.exceptAll(src).count() == 0

    # restart with nothing new: checkpoint makes it a no-op (exactly-once)
    q2 = stream_encode(spark, landing, out, CFG)
    q2.awaitTermination(60)
    assert scan(spark, out).count() == 2500


def test_windowed_rate_with_watermark(spark, landing, tmp_path):
    agg = windowed_rate(spark, landing, window="1 hour", watermark="2 hours")
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("rate_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM rate_out").collect()
    assert len(rows) > 0
    assert sum(r.n_docs for r in rows) == 2500


def test_backpressure_bounds_microbatch_volume(spark, tmp_path):
    """T5: maxFilesPerTrigger caps every micro-batch's input — with 12
    landing files and a 4-file trigger the stream must commit >= 3
    epochs, each encoding at most 4 files' worth of rows."""
    import pyarrow.parquet as _pq

    from skar_spark.engine.encode import read_lineage

    d = tmp_path / "landing12"
    d.mkdir()
    per_file = 200
    for i in range(12):
        _pq.write_table(
            synth_batch(np.arange(i * per_file, (i + 1) * per_file)),
            str(d / f"f{i:02d}.parquet"))
    out = str(tmp_path / "bp_out")
    q = stream_encode(spark, str(d), out, CFG,
                      max_files_per_trigger=4)
    q.awaitTermination(180)

    lin = read_lineage(spark, out)
    rows = lin.select("attempt_id", "row_count").collect()
    per_epoch = {}
    for r in rows:
        per_epoch[r.attempt_id] = per_epoch.get(r.attempt_id, 0) \
            + r.row_count
    assert len(per_epoch) >= 3          # the stream really micro-batched
    assert sum(per_epoch.values()) == 12 * per_file
    assert max(per_epoch.values()) <= 4 * per_file  # bounded per epoch
    # injective namespacing: no part file collided across epochs
    assert scan(spark, out).count() == 12 * per_file


def test_poison_file_quarantined_stream_survives(spark, tmp_path):
    """Ingest resilience: a corrupt landing file must not kill the
    stream or poison its micro-batch forever — it is moved to
    out/quarantine with a log, the batch re-runs without it, and the
    good files' rows land exactly once."""
    import os

    d = tmp_path / "landing_poison"
    d.mkdir()
    per_file = 300
    for i in range(3):
        pq.write_table(
            synth_batch(np.arange(i * per_file, (i + 1) * per_file)),
            str(d / f"good{i}.parquet"))
    poison = d / "corrupt.parquet"
    poison.write_bytes(b"PAR1 this is not really a parquet file \xff\x00" * 40)

    out = str(tmp_path / "poison_out")
    q = stream_encode(spark, str(d), out, CFG)
    q.awaitTermination(180)

    # the poison file was moved aside, visibly — never silently dropped
    assert not poison.exists()
    assert os.path.isfile(os.path.join(out, "quarantine", "corrupt.parquet"))
    # every good row landed exactly once
    dec = scan(spark, out)
    assert dec.count() == 3 * per_file
    src = spark.read.parquet(str(d)).select("url", "text")
    back = dec.select("url", "text")
    assert src.exceptAll(back).count() == 0
    assert back.exceptAll(src).count() == 0


def test_stream_sessionize_stateful_gap_sessions(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState + event-time
    timeout): per-host sessions close once the watermark passes
    last_ts + gap and are emitted exactly once with correct bounds."""
    import time as _time

    import pyarrow as pa

    from skar_spark.streaming import stream_sessionize

    t0 = 1_700_000_000_000_000  # epoch us

    def batch(rows):
        return pa.table({
            "url": pa.array([u for u, _ in rows], pa.string()),
            "warc_ts": pa.array([t0 + off * 1_000_000 for _, off in rows],
                                pa.timestamp("us")),
            "html": pa.array([b"<p>x</p>"] * len(rows), pa.binary()),
            "text": pa.array(["x"] * len(rows), pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
        })

    d = tmp_path / "landing_sess"
    d.mkdir()
    # file 0: two hosts' sessions (a: 3 docs over 120 s, b: 2 docs),
    # plus host d with TWO bursts separated by an in-batch gap > 600 s
    # (the internal-gap split must emit the first burst immediately)
    pq.write_table(batch([("https://a.example/1", 0),
                          ("https://a.example/2", 60),
                          ("https://a.example/3", 120),
                          ("https://b.example/1", 30),
                          ("https://b.example/2", 90),
                          ("https://d.example/1", 0),
                          ("https://d.example/2", 60),
                          ("https://d.example/3", 2000),
                          ("https://d.example/4", 2060)]),
                   str(d / "f0.parquet"))
    _time.sleep(0.05)  # oldest-first file order by mtime
    # file 1 advances event time by 2 h; file 2 by 4 h — the batch
    # AFTER file 1 carries watermark t0+2h, which is past a/b's
    # last_ts + gap (600 s), so their sessions time out and emit
    pq.write_table(batch([("https://c.example/1", 7200)]),
                   str(d / "f1.parquet"))
    _time.sleep(0.05)
    pq.write_table(batch([("https://c.example/2", 14400)]),
                   str(d / "f2.parquet"))

    sessions = stream_sessionize(spark, str(d), gap_sec=600,
                                 max_files_per_trigger=1)
    q = (sessions.writeStream.outputMode("append").format("memory")
         .queryName("sess_out")
         .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    rows = spark.sql("SELECT * FROM sess_out").collect()
    got = {}
    for r in rows:
        got.setdefault(r.host, []).append(r)
    # d closed TWICE (in-batch gap + timeout); c's first watermark-probe
    # event closes by the gap split when its second arrives (7200 s
    # apart > gap), its last stays open
    assert set(got) == {"a.example", "b.example", "c.example",
                        "d.example"}
    (c,) = got["c.example"]
    assert c.n_docs == 1 and c.session_start == c.session_end
    (a,), (b,) = got["a.example"], got["b.example"]
    assert a.n_docs == 3 and b.n_docs == 2
    assert (a.session_end - a.session_start).total_seconds() == 120
    assert (b.session_end - b.session_start).total_seconds() == 60
    d_sessions = sorted(got["d.example"], key=lambda r: r.session_start)
    assert [r.n_docs for r in d_sessions] == [2, 2]
    assert (d_sessions[1].session_start
            - d_sessions[0].session_end).total_seconds() == 1940


def test_transient_failure_retried_with_backoff(spark, tmp_path, monkeypatch):
    """A failure that names no unreadable file is retried with backoff
    and succeeds once the fault clears."""
    import skar_spark.engine.encode as encode_mod

    d = tmp_path / "landing_transient"
    d.mkdir()
    pq.write_table(synth_batch(np.arange(0, 400)), str(d / "a.parquet"))
    out = str(tmp_path / "transient_out")

    real_alloc = encode_mod.allocate_part_ids
    fails = {"n": 2}

    def flaky_alloc(*args, **kwargs):
        if fails["n"] > 0:
            fails["n"] -= 1
            raise RuntimeError("simulated transient planner fault")
        return real_alloc(*args, **kwargs)

    # every epoch allocates its part ids in encode.encode_increment
    monkeypatch.setattr(encode_mod, "allocate_part_ids", flaky_alloc)
    q = stream_encode(spark, str(d), out, CFG,
                      max_retries=3, backoff_base_sec=0.05)
    q.awaitTermination(120)
    assert fails["n"] == 0  # both injected faults were consumed by retries
    assert scan(spark, out).count() == 400


def test_max_bytes_per_trigger_bounds_epoch_bytes(spark, tmp_path):
    """VERDICT r03 item 9 (rate-limit analog, endpoint.rs:191-245):
    maxBytesPerTrigger bounds each micro-batch's input in BYTES — with
    6 equal landing files and a budget of ~1.5 files, every epoch
    admits at most 2 files (soft cap: ≥1 file always admitted)."""
    import os

    import pyarrow.parquet as _pq

    from skar_spark.engine.encode import read_lineage

    d = tmp_path / "landing_bytes"
    d.mkdir()
    per_file = 200
    for i in range(6):
        _pq.write_table(
            synth_batch(np.arange(i * per_file, (i + 1) * per_file)),
            str(d / f"f{i}.parquet"))
    fsize = os.path.getsize(str(d / "f0.parquet"))
    out = str(tmp_path / "bytes_out")
    q = stream_encode(spark, str(d), out, CFG,
                      max_files_per_trigger=100,   # files don't bound
                      max_bytes_per_trigger=int(fsize * 1.5))
    q.awaitTermination(180)

    lin = read_lineage(spark, out)
    per_epoch = {}
    for r in lin.select("attempt_id", "row_count").collect():
        per_epoch[r.attempt_id] = per_epoch.get(r.attempt_id, 0) \
            + r.row_count
    assert sum(per_epoch.values()) == 6 * per_file   # nothing lost
    assert len(per_epoch) >= 3                       # really bounded
    assert max(per_epoch.values()) <= 2 * per_file   # ≤ 2 files/epoch


def test_max_bytes_per_sec_paces_intake(spark, tmp_path):
    """r5 rate-limit analog (endpoint.rs:191-245 per-endpoint governor):
    with a byte RATE cap, draining the landing dir must take at least
    admitted_bytes / rate wall seconds; uncapped it runs much faster;
    and the paced run still encodes every row exactly once."""
    import time as _time

    import pyarrow.parquet as _pq

    from skar_spark.engine.decode import scan

    d = tmp_path / "landing_rate"
    d.mkdir()
    per_file = 150
    for i in range(3):
        _pq.write_table(
            synth_batch(np.arange(i * per_file, (i + 1) * per_file)),
            str(d / f"f{i}.parquet"))

    # logical bytes of the dataset (the same measure the limiter uses)
    docs = spark.read.parquet(str(d))
    from pyspark.sql import functions as F
    total = docs.agg(F.sum(sum(
        F.coalesce(F.octet_length(F.col(c)), F.lit(0))
        for c in ("url", "text", "html", "lang"))).alias("b")) \
        .collect()[0].b

    rate = total / 4.0               # → ≥ 4 s of pacing across epochs
    out = str(tmp_path / "rate_out")
    t0 = _time.time()
    q = stream_encode(spark, str(d), out, CFG,
                      max_files_per_trigger=1,
                      max_bytes_per_sec=rate)
    q.awaitTermination(240)
    elapsed = _time.time() - t0
    assert elapsed >= total / rate - 0.5, (elapsed, total / rate)
    assert scan(spark, out).count() == 3 * per_file  # exactly once


def test_stream_auto_compaction_bounds_parts(spark, tmp_path):
    """auto_compact_every=K keeps the part count bounded while the
    stream runs (continuous hot→cold tiering): content stays exactly
    once, the compaction marker lands mid-stream, post-compaction
    epochs append above the high-water, and a checkpoint restart with
    nothing new is a no-op."""
    import pyarrow.parquet as _pq

    from skar_spark.engine.compact import compaction_high_water, is_compacted
    from skar_spark.engine.encode import read_lineage

    d = tmp_path / "landing_ac"
    d.mkdir()
    for i in range(4):
        _pq.write_table(synth_batch(np.arange(i * 600, (i + 1) * 600)),
                        str(d / f"f{i}.parquet"))
    out = str(tmp_path / "ac_out")
    cfg = EngineConfig(max_row_group_size=500, target_partition_rows=5000)
    q = stream_encode(spark, str(d), out, cfg,
                      max_files_per_trigger=1, auto_compact_every=2)
    q.awaitTermination(240)

    assert is_compacted(out)
    hw = compaction_high_water(out)
    assert hw is not None and hw > 0
    dec = scan(spark, out)
    assert dec.count() == 2400
    src = spark.read.parquet(str(d)).select("url", "text")
    back = dec.select("url", "text")
    assert src.exceptAll(back).count() == 0
    assert back.exceptAll(src).count() == 0
    # 4 epochs × 1 part/epoch (600 rows under the 5,000-row target; a
    # smaller target would make the parts too big to be compaction
    # candidates); compaction ran at epochs 1 and 3, so the live set
    # must be below the 4 raw parts
    n_live = read_lineage(spark, out, latest=True) \
        .filter(F.col("status") == "committed").count()
    assert n_live < 4, n_live

    # restart with nothing new: exactly-once via checkpoint
    q2 = stream_encode(spark, str(d), out, cfg,
                       max_files_per_trigger=1, auto_compact_every=2)
    q2.awaitTermination(120)
    assert scan(spark, out).count() == 2400
