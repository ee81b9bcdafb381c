"""Iceberg-style schema evolution (engine/schema_evo.py): add-column
with name-based mapping, safe widening, null-fill on pre-evolution
parts, and the streaming append surface that introduces the column.

The reference pins its table schema at compile time (skar/src/schema.rs);
a long-lived crawl table can't — this is the extension a real 100 TB
deployment needs the first time the upstream adds a field.
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from skar_spark.config import EngineConfig
from skar_spark.engine.decode import scan
from skar_spark.engine.partfile import read_part_file, write_part_file
from skar_spark.engine.schema_evo import (
    load_table_schema,
    merge_schema,
    update_table_schema,
)
from skar_spark.streaming import stream_encode
from skar_spark.synth import DOCS_DDL, synth_batch

CFG = EngineConfig(max_row_group_size=500)

pytestmark = pytest.mark.spark


# --- pure-python layer --------------------------------------------------------

def test_merge_schema_appends_and_widens():
    cols, types = merge_schema(
        ["url", "score"], {"url": "str", "score": "i32"},
        ["url", "score", "quality"],
        {"url": "lstr", "score": "i64", "quality": "f64"})
    assert cols == ["url", "score", "quality"]  # order: old then appended
    assert types == {"url": "lstr", "score": "i64", "quality": "f64"}


def test_merge_schema_rejects_incompatible_change():
    with pytest.raises(TypeError):
        merge_schema(["x"], {"x": "i64"}, ["x"], {"x": "str"})


def test_naive_and_utc_timestamps_are_one_type():
    """A naive and a UTC timestamp of one unit merge to the table's
    existing code; other time zones and units still conflict."""
    assert merge_schema(["ts"], {"ts": "ts:us:"}, ["ts"],
                        {"ts": "ts:us:UTC"})[1] == {"ts": "ts:us:"}
    assert merge_schema(["ts"], {"ts": "ts:us:UTC"}, ["ts"],
                        {"ts": "ts:us:"})[1] == {"ts": "ts:us:UTC"}
    for other in ("ts:ns:", "ts:us:Europe/Berlin"):
        with pytest.raises(TypeError):
            merge_schema(["ts"], {"ts": "ts:us:"}, ["ts"], {"ts": other})


def test_table_schema_versions(tmp_path):
    out = str(tmp_path / "tbl")
    update_table_schema(out, ["a"], {"a": "i64"})
    assert load_table_schema(out) == (["a"], {"a": "i64"})
    # no-change merge writes nothing new
    update_table_schema(out, ["a"], {"a": "i64"})
    import json
    doc = json.loads((tmp_path / "tbl" / "meta" / "schema.json").read_text())
    assert doc["version"] == 1 and doc["history"] == []
    update_table_schema(out, ["a", "b"], {"a": "i64", "b": "str"})
    doc = json.loads((tmp_path / "tbl" / "meta" / "schema.json").read_text())
    assert doc["version"] == 2 and len(doc["history"]) == 1
    assert load_table_schema(out) == (["a", "b"], {"a": "i64", "b": "str"})


def test_read_part_file_null_fills_predating_column(tmp_path):
    t_old = synth_batch(np.arange(0, 700))
    p_old = str(tmp_path / "old.skar")
    write_part_file(p_old, t_old, CFG)

    t_new = synth_batch(np.arange(700, 1000)).append_column(
        "quality", pa.array(np.linspace(0, 1, 300), pa.float64()))
    p_new = str(tmp_path / "new.skar")
    write_part_file(p_new, t_new, CFG)

    fill = {"quality": "f64"}
    got_old = read_part_file(p_old, columns=["url", "quality"],
                             fill_missing=fill)
    assert got_old.num_rows == 700
    assert got_old["quality"].null_count == 700
    assert got_old["quality"].type == pa.float64()

    got_new = read_part_file(p_new, columns=["url", "quality"],
                             fill_missing=fill)
    assert got_new["quality"].null_count == 0
    # without fill_missing the old part still fails loudly (no silent
    # schema guessing on direct part reads)
    with pytest.raises(KeyError):
        read_part_file(p_old, columns=["quality"])


# --- streaming append introduces the column end-to-end ------------------------

def test_stream_append_new_column_end_to_end(spark, tmp_path):
    land = tmp_path / "landing"
    land.mkdir()
    pq.write_table(synth_batch(np.arange(0, 800)), str(land / "a.parquet"))
    out = str(tmp_path / "tbl")

    q = stream_encode(spark, str(land), out, CFG)
    q.awaitTermination(120)
    cols, types = load_table_schema(out)
    assert "quality" not in cols

    # the upstream starts emitting a quality score: new landing files
    # carry it; restart the stream with the extended DDL
    t2 = synth_batch(np.arange(800, 1600))
    t2 = t2.append_column(
        "quality",
        pa.array((np.arange(800, 1600) % 100) / 100.0, pa.float64()))
    pq.write_table(t2, str(land / "b.parquet"))
    q2 = stream_encode(spark, str(land), out, CFG,
                       schema_ddl=DOCS_DDL + ", quality double")
    q2.awaitTermination(120)

    cols, types = load_table_schema(out)
    assert cols[-1] == "quality" and types["quality"] == "f64"

    dec = scan(spark, out)
    assert "quality" in dec.columns
    assert dec.count() == 1600
    # pre-evolution rows null-filled, new rows carry the planted values
    assert dec.filter(F.col("quality").isNull()).count() == 800
    planted = dec.filter(F.col("quality").isNotNull())
    assert planted.count() == 800
    urls2 = {u: float(qv) for u, qv in
             zip(t2["url"].to_pylist(), t2["quality"].to_pylist())}
    for r in planted.select("url", "quality").limit(50).collect():
        assert urls2[r.url] == r.quality

    # projection onto the evolved column alone also works
    only_q = scan(spark, out, columns=["url", "quality"])
    assert only_q.columns == ["url", "quality"]
    assert only_q.filter(F.col("quality").isNotNull()).count() == 800


def test_datasource_reads_evolved_table(spark, tmp_path):
    """spark.read.format("skar") resolves the merged schema and
    null-fills pre-evolution parts, same as scan()."""
    from skar_spark.sources import register
    register(spark)

    land = tmp_path / "landing"
    land.mkdir()
    pq.write_table(synth_batch(np.arange(0, 600)), str(land / "a.parquet"))
    out = str(tmp_path / "tbl")
    q = stream_encode(spark, str(land), out, CFG)
    q.awaitTermination(120)

    t2 = synth_batch(np.arange(600, 900)).append_column(
        "quality", pa.array(np.full(300, 0.5), pa.float64()))
    pq.write_table(t2, str(land / "b.parquet"))
    q2 = stream_encode(spark, str(land), out, CFG,
                       schema_ddl=DOCS_DDL + ", quality double")
    q2.awaitTermination(120)

    df = spark.read.format("skar").load(out)
    assert "quality" in df.columns and "host" in df.columns
    assert df.count() == 900
    assert df.filter(F.col("quality").isNull()).count() == 600
    assert df.filter(F.col("quality") == 0.5).count() == 300


def test_compaction_materializes_evolution(spark, tmp_path):
    """compact_parts on an evolved table rewrites every part onto the
    CURRENT merged schema (Iceberg rewrite materializes evolution):
    pre-evolution rows carry explicit nulls afterwards, content is
    exactly-once, and the table keeps answering with the same values."""
    from skar_spark.engine.compact import compact_parts

    land = tmp_path / "landing"
    land.mkdir()
    pq.write_table(synth_batch(np.arange(0, 600)), str(land / "a.parquet"))
    out = str(tmp_path / "tbl")
    # 3 parts per 600-row epoch, each below compaction's small_rows
    scfg = EngineConfig(max_row_group_size=500, target_partition_rows=200)
    q = stream_encode(spark, str(land), out, scfg)
    q.awaitTermination(120)

    t2 = synth_batch(np.arange(600, 1200)).append_column(
        "quality", pa.array(np.full(600, 0.25), pa.float64()))
    pq.write_table(t2, str(land / "b.parquet"))
    q2 = stream_encode(spark, str(land), out, scfg,
                       schema_ddl=DOCS_DDL + ", quality double")
    q2.awaitTermination(120)

    before = {(r.url, r.quality) for r in
              scan(spark, out).select("url", "quality").collect()}

    res = compact_parts(spark, out, EngineConfig(
        max_row_group_size=500, target_partition_rows=1_000))
    assert res["compacted_parts"] > 0 and res["rows"] == 1200

    after_df = scan(spark, out)
    assert "quality" in after_df.columns
    after = {(r.url, r.quality) for r in
             after_df.select("url", "quality").collect()}
    assert after == before
    assert after_df.filter(F.col("quality").isNull()).count() == 600
    # every compacted part now stores the full merged schema
    from skar_spark.engine.decode import list_part_files
    from skar_spark.engine.partfile import read_footer
    for f in list_part_files(out):
        assert "quality" in read_footer(f)["columns"]


def test_query_handler_and_scan_paged_on_evolved_table(spark, tmp_path):
    from skar_spark.engine.decode import scan_paged
    from skar_spark.query import run_query

    land = tmp_path / "landing"
    land.mkdir()
    pq.write_table(synth_batch(np.arange(0, 400)), str(land / "a.parquet"))
    out = str(tmp_path / "tbl")
    q = stream_encode(spark, str(land), out, CFG)
    q.awaitTermination(120)
    t2 = synth_batch(np.arange(400, 600)).append_column(
        "quality", pa.array(np.full(200, 0.75), pa.float64()))
    pq.write_table(t2, str(land / "b.parquet"))
    q2 = stream_encode(spark, str(land), out, CFG,
                       schema_ddl=DOCS_DDL + ", quality double")
    q2.awaitTermination(120)

    res = run_query(spark, out, {"field_selection": ["url", "quality"],
                                 "max_rows": 10_000})
    assert res["num_rows"] == 600
    n_null = sum(1 for r in res["rows"] if r["quality"] is None)
    assert n_null == 400
    assert all(r["quality"] in (None, 0.75) for r in res["rows"])

    rows, nxt = scan_paged(spark, out, columns=["url", "quality"],
                           time_limit_ms=None)
    assert nxt is None and len(rows) == 600
    assert sum(1 for r in rows if r.quality is None) == 400


def test_concurrent_schema_updates_lose_no_columns(tmp_path):
    """Concurrent committers racing on meta/schema.json must not lose
    columns: on POSIX roots the advisory flock serializes the
    read-merge-write, so every writer's column survives every
    interleaving. 8 threads × 25 updates, each adding its own column
    repeatedly from a shared base."""
    import threading

    out = str(tmp_path / "tbl")
    update_table_schema(out, ["url"], {"url": "str"})
    errs = []

    def writer(i):
        try:
            for _ in range(25):
                update_table_schema(out, ["url", f"q{i}"],
                                    {"url": "str", f"q{i}": "f64"})
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(i,))
               for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    cols, types = load_table_schema(out)
    assert {f"q{i}" for i in range(8)} <= set(types)
    assert cols[0] == "url" and len(cols) == 9


def test_no_change_append_reads_schema_once(spark, tmp_path, monkeypatch):
    """Every lineage commit merges its schema into meta/schema.json; a
    commit that changes nothing costs exactly one GET of it (a missing
    object reads as None), never an exists probe plus a GET."""
    from skar_spark.engine import storage
    from skar_spark.engine.encode import append_documents, encode_documents

    land = tmp_path / "land"
    land.mkdir()
    pq.write_table(synth_batch(np.arange(0, 200)), str(land / "a.parquet"))
    pq.write_table(synth_batch(np.arange(200, 250)), str(land / "b.parquet"))
    out = str(tmp_path / "tbl")
    docs = spark.read.schema(DOCS_DDL).parquet
    encode_documents(spark, docs(str(land / "a.parquet")), out, CFG,
                     n_rows=200)
    calls = []
    for name in ("get_bytes", "exists"):
        real = getattr(storage, name)

        def counting(path, *a, _name=name, _real=real, **kw):
            if path.endswith("schema.json"):
                calls.append(_name)
            return _real(path, *a, **kw)

        monkeypatch.setattr(storage, name, counting)
    assert append_documents(spark, docs(str(land / "b.parquet")), out,
                            CFG) > 0
    assert calls == ["get_bytes"]


def test_stream_onto_tz_naive_table(spark, tmp_path):
    """A table encoded from a parquet file whose warc_ts has no time zone
    (its parts record `ts:us:`) takes stream epochs, which read the
    landing data as UTC (`ts:us:UTC`): the epoch commits, the table keeps
    its code, and scan returns every row at its instant."""
    from skar_spark.engine.encode import encode_documents

    first = synth_batch(np.arange(0, 600))
    assert first.schema.field("warc_ts").type == pa.timestamp("us")
    naive = str(tmp_path / "naive.parquet")
    pq.write_table(first, naive)
    out = str(tmp_path / "out")
    encode_documents(spark, spark.read.parquet(naive), out, CFG,
                     n_rows=600)
    assert load_table_schema(out)[1]["warc_ts"] == "ts:us:"

    landing = tmp_path / "landing"
    landing.mkdir()
    epoch = synth_batch(np.arange(600, 1000))
    pq.write_table(epoch, str(landing / "e.parquet"))
    stream_encode(spark, str(landing), out, CFG).awaitTermination(120)
    assert load_table_schema(out)[1]["warc_ts"] == "ts:us:"

    got = scan(spark, out).select(
        "url", F.unix_micros("warc_ts").alias("us")).toArrow()
    want = pa.concat_tables([first, epoch])
    assert sorted(zip(got["url"].to_pylist(), got["us"].to_pylist())) \
        == sorted(zip(want["url"].to_pylist(),
                      want["warc_ts"].cast(pa.int64()).to_pylist()))
