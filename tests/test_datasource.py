"""spark.read.format("skar") — Python DataSource over encoded output."""

import pytest
from pyspark.sql import functions as F

from skar_spark.config import EngineConfig
from skar_spark.engine.encode import encode_documents
from skar_spark.sources import register
from skar_spark.synth import T0_US, synth_documents

pytestmark = pytest.mark.spark

CFG = EngineConfig(target_partition_rows=1_000, max_row_group_size=500)


@pytest.fixture(scope="module")
def encoded(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ds") / "out")
    docs = synth_documents(spark, 4_000, partitions=8)
    encode_documents(spark, docs, out, CFG, n_rows=4_000)
    register(spark)
    return out


def test_full_read(spark, encoded):
    df = spark.read.format("skar").load(encoded)
    assert df.count() == 4_000
    assert set(df.columns) == {"url", "warc_ts", "html", "text", "lang",
                               "host"}
    # derived host column matches the url
    bad = df.filter(~F.col("url").contains(F.col("host"))).count()
    assert bad == 0


def _some_host(spark, encoded):
    df = spark.read.format("skar").load(encoded)
    return df.groupBy("host").count().orderBy("count").first()["host"]


def test_filter_pushdown_host_prunes_partitions(spark, encoded):
    """A plain .filter(col('host') == x) must prune partitions at plan
    time (the automatic constant pushdown of handler.rs:144-158) and
    return exactly the matching rows."""
    h = _some_host(spark, encoded)
    df = spark.read.format("skar").load(encoded)
    full_parts = df.rdd.getNumPartitions()
    filtered = df.filter(F.col("host") == h)
    assert filtered.rdd.getNumPartitions() < full_parts
    want = df.filter(F.col("host") == h).count()
    assert filtered.count() == want > 0
    # exactness end-to-end vs source-of-truth
    src = synth_documents(spark, 4_000, partitions=8)
    src_n = src.filter(
        F.regexp_extract("url", r"^[a-z][a-z0-9+.-]*://([^/?#]*).*$", 1)
        == h).count()
    assert filtered.count() == src_n


def test_filter_pushdown_ts_range(spark, encoded):
    lo = T0_US + 500 * 1_000_000
    hi = T0_US + 1_500 * 1_000_000
    df = spark.read.format("skar").load(encoded)
    filtered = df.filter(
        (F.unix_micros("warc_ts") >= lo) & (F.unix_micros("warc_ts") < hi))
    pushed = df.filter(
        (F.col("warc_ts") >= F.timestamp_micros(F.lit(lo)))
        & (F.col("warc_ts") < F.timestamp_micros(F.lit(hi))))
    assert pushed.count() == filtered.count() > 0


def test_filter_pushdown_url_point_lookup(spark, encoded):
    df = spark.read.format("skar").load(encoded)
    url = df.select("url").first()["url"]
    full_parts = df.rdd.getNumPartitions()
    hit = df.filter(F.col("url") == url)
    assert hit.count() == 1
    assert hit.rdd.getNumPartitions() < full_parts


def test_projection(spark, encoded):
    df = (spark.read.format("skar").option("columns", "url,lang")
          .load(encoded))
    assert df.columns == ["url", "lang"]
    assert df.count() == 4_000


def test_ts_window_pruned_read(spark, encoded):
    """A `where` option seeds the read predicate; the seeded read is
    exactly the Spark-filtered full read."""
    import json

    lo, hi = T0_US + 500 * 1_000_000, T0_US + 1_500 * 1_000_000
    df = (spark.read.format("skar")
          .option("where", json.dumps([{"ts_range": [lo, hi]}]))
          .load(encoded).select("url", "warc_ts", "text"))
    full = spark.read.format("skar").load(encoded).filter(
        (F.unix_micros("warc_ts") >= lo) & (F.unix_micros("warc_ts") < hi)
    ).select("url", "warc_ts", "text")
    assert df.count() == full.count() > 0
    assert df.exceptAll(full).count() == 0
    assert full.exceptAll(df).count() == 0


def test_content_matches_source(spark, encoded):
    df = spark.read.format("skar").load(encoded).select("url", "text")
    src = synth_documents(spark, 4_000, partitions=8).select("url", "text")
    assert df.exceptAll(src).count() == 0
    assert src.exceptAll(df).count() == 0


def test_filter_pushdown_lang_prunes_partitions(spark, encoded):
    """.filter(col('lang') == rare) is absorbed by pushFilters: planning
    prunes partitions via the lang bloom family and the read task applies
    the equality exactly."""
    df = spark.read.format("skar").load(encoded)
    counts = {r.lang: r["count"] for r in
              df.groupBy("lang").count().collect()}
    rare = min(counts, key=counts.get)
    full_parts = df.rdd.getNumPartitions()
    filtered = df.filter(F.col("lang") == rare)
    assert filtered.rdd.getNumPartitions() < full_parts
    assert filtered.count() == counts[rare] > 0
    assert set(r.lang for r in filtered.select("lang").collect()) == {rare}


def test_paged_read_cursor_resumes_to_completion(spark, encoded):
    """DataSource pagination (the next_block cursor analog): bounded
    pages, resume via cursor, full coverage with no duplicates."""
    from skar_spark.sources import read_paged

    full = spark.read.format("skar").load(encoded)
    total = full.count()
    full_parts = full.rdd.getNumPartitions()
    assert full_parts > 2

    seen = 0
    pages = 0
    cursor = 0
    urls = set()
    while cursor is not None:
        df, cursor = read_paged(spark, encoded, cursor=cursor, page_files=2)
        assert df.rdd.getNumPartitions() <= 2
        rows = df.select("url").collect()
        seen += len(rows)
        urls.update(r.url for r in rows)
        pages += 1
        assert pages < 100
    assert pages >= (full_parts + 1) // 2
    assert seen == total          # no duplicates (set size == row count)
    assert len(urls) == total


def test_read_paged_page_is_pinned(spark, tmp_path):
    """The page read_paged returns is the page it computed: a part
    appended after the call (its id is above every existing one) joins
    no earlier page, even the last one, whose cursor is None."""
    import numpy as np
    import pyarrow.parquet as pq

    from skar_spark.engine.encode import append_documents
    from skar_spark.sources import read_paged
    from skar_spark.synth import DOCS_DDL, synth_batch

    out = str(tmp_path / "out")
    encode_documents(spark, synth_documents(spark, 2_000, partitions=4),
                     out, CFG, n_rows=2_000)
    df, cursor = read_paged(spark, out, page_files=64)
    assert cursor is None
    inc = str(tmp_path / "inc.parquet")
    pq.write_table(synth_batch(np.arange(2_000, 2_100)), inc)
    assert append_documents(spark, spark.read.schema(DOCS_DDL).parquet(inc),
                            out, CFG) == 1
    assert df.count() == 2_000
    assert df.count() == 2_000
    assert spark.read.format("skar").load(out).count() == 2_100


def test_read_paged_page_fails_after_compaction(spark, tmp_path):
    """A compaction between read_paged and the page's first action
    retires the page's partitions: the action raises instead of
    reading fewer rows."""
    from skar_spark.engine.compact import compact_parts
    from skar_spark.sources import read_paged

    out = str(tmp_path / "out")
    encode_documents(spark, synth_documents(spark, 2_000, partitions=4),
                     out, CFG, n_rows=2_000)
    df, cursor = read_paged(spark, out, page_files=64)
    assert cursor is None
    assert compact_parts(spark, out, CFG, small_rows=10_000)["new_parts"]
    with pytest.raises(Exception, match="compacted"):
        df.count()
    again, _ = read_paged(spark, out, page_files=64)
    assert again.count() == 2_000


def test_stream_read_drains_completed_table(spark, encoded, tmp_path):
    """readStream.format("skar") over a completed batch table drains it
    exactly once (availableNow) and matches the batch read."""
    q = (spark.readStream.format("skar").load(encoded)
         .writeStream.outputMode("append").format("memory")
         .queryName("skar_tail_full")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT url, text FROM skar_tail_full")
    src = spark.read.format("skar").load(encoded).select("url", "text")
    assert got.count() == src.count()
    assert got.exceptAll(src).count() == 0


def test_stream_read_tails_new_commits(spark, tmp_path):
    """The follow-mode pairing: stream_encode appends new epochs, a
    restarted skar readStream (same checkpoint) emits ONLY the newly
    committed part files — no re-reads, no gaps."""
    import numpy as np
    import pyarrow.parquet as pq

    from skar_spark.streaming import stream_encode
    from skar_spark.synth import synth_batch

    register(spark)
    landing = tmp_path / "landing"
    landing.mkdir()
    out = str(tmp_path / "tail_out")
    # several parts per epoch: 1,000 rows → 4, then 600 → 3
    scfg = EngineConfig(max_row_group_size=500, target_partition_rows=250)
    pq.write_table(synth_batch(np.arange(0, 1000)), str(landing / "f0.parquet"))
    stream_encode(spark, str(landing), out, scfg).awaitTermination(120)

    ckpt = str(tmp_path / "tail_ckpt")
    sink = str(tmp_path / "tail_sink")

    def drain():
        # parquet sink: supports restart-from-checkpoint (memory sink
        # does not), so the second drain proves incremental tailing
        q = (spark.readStream.format("skar").load(out)
             .select("url")
             .writeStream.outputMode("append").format("parquet")
             .option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.read.parquet(sink)

    assert drain().count() == 1000

    # new landing data → new epoch with strictly higher part indices
    pq.write_table(synth_batch(np.arange(1000, 1600)),
                   str(landing / "f1.parquet"))
    stream_encode(spark, str(landing), out, scfg).awaitTermination(120)

    got = drain()
    assert got.count() == 1600             # sink accumulates old + new
    assert got.distinct().count() == 1600  # and nothing was re-read


def test_stream_read_rejects_retained_table(spark, tmp_path):
    from skar_spark.engine.encode import mark_retained
    register(spark)
    out = str(tmp_path / "ret_out")
    docs = synth_documents(spark, 500, partitions=2)
    encode_documents(spark, docs, out, CFG, n_rows=500)
    mark_retained(out)
    with pytest.raises(Exception, match="retain_superseded"):
        (spark.readStream.format("skar").load(out)
         .writeStream.format("memory").queryName("skar_tail_rej")
         .option("checkpointLocation", str(tmp_path / "rej_ckpt"))
         .trigger(availableNow=True).start().awaitTermination(60))


def test_datasource_reads_table_schema_once(encoded, monkeypatch):
    """schema() keeps the table schema on the DataSource instance, which
    PySpark pickles to reader()/streamReader(): one GET of
    meta/schema.json per read. Driven in-process, as PySpark's planner
    workers drive it."""
    import pickle

    from skar_spark.engine import storage
    from skar_spark.sources import SkarDataSource

    gets = []
    get_bytes = storage.get_bytes
    monkeypatch.setattr(storage, "get_bytes",
                        lambda p: gets.append(p) or get_bytes(p))
    ds = SkarDataSource({"path": encoded})
    ddl = ds.schema()
    planner = pickle.loads(pickle.dumps(ds))
    assert planner.reader(ddl).partitions()
    planner.streamReader(ddl)
    assert [p for p in gets if p.endswith("schema.json")] == [
        f"{encoded}/meta/schema.json"]


def test_scan_is_one_spark_job(spark, encoded):
    """scan is the DataSource read: pruning runs in its planner, so a
    full scan into a noop sink is exactly one Spark job."""
    from skar_spark.engine.decode import scan

    sc = spark.sparkContext
    group = "scan-one-job"
    sc.setJobGroup(group, "scan into noop")
    try:
        scan(spark, encoded).write.format("noop").mode("overwrite").save()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_scan_changes_without_changes_is_empty(spark, encoded):
    """No partition changed in the window → an empty part_ids set, which
    reads nothing (not the whole table)."""
    import time

    from skar_spark.engine.decode import scan_changes

    stats = {}
    df = scan_changes(spark, encoded, since=time.time() + 3600,
                      _stats=stats)
    assert stats["n_changed_parts"] == 0
    assert df.count() == 0


def test_push_filters_and_into_every_conjunct():
    """pushFilters ANDs host/lang equality and warc_ts bounds into every
    conjunct of the `where` option and hands the rest back to Spark."""
    import json

    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

    from skar_spark.sources import TS_MAX, SkarReader

    where = [{"hosts": ["a.com", "b.com"]}, {"langs": ["de"]}]
    r = SkarReader({"path": "unused", "where": json.dumps(where)},
                   ["url"], {"url": "str"})
    left = list(r.pushFilters([EqualTo(("host",), "b.com"),
                               GreaterThanOrEqual(("warc_ts",), 5),
                               EqualTo(("text",), "x")]))
    assert left == [EqualTo(("text",), "x")]
    assert r.where == [
        {"hosts": ["b.com"], "ts_range": (5, TS_MAX)},
        {"langs": ["de"], "hosts": ["b.com"], "ts_range": (5, TS_MAX)}]
