"""The JSON query handler — the reference's primary API surface
(query format: /root/reference/README.md:200-280, execution:
skar/src/query/handler.rs). Selections OR/AND semantics, field
projection, cursor paging, row/time bounds, archive height."""

import pytest
from pyspark.sql import functions as F

from skar_spark.config import EngineConfig
from skar_spark.engine.encode import encode_documents
from skar_spark.query import run_query
from skar_spark.synth import synth_documents

pytestmark = pytest.mark.spark

N_DOCS = 4_000
CFG = EngineConfig(target_partition_rows=500, max_row_group_size=250,
                   salt_threshold_rows=400)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("qh") / "out")
    docs = synth_documents(spark, N_DOCS, partitions=8)
    encode_documents(spark, docs, out, CFG, n_rows=N_DOCS)
    return out, docs


def _expected(docs, expr):
    return {(r.url,) for r in docs.filter(expr).select("url").collect()}


def test_selection_or_of_conjuncts(spark, table):
    out, docs = table
    hosts = [r.host for r in
             docs.selectExpr("regexp_extract(url, '^[a-z]+://([^/]+)', 1)"
                             " AS host")
             .groupBy("host").count().orderBy(F.desc("count"))
             .limit(2).collect()]
    langs = ["de"]
    res = run_query(spark, out, {
        "selections": [
            {"hosts": [hosts[0]], "langs": langs},  # AND within
            {"hosts": [hosts[1]]},                  # OR across
        ],
        "field_selection": ["url", "host", "lang"],
    })
    got = {(r["url"],) for r in res["rows"]}
    h = F.regexp_extract("url", "^[a-z]+://([^/]+)", 1)
    want = _expected(docs, ((h == hosts[0]) & F.col("lang").isin(langs))
                     | (h == hosts[1]))
    assert got == want
    assert res["num_rows"] == len(want)
    assert res["next_cursor"] is None and not res["truncated"]
    assert set(res["rows"][0]) == {"url", "host", "lang"}


def test_time_range_inclusive_exclusive(spark, table):
    out, docs = table
    lo = docs.agg(F.min("warc_ts")).collect()[0][0]
    import datetime as dt
    hi = lo + dt.timedelta(minutes=20)
    res = run_query(spark, out, {
        "from_ts": lo.isoformat(), "to_ts": hi.isoformat(),
        "field_selection": ["url", "warc_ts"],
    })
    in_range = (F.col("warc_ts") >= F.lit(lo)) & (F.col("warc_ts") < F.lit(hi))
    want = _expected(docs, in_range)
    assert {(r["url"],) for r in res["rows"]} == want
    assert 0 < res["num_rows"] < N_DOCS
    # JSON timestamps are the naive-UTC isoformat a collect returns
    want_ts = {r.url: r.warc_ts.isoformat() for r in
               docs.filter(in_range).select("url", "warc_ts").collect()}
    assert all(r["warc_ts"] == want_ts[r["url"]] for r in res["rows"])


def test_url_prefix_selection(spark, table):
    out, docs = table
    some_url = docs.select("url").first().url
    prefix = some_url[:some_url.rindex("/") + 1]
    res = run_query(spark, out, {
        "selections": [{"url_prefix": [prefix]}],
        "field_selection": ["url"],
    })
    want = _expected(docs, F.col("url").startswith(prefix))
    assert {(r["url"],) for r in res["rows"]} == want


def test_cursor_pages_to_completion_exactly_once(spark, table):
    """max_rows truncates at part-file granularity; resuming from
    next_cursor covers the table with no duplicates and no gaps —
    the next_block sync loop (README.md:202-205)."""
    out, docs = table
    urls = []
    cursor, hops = 0, 0
    while cursor is not None:
        res = run_query(spark, out, {
            "cursor": cursor, "max_rows": 600, "page_files": 2,
            "field_selection": ["url"],
        })
        urls.extend(r["url"] for r in res["rows"])
        assert res["truncated"] == (res["next_cursor"] is not None)
        cursor = res["next_cursor"]
        hops += 1
        assert hops < 60
    assert hops > 1                    # the limit actually paged
    assert len(urls) == N_DOCS
    assert len(set(urls)) == N_DOCS    # exactly once


def test_empty_short_circuit_and_archive_height(spark, table):
    out, _docs = table
    res = run_query(spark, out, {
        "selections": [{"hosts": ["no.such.host.example"]}],
    })
    assert res["rows"] == [] and res["num_rows"] == 0
    assert res["archive_height"] > 0
    assert res["next_cursor"] is None


def test_one_part_listing_per_query(spark, table, monkeypatch):
    """A query lists parts/ once, with and without include_hot: the
    listing that gives archive_height is the one pruning filters (each
    listing is a LIST round trip on an object store)."""
    import glob

    out, _docs = table
    real, listed = glob.glob, []

    def counting(pattern, *a, **kw):
        if pattern.endswith("part-*.skar"):
            listed.append(pattern)
        return real(pattern, *a, **kw)

    monkeypatch.setattr(glob, "glob", counting)
    for hot in (False, True):
        listed.clear()
        res = run_query(spark, out, {"selections": [{"langs": ["de"]}],
                                     "field_selection": ["url"],
                                     "include_hot": hot})
        assert res["num_rows"] > 0 and res["archive_height"] > 0
        assert len(listed) == 1, (hot, listed)


def test_stale_listing_serves_no_partial_commit(spark, tmp_path):
    """Pruning filters the caller's listing; one taken before a commit
    landed is re-taken, so no committed increment is served partially."""
    from skar_spark.engine.decode import list_part_files, prune_selections
    from skar_spark.engine.encode import append_documents

    out = str(tmp_path / "out")
    encode_documents(spark, synth_documents(spark, 400, partitions=2), out,
                     CFG, n_rows=400)
    stale = list_part_files(out)
    append_documents(spark, synth_documents(spark, 200, partitions=1,
                                            seed=7), out, CFG)
    fresh = list_part_files(out)
    assert set(fresh) > set(stale)
    assert list(prune_selections(out, [{}], listing=stale)) == fresh


def test_lang_selection_prunes_partitions(spark, table):
    """A langs-only selection must consult the lang bloom family: a
    never-present lang prunes every partition (short-circuit), while a
    real lang returns exactly its rows."""
    out, docs = table
    res = run_query(spark, out,
                    {"selections": [{"langs": ["xx-no-such-lang"]}]})
    assert res["num_rows"] == 0
    res = run_query(spark, out, {"selections": [{"langs": ["de"]}],
                                 "field_selection": ["url", "lang"]})
    want = _expected(docs, F.col("lang") == "de")
    assert {(r["url"],) for r in res["rows"]} == want
    assert all(r["lang"] == "de" for r in res["rows"])


def test_null_lang_follows_kleene_or(spark, tmp_path):
    """A null `lang` is unknown, not false: a selection that fails only
    on it loses the row, while another selection that matches the row
    keeps it (`null OR true` is true, as in Spark's Column logic)."""
    import datetime as dt
    import os

    import pyarrow as pa

    from skar_spark.engine.partfile import write_part_file

    out = str(tmp_path / "out")
    os.makedirs(os.path.join(out, "parts"))
    h = "h.example"
    t = pa.table({
        "url": [f"https://{h}/a", f"https://{h}/b", "https://o.example/c"],
        "warc_ts": pa.array([dt.datetime(2024, 1, 1, 0, 0, i)
                             for i in range(3)], pa.timestamp("us")),
        "lang": [None, "en", "de"],
        "text": ["x", "y", "z"],
        "_host": [h, h, "o.example"],
    })
    write_part_file(os.path.join(out, "parts", "part-000000.skar"), t,
                    EngineConfig(max_row_group_size=100))
    null_url = f"https://{h}/a"

    def urls(selections):
        res = run_query(spark, out, {"selections": selections,
                                     "field_selection": ["url"]})
        return {r["url"] for r in res["rows"]}

    assert null_url in urls([{"langs": ["de"]}, {"hosts": [h]}])
    assert urls([{"hosts": [h], "langs": ["de"]}]) == set()


def test_bounded_reads_launch_no_spark_job(spark, table):
    """Bounded reads decode on the driver: run_query, a multi-page
    scan_paged and building the scan_changes DataFrame run no Spark job
    under the caller's job group."""
    from skar_spark.engine.decode import scan_changes, scan_paged

    out, docs = table
    first = docs.select("url", "lang").first()
    host = first.url.split("/")[2]
    sc = spark.sparkContext
    group = "bounded-read-no-jobs"
    sc.setJobGroup(group, "bounded reads only")
    try:
        res = run_query(spark, out, {
            "selections": [{"hosts": [host], "langs": [first.lang]}],
            "field_selection": ["url", "text"]})
        cursor, pages, n = 0, 0, 0
        while cursor is not None:
            rows, cursor = scan_paged(spark, out, columns=["url"],
                                      cursor=cursor, time_limit_ms=0,
                                      page_files=2)
            pages += 1
            n += len(rows)
        scan_changes(spark, out)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the check itself sees jobs of this group
        spark.range(1).count()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res["num_rows"] > 0
    assert all(set(r) == {"url", "text"} for r in res["rows"])
    assert pages > 1 and n == N_DOCS
