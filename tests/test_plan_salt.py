"""Planning in one Spark action (encode.plan_salt).

Its totals and heavy-host map must equal a brute-force reference: the
totals of plan_totals, and the full host table under the rows-or-bytes
rule evaluated in Spark SQL, for every frame shape that can trip the
bounded collect (every host heavy, a host heavy by bytes alone, a null
host beside the grand-total row, an empty frame) and for every kind of
row-count hint (exact, stale, missing, far above the count). An
encode's planning then launches at most two Spark jobs, and its jobs
carry a description naming their phase.
"""

import datetime

import pytest
from pyspark.sql import functions as F

from skar_spark.config import EngineConfig
from skar_spark.engine import encode
from skar_spark.engine.encode import (
    SALT_MAP_DDL,
    _arrow_schema,
    _row_bytes,
    encode_documents,
    load_plan_meta,
    load_salt_map,
    parts_for,
    plan_salt,
    plan_totals,
    with_host,
)
from skar_spark.synth import DOCS_DDL, synth_documents

pytestmark = pytest.mark.spark

N_DOCS = 3_000
TS = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


@pytest.fixture(scope="module")
def docs(spark):
    return synth_documents(spark, N_DOCS, partitions=4).cache()


def _frame(spark, rows):
    """A documents frame of (url, html bytes) rows, one timestamp."""
    return spark.createDataFrame(
        [(u, TS, b"h" * n, "t", "en") for u, n in rows], DOCS_DDL)


def _reference(df, threshold_rows):
    """plan_totals, and the heavy hosts of the FULL host table: rows or
    bytes over the bounds, salts and chunk bytes in Spark SQL double
    arithmetic."""
    totals = plan_totals(df)
    schema = _arrow_schema(SALT_MAP_DDL)
    hosts = with_host(df).groupBy("host").agg(
        F.count("*").alias("count"), F.sum(_row_bytes()).alias("bytes"))
    avg_row = (totals["n_bytes"] or 1) / max(totals["n_rows"] or 1, 1)
    thr_bytes = float(threshold_rows) * avg_row
    n_salts = F.ceil(F.greatest(F.col("count") / threshold_rows,
                                F.col("bytes") / thr_bytes))
    salt = (hosts.filter((F.col("count") > threshold_rows)
                         | (F.col("bytes") > thr_bytes))
            .select("host", n_salts.cast("int").alias("n_salts"),
                    (F.col("bytes") / n_salts).cast("long")
                    .alias("chunk_bytes"))
            .toArrow().cast(schema).sort_by("host"))
    return totals, salt


@pytest.fixture
def rollups(monkeypatch):
    """The k of every planning action plan_salt runs."""
    calls = []
    orig = encode._host_rollup

    def spy(df, threshold_rows, k):
        calls.append(k)
        return orig(df, threshold_rows, k)

    monkeypatch.setattr(encode, "_host_rollup", spy)
    return calls


def _assert_matches(df, threshold_rows, **kw):
    got_totals, got = plan_salt(df, threshold_rows, **kw)
    want_totals, want = _reference(df, threshold_rows)
    assert got_totals == want_totals
    assert got.schema == want.schema
    assert got.to_pylist() == want.to_pylist()
    return got


@pytest.mark.parametrize("threshold_rows", [37, 100, 500, 100_000])
def test_synth_corpus_matches_reference(docs, rollups, threshold_rows):
    salt = _assert_matches(docs, threshold_rows, n_rows=N_DOCS)
    assert salt.num_rows or threshold_rows == 100_000
    assert rollups == [N_DOCS // threshold_rows + 1]


@pytest.mark.parametrize("hint,runs", [(10, 2), (None, 2), (10**6, 1)])
def test_any_hint_gives_the_exact_map(docs, rollups, hint, runs):
    """A stale or missing count reruns the action once with its own
    count when its full collect ends on a heavy host; a count far above
    the rows collects more candidates."""
    _assert_matches(docs, 100, n_rows=hint)
    assert len(rollups) == runs
    assert rollups[-1] >= N_DOCS // 100 + 1


def test_countless_light_collect_takes_one_action(docs, rollups):
    """Without a count K is 1, and the 3-row collect (grand total and
    two hosts) ends on a light host at T = 1,000: every uncollected host
    is lighter still, so the one action is exact and does not rerun."""
    salt = _assert_matches(docs, 1_000)
    assert salt.num_rows == 0
    assert rollups == [1]


def test_counted_totals_take_one_action(docs, rollups):
    _assert_matches(docs, 100, totals=plan_totals(docs))
    assert rollups == [N_DOCS // 100 + 1]


def test_every_host_heavy(spark, rollups):
    """18 hosts of 11 rows over a 10-row threshold: as many heavy
    hosts as the 2K + 1 bound has room for."""
    df = _frame(spark, [(f"http://h{i:02d}.example/{j}", 10)
                        for i in range(18) for j in range(11)])
    salt = _assert_matches(df, 10, n_rows=198)
    assert salt.num_rows == 18
    assert rollups == [198 // 10 + 1]


def test_host_heavy_by_bytes_alone(spark):
    df = _frame(spark, [(f"http://small{i}.example/{j}", 100)
                        for i in range(20) for j in range(2)]
                + [(f"http://big.example/{j}", 50_000) for j in range(2)])
    salt = _assert_matches(df, 10, n_rows=42)
    assert salt["host"].to_pylist() == ["big.example"]
    assert salt["n_salts"].to_pylist()[0] > 1


def test_null_host_is_not_the_grand_total(spark):
    """A null url has a null host: its group shares the grand-total
    row's null key and is told apart by grouping_id."""
    df = _frame(spark, [(None, 10)] * 30
                + [(f"http://h{i}.example/{j}", 10)
                   for i in range(3) for j in range(5)])
    salt = _assert_matches(df, 10, n_rows=45)
    assert salt["host"].to_pylist() == [None]


def test_empty_frame(spark, rollups):
    df = spark.createDataFrame([], DOCS_DDL)
    salt = _assert_matches(df, 10, n_rows=0)
    assert salt.num_rows == 0 and rollups == [1]


@pytest.mark.parametrize("given", [True, False])
def test_day_hash_plan_from_the_same_totals(spark, docs, tmp_path, given):
    """plan.json (d0, buckets, num_parts) and the salt map of a day_hash
    encode follow from the reference totals, with or without `n_rows`."""
    n = N_DOCS
    days = docs.withColumn("warc_ts", F.timestamp_seconds(
        F.unix_seconds("warc_ts")
        + F.pmod(F.xxhash64("url"), F.lit(3)) * 86_400))
    cfg = EngineConfig(target_partition_rows=500, max_row_group_size=500)
    out = str(tmp_path / "day")
    encode_documents(spark, days, out, cfg, scheme="day_hash",
                     n_rows=n if given else None)
    threshold = max(500, cfg.target_partition_rows // 2)
    totals, salt = _reference(days, threshold)
    assert salt.num_rows  # the Zipf head host is heavy
    n_days = (totals["d1"] - totals["d0"]).days + 1
    buckets = parts_for(-(-n // n_days), cfg)
    meta = load_plan_meta(out)
    assert (meta["d0"], meta["buckets"], meta["num_parts"]) == (
        totals["d0"].isoformat(), buckets, n_days * buckets)
    assert meta["salt_threshold_rows"] == threshold
    assert load_salt_map(out).to_pylist() == salt.to_pylist()


class _Planned(Exception):
    pass


def test_encode_planning_launches_at_most_two_jobs(spark, docs, tmp_path,
                                                   monkeypatch):
    """With `n_rows` given, everything before the first encode dispatch
    (the salt map and plan.json included) is one planning action."""
    def stop(*_a, **_k):
        raise _Planned

    monkeypatch.setattr(encode, "encode_footers", stop)
    cfg = EngineConfig(target_partition_rows=1_000, max_row_group_size=500)
    docs.count()  # the cached input is built outside the group
    sc = spark.sparkContext
    group = "encode-planning"
    sc.setJobGroup(group, "planning")
    try:
        with pytest.raises(_Planned):
            encode_documents(spark, docs, str(tmp_path / "t"), cfg,
                             n_rows=N_DOCS)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 1 <= len(jobs) <= 2
    assert load_salt_map(str(tmp_path / "t")).num_rows


def test_jobs_are_described_by_phase(spark, docs, tmp_path, monkeypatch):
    """Each action runs under a description naming its phase, and the
    caller's description and job group are back afterwards."""
    seen = []
    sc = spark.sparkContext
    frame_cls = type(docs)  # the session's DataFrame implementation
    for name in ("collect", "toArrow"):
        orig = getattr(frame_cls, name)

        def spy(self, *a, _orig=orig, **k):
            seen.append(sc.getLocalProperty("spark.job.description"))
            return _orig(self, *a, **k)

        monkeypatch.setattr(frame_cls, name, spy)
    cfg = EngineConfig(target_partition_rows=1_000, max_row_group_size=500)
    sc.setJobGroup("outer-group", "outer")
    try:
        encode_documents(spark, docs, str(tmp_path / "given"), cfg,
                         n_rows=N_DOCS)
        encode_documents(spark, docs, str(tmp_path / "counted"), cfg)
        assert sc.getLocalProperty("spark.job.description") == "outer"
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer-group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    plan, totals, footers = ("skar plan: totals + heavy hosts",
                             "skar plan: totals",
                             "skar encode: exchange + kernel, footer collect")
    assert seen == [plan, footers, totals, plan, footers]
