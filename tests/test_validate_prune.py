"""Verify-on-read, verify-on-resume, per-disjunct pruning, and
row-group host blooms.

Mirrors of the reference's post-write validation
(skar/src/validate_parquet.rs:17-66 invoked at skar_runner.rs:309-312),
per-disjunct query pruning (query/handler.rs:187-250), and per-row-group
blooms (build_parquet_idx.rs:96-115,149-152).
"""

import os

import pytest
from pyspark.sql import functions as F

from skar_spark.config import EngineConfig
from skar_spark.engine.decode import (
    list_part_files,
    prune_partitions,
    prune_selections,
    scan,
    validate_output,
)
from skar_spark.engine.encode import encode_documents, read_lineage
from skar_spark.synth import T0_US, synth_documents
from tests.util import assert_sound, has_rows

pytestmark = pytest.mark.spark

N_DOCS = 5_000
CFG = EngineConfig(target_partition_rows=1_000, max_row_group_size=400,
                   salt_threshold_rows=900)


@pytest.fixture()
def encoded(spark, tmp_path):
    out = str(tmp_path / "out")
    docs = synth_documents(spark, N_DOCS, partitions=8)
    encode_documents(spark, docs, out, CFG, n_rows=N_DOCS)
    return out


def _corrupt_one(out: str) -> str:
    # corrupt the middle of a TEXT chunk specifically: validation
    # re-reads (url, text), so garbage must land in a chunk it decodes
    # (a fixed file offset drifts into the unread html blob whenever the
    # codec operating point changes)
    from skar_spark.engine.partfile import read_footer

    victim = list_part_files(out)[1]
    pos, length, _codec = read_footer(victim)["rowgroups"][0]["chunks"]["text"]
    with open(victim, "r+b") as f:
        f.seek(pos + length // 2)
        f.write(b"\xde\xad\xbe\xef" * 8)
    return victim


def test_validate_output_clean(spark, encoded):
    res = validate_output(spark, encoded)
    rows = res.collect()
    assert len(rows) == len(list_part_files(encoded))
    assert all(r.ok for r in rows)


def test_validate_output_flags_corruption(spark, encoded):
    victim = _corrupt_one(encoded)
    res = {r.file: r for r in validate_output(spark, encoded).collect()}
    assert not res[victim].ok
    assert res[victim].error is not None
    assert all(r.ok for f, r in res.items() if f != victim)


def test_resume_verify_reencodes_corrupt_part(spark, tmp_path):
    out = str(tmp_path / "out")
    docs = synth_documents(spark, N_DOCS, partitions=8)
    encode_documents(spark, docs, out, CFG, n_rows=N_DOCS)
    victim = _corrupt_one(out)

    lin = encode_documents(spark, docs, out, CFG, n_rows=N_DOCS,
                           resume=True, verify=True)
    # the corrupt part was re-encoded: validation is clean again and the
    # decoded content matches the source exactly
    assert all(r.ok for r in validate_output(spark, out).collect())
    back = scan(spark, out).select("url", "text")
    src = docs.select("url", "text")
    assert back.exceptAll(src).count() == 0
    assert src.exceptAll(back).count() == 0
    # lineage (latest view) still has exactly one row per partition
    n_parts = len(list_part_files(out))
    assert lin.count() == n_parts
    # the victim's superseding row has a fresh attempt
    raw = read_lineage(spark, out)
    assert raw.count() == n_parts + 1
    assert raw.filter(F.col("file") == victim).count() == 2


def test_prune_selections_per_disjunct(spark, encoded):
    """Two disjuncts, each matching a different narrow slice: partitions
    that each selection alone would miss are dropped per-disjunct, and a
    partition surviving only one disjunct lists only that one."""
    lin = read_lineage(spark, encoded, latest=True).collect()
    files = list_part_files(encoded)
    # disjunct 0: a real host from partition 0; disjunct 1: impossible
    first = scan(spark, encoded, columns=["url"]).first()["url"]
    import re
    host = re.match(r"^[a-z][a-z0-9+.-]*://([^/?#]*)", first).group(1)
    sels = [
        {"hosts": [host], "ts_range": None},
        {"hosts": ["no-such-host.invalid"], "ts_range": None},
    ]
    kept = prune_selections(encoded, sels)
    assert 0 < len(kept) < len(files) + 1
    for f, idxs in kept.items():
        assert 0 in idxs          # only disjunct 0 can survive
        assert 1 not in idxs
    # an impossible pair of disjuncts prunes everything
    kept_none = prune_selections(encoded, [
        {"hosts": ["no-such-host.invalid"], "ts_range": None},
        {"hosts": None, "ts_range": (0, 1000)},
    ])
    assert kept_none == {}


def _host_of(url: str) -> str:
    import re
    return re.match(r"^[a-z][a-z0-9+.-]*://([^/?#]*)", url).group(1)


def _latest_files(spark, out: str, as_of: float | None = None) -> set:
    return {r.file for r in read_lineage(spark, out, latest=True,
                                         as_of=as_of).collect()}


def test_unfiltered_membership_is_latest_lineage(spark, encoded):
    assert set(prune_partitions(encoded)) == _latest_files(spark, encoded)
    assert set(prune_selections(encoded, [{}])) == \
        _latest_files(spark, encoded)


def test_pruning_is_sound(spark, encoded):
    """Independent oracle for the pruner: for a grid of predicates the
    kept set covers every file whose exact read returns a row."""
    docs = synth_documents(spark, N_DOCS, partitions=8)
    counts = {r.lang: r["count"] for r in
              docs.groupBy("lang").count().collect()}
    rare = min(counts, key=counts.get)
    urls = [r.url for r in scan(spark, encoded, columns=["url"])
            .limit(200).collect()]
    h1, h2 = _host_of(urls[0]), next(
        _host_of(u) for u in urls if _host_of(u) != _host_of(urls[0]))
    ts = (T0_US + 200 * 1_000_000, T0_US + 2_000 * 1_000_000)
    universe = _latest_files(spark, encoded)
    grid = [
        {"host_eq": h1}, {"host_eq": "no-such-host.invalid"},
        {"any_hosts": [h1, h2]}, {"host_eq": h1, "any_hosts": [h1, h2]},
        {"lang_eq": rare}, {"ts_range": ts},
        {"host_eq": h1, "ts_range": ts}, {"lang_eq": rare, "ts_range": ts},
    ]
    for pred in grid:
        assert_sound(prune_partitions(encoded, **pred), universe, **pred)
    assert prune_partitions(encoded, host_eq="no-such-host.invalid") == []
    # host_eq and any_hosts are ANDed: an absent IN-list prunes all
    assert prune_partitions(encoded, host_eq=h1,
                            any_hosts=["no-such-host.invalid"]) == []

    # two disjuncts: a file is kept for disjunct i whenever i matches
    sels = [{"hosts": [h1], "ts_range": ts},
            {"langs": [rare], "ts_range": ts}]
    kept = prune_selections(encoded, sels)
    assert set(kept) <= universe
    for f in sorted(universe):
        for i, pred in enumerate(({"host_eq": h1, "ts_range": ts},
                                  {"lang_eq": rare, "ts_range": ts})):
            if has_rows(f, **pred):
                assert i in kept.get(f, []), (f, i)

    # include_hot: an unrecorded on-disk file is served (and kept by
    # every predicate it matches) only when the hot tail is asked for
    import shutil
    hot = os.path.join(encoded, "parts", "part-999990.skar")
    shutil.copy(sorted(universe)[0], hot)
    assert hot not in prune_partitions(encoded, host_eq=h1)
    for pred in ({"host_eq": h1}, {"ts_range": ts}):
        assert_sound(prune_partitions(encoded, include_hot=True, **pred),
                     universe | {hot}, **pred)
    assert hot in prune_partitions(encoded, include_hot=True)


def test_latest_attempt_order_matches_read_lineage(spark, tmp_path):
    """Membership per partition follows read_lineage's order: latest
    committed_at first, ties broken by attempt_id desc, a null commit
    time ranks last and is outside every as_of snapshot."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "t"
    (out / "parts").mkdir(parents=True)
    (out / "lineage").mkdir()
    rows = [(0, "a", 2.0), (0, "b", 2.0), (0, "z", None), (1, "x", None),
            (2, "c", 1.0), (2, "d", 3.0)]
    files = {(p, a): str(out / "parts" / f"part-a{a}-{p:06d}.skar")
             for p, a, _c in rows}
    for f in files.values():
        open(f, "wb").close()
    ts = pa.array([T0_US] * len(rows), pa.timestamp("us"))
    pq.write_table(pa.table({
        "partition_id": pa.array([r[0] for r in rows], pa.int32()),
        "attempt_id": [r[1] for r in rows],
        "status": ["committed"] * len(rows),
        "file": [files[r[0], r[1]] for r in rows],
        "min_warc_ts": ts, "max_warc_ts": ts,
        "committed_at": pa.array([r[2] for r in rows], pa.float64()),
    }), str(out / "lineage" / "batch-0.parquet"))
    everything = (-(1 << 62), 1 << 62)
    for as_of, want in ((None, {(0, "b"), (1, "x"), (2, "d")}),
                        (2.5, {(0, "b"), (2, "c")})):
        got = set(prune_partitions(str(out), ts_range=everything,
                                   as_of=as_of))
        assert got == {files[k] for k in want}
        assert got == _latest_files(spark, str(out), as_of)


def test_pruning_launches_no_spark_job(spark, encoded):
    """Pruning is driver-local: no Spark job runs under the caller's job
    group, and a ts-bounded query plan seeks lineage row groups."""
    host = _host_of(scan(spark, encoded, columns=["url"]).first()["url"])
    ts = (T0_US, T0_US + 2_000 * 1_000_000)
    sc = spark.sparkContext
    group = "prune-no-jobs"
    sc.setJobGroup(group, "pruning only")
    try:
        prune_partitions(encoded, ts_range=ts, host_eq=host)
        stats: dict = {}
        prune_selections(encoded, [{"hosts": [host], "ts_range": ts},
                                   {"hosts": None, "ts_range": ts}],
                         seek_stats=stats)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the check itself sees jobs of this group
        spark.range(1).count()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert {"rg_total", "rg_read"} <= stats.keys()
    assert 0 < stats["rg_read"] <= stats["rg_total"]


def test_lineage_metadata_reads_launch_no_spark_job(spark, encoded):
    """Lineage is read driver-side: completed_part_ids,
    _assert_no_appended_parts and the read_lineage call itself run no
    Spark job under the caller's job group."""
    from skar_spark.engine.encode import (
        _assert_no_appended_parts,
        completed_part_ids,
    )

    sc = spark.sparkContext
    group = "lineage-no-jobs"
    sc.setJobGroup(group, "lineage reads only")
    try:
        done = completed_part_ids(spark, encoded)
        _assert_no_appended_parts(encoded, "test")
        lin = read_lineage(spark, encoded, latest=True)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert done == {r.partition_id for r in lin.collect()}
    assert len(done) == len(list_part_files(encoded))


def test_old_lineage_reads_with_declared_types(spark, tmp_path):
    """A lineage written before attempt_id, row_count and col_stats
    existed reads back with those columns present, null and of their
    declared types, and vacuum accepts it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from skar_spark.engine.encode import vacuum

    out = tmp_path / "t"
    (out / "parts").mkdir(parents=True)
    (out / "lineage").mkdir()
    files = [str(out / "parts" / f"part-{p:06d}.skar") for p in range(3)]
    for f in files:
        open(f, "wb").close()
    ts = pa.array([T0_US] * 3, pa.timestamp("us"))
    pq.write_table(pa.table({
        "partition_id": pa.array(range(3), pa.int32()),
        "status": ["committed"] * 3,
        "file": files,
        "min_warc_ts": ts, "max_warc_ts": ts,
        "committed_at": pa.array([1.0, 2.0, 3.0]),
    }), str(out / "lineage" / "batch-0.parquet"))

    lin = read_lineage(spark, str(out))
    types = dict(lin.dtypes)
    assert (types["attempt_id"], types["row_count"], types["col_stats"]) \
        == ("string", "bigint", "string")
    rows = lin.collect()
    assert len(rows) == 3
    assert all(r.attempt_id is None and r.row_count is None
               and r.col_stats is None for r in rows)
    assert vacuum(spark, str(out)) == []
    assert _latest_files(spark, str(out)) == set(files)
    assert set(prune_partitions(str(out), ts_range=(T0_US, T0_US + 1))) \
        == set(files)


def test_rowgroup_host_bloom_prunes(spark, tmp_path):
    """A host-mixed row group whose (hmin, hmax) range covers a probe
    host that is NOT present: min/max alone can't skip it, the per-rg
    bloom can. Checked via read_part_file returning zero rows without
    decoding any chunk for a between-range miss."""
    import pyarrow as pa

    from skar_spark.engine.partfile import (
        read_footer,
        read_part_file,
        write_part_file,
    )

    hosts = ["a.com"] * 30 + ["m.com"] * 30 + ["z.com"] * 40
    t = pa.table({
        "url": [f"https://{h}/p{i}" for i, h in enumerate(hosts)],
        "warc_ts": pa.array([T0_US + i * 1_000_000 for i in range(100)],
                            pa.timestamp("us")),
        "text": [f"text {i}" for i in range(100)],
        "_host": hosts,
    })
    path = str(tmp_path / "part-000000.skar")
    cfg = EngineConfig(max_row_group_size=100)  # one mixed row group
    write_part_file(path, t, cfg)
    footer = read_footer(path)
    assert len(footer["rowgroups"]) == 1
    rg = footer["rowgroups"][0]
    assert rg["hmin"] == "a.com" and rg["hmax"] == "z.com"
    assert "hbloom" in rg
    # "b.com" is inside [a.com, z.com] but absent → bloom prunes the rg
    miss = read_part_file(path, columns=["url"], where=[{"hosts": ["b.com"]}])
    assert miss.num_rows == 0
    hit = read_part_file(path, columns=["url"], where=[{"hosts": ["m.com"]}])
    assert hit.num_rows == 30


def test_lang_bloom_family_prunes_partitions(spark, encoded):
    """Second bloom family (lang): a lang-equality scan prunes partitions
    whose lang bloom can't contain the value, and returns exactly the
    matching rows (mirror of the reference's topic bloom families,
    build_parquet_idx.rs:89-171)."""
    docs = synth_documents(spark, N_DOCS, partitions=8)
    counts = {r.lang: r["count"] for r in
              docs.groupBy("lang").count().collect()}
    rare = min(counts, key=counts.get)
    n_parts = len(list_part_files(encoded))
    # a lang occurring k times lives in at most k partitions
    assert counts[rare] < n_parts, "pick a rarer lang or more partitions"
    kept = prune_partitions(encoded, lang_eq=rare)
    assert 0 < len(kept) < n_parts
    got = scan(spark, encoded, lang_eq=rare)
    want = docs.filter(F.col("lang") == rare).select(*got.columns)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # an impossible lang prunes everything
    assert prune_partitions(encoded, lang_eq="zz-XX") == []


def test_rowgroup_lang_bloom_prunes(spark, tmp_path):
    """Per-row-group lang blooms: a row group without the probed lang is
    skipped even when the partition as a whole contains it."""
    import base64

    import pyarrow as pa

    from skar_spark.engine.bloom import bloom_might_contain
    from skar_spark.engine.partfile import (
        read_footer,
        read_part_file,
        write_part_file,
    )

    langs = ["en"] * 50 + ["de"] * 50
    t = pa.table({
        "url": [f"https://h{i % 3}.com/p{i}" for i in range(100)],
        "warc_ts": pa.array([T0_US + i * 1_000_000 for i in range(100)],
                            pa.timestamp("us")),
        "text": [f"text {i}" for i in range(100)],
        "lang": langs,
    })
    path = str(tmp_path / "part-000000.skar")
    cfg = EngineConfig(max_row_group_size=50)  # rg0 all-en, rg1 all-de
    write_part_file(path, t, cfg)
    footer = read_footer(path)
    assert len(footer["rowgroups"]) == 2
    rg0, rg1 = footer["rowgroups"]
    assert "lbloom" in rg0 and "lbloom" in rg1
    assert bloom_might_contain(base64.b64decode(rg0["lbloom"]), "en")
    assert not bloom_might_contain(base64.b64decode(rg0["lbloom"]), "de")
    assert not bloom_might_contain(base64.b64decode(rg1["lbloom"]), "en")
    de = read_part_file(path, columns=["url", "lang"],
                        where=[{"langs": ["de"]}])
    assert de.num_rows == 50
    assert set(de["lang"].to_pylist()) == {"de"}
    none = read_part_file(path, columns=["url"], where=[{"langs": ["fr"]}])
    assert none.num_rows == 0


def test_col_stats_zone_maps_prune_partitions(spark, tmp_path):
    """Numeric col_stats zone maps: a range predicate on a non-layout
    column prunes exactly the non-overlapping partitions; unknown
    columns and stats-less lineage rows are kept (safe default)."""
    from pyspark.sql import functions as F
    from skar_spark.config import EngineConfig
    from skar_spark.engine.decode import prune_partitions
    from skar_spark.engine.encode import encode_documents
    from skar_spark.synth import synth_documents

    docs = synth_documents(spark, 240, partitions=2).withColumn(
        "hour", F.pmod(F.xxhash64("url"), F.lit(240)).cast("int"))
    lifted = docs.select(
        "url",
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(hours=F.col("hour"))).alias("warc_ts"),
        "html", "text", "lang",
        (F.col("hour").cast("double") / 24.0).alias("quality"))
    out = str(tmp_path / "cs")
    cfg = EngineConfig(target_partition_rows=32, max_row_group_size=32,
                       salt_threshold_rows=32)
    encode_documents(spark, lifted, out, cfg, scheme="day_hash",
                     n_rows=240)

    total = prune_partitions(out)
    mid = prune_partitions(out, col_range=("quality", 2.0, 4.0))
    assert 0 < len(mid) < len(total)
    assert_sound(mid, set(total), col_range=("quality", 2.0, 4.0))
    none = prune_partitions(out, col_range=("quality", 99.0, 100.0))
    assert none == []
    # a column with no recorded stats never prunes
    unknown = prune_partitions(out, col_range=("nope", 0.0, 1.0))
    assert sorted(unknown) == sorted(total)
    # scan(col_range=...) is EXACT: equals the brute-force filter
    from skar_spark.engine.decode import scan
    exact = scan(spark, out, col_range=("quality", 2.0, 4.0)).count()
    brute = (scan(spark, out)
             .filter("quality >= 2.0 and quality < 4.0").count())
    assert exact == brute > 0


def test_col_range_exact_on_pre_evolution_parts(spark, tmp_path):
    """A part written BEFORE a numeric column existed holds only nulls
    for it after null-fill — a range predicate must return ZERO of its
    rows (the review caught scan(col_range=...) silently returning them
    unfiltered because the kernel post-filter can't run on a column the
    part doesn't have)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq_
    from pyspark.sql import functions as F
    from skar_spark.config import EngineConfig
    from skar_spark.engine.decode import scan
    from skar_spark.streaming import stream_encode
    from skar_spark.synth import DOCS_DDL, synth_batch

    land = tmp_path / "landing"
    land.mkdir()
    pq_.write_table(synth_batch(np.arange(0, 400)), str(land / "a.parquet"))
    out = str(tmp_path / "tbl")
    cfg = EngineConfig(max_row_group_size=200)
    q = stream_encode(spark, str(land), out, cfg)
    q.awaitTermination(120)

    t2 = synth_batch(np.arange(400, 800)).append_column(
        "quality", pa.array((np.arange(400, 800) % 10) / 1.0,
                            pa.float64()))
    pq_.write_table(t2, str(land / "b.parquet"))
    q2 = stream_encode(spark, str(land), out, cfg,
                       schema_ddl=DOCS_DDL + ", quality double")
    q2.awaitTermination(120)

    exact = scan(spark, out, col_range=("quality", 2.0, 5.0))
    brute = scan(spark, out).filter(
        "quality >= 2.0 and quality < 5.0")
    assert exact.count() == brute.count() > 0
    # and no null-quality (pre-evolution) rows leak through
    assert exact.filter(F.col("quality").isNull()).count() == 0
