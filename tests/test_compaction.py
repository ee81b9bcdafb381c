"""Compaction of streaming small parts — the cold-tier consolidation
(skar_runner.rs:285-353 hot→cold full-folder analog / Iceberg
rewrite_data_files). Exactly-once content, rebuilt pruning metadata,
atomic lineage swap, archival guard on every writer."""

import numpy as np
import pyarrow.parquet as pq
import pytest

from skar_spark.config import EngineConfig
from skar_spark.engine.compact import compact_parts, is_compacted
from skar_spark.engine.decode import (
    list_part_files,
    scan,
    validate_output,
)
from skar_spark.engine.encode import parts_for, read_lineage
from skar_spark.streaming import stream_encode
from skar_spark.synth import synth_batch

pytestmark = pytest.mark.spark

CFG = EngineConfig(max_row_group_size=500)
PER_FILE = 400


def _stream_small_parts(spark, tmp_path_factory) -> str:
    """12 small parts from 3 streaming epochs (4 parts/epoch: a
    100-row target over 400-row epochs)."""
    d = tmp_path_factory.mktemp("cmp_landing")
    out = str(tmp_path_factory.mktemp("cmp") / "out")
    for i in range(3):
        pq.write_table(
            synth_batch(np.arange(i * PER_FILE, (i + 1) * PER_FILE)),
            str(d / f"f{i}.parquet"))
        stream_encode(spark, str(d), out,
                      EngineConfig(max_row_group_size=500,
                                   target_partition_rows=100)
                      ).awaitTermination(120)
    return out


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    return _stream_small_parts(spark, tmp_path_factory)


def _described_jobs(spark, group: str, prefix: str) -> list[int]:
    """The ids of job group `group`'s jobs whose description starts
    with `prefix`, from the application status store."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    found = []
    for j in (jobs.apply(i) for i in range(jobs.size())):
        desc = j.description()
        if (j.jobGroup().isDefined() and j.jobGroup().get() == group
                and desc.isDefined() and desc.get().startswith(prefix)):
            found.append(j.jobId())
    return found


@pytest.mark.parametrize("salt_threshold_rows,target", [
    (CFG.salt_threshold_rows, 600), (100, 600), (100, 2_000)])
def test_compaction_places_hosts_like_an_increment(
        spark, tmp_path_factory, monkeypatch, salt_threshold_rows, target):
    """Compacted to parts_for(1,200) parts, the 12 streamed parts keep
    every host in one part but the hosts the planner salted, so the
    lineage host bloom prunes as after an encode. Candidates below the
    salt threshold (1,200 rows against the default 100,000), or
    compacted into one part, launch no planning job; otherwise the
    heavy-host action runs once, before the archival marker."""
    from collections import Counter

    from skar_spark.engine import encode
    from skar_spark.engine.partfile import read_part_file

    out = _stream_small_parts(spark, tmp_path_factory)
    salted, marked = set(), []
    plan_salt = encode.plan_salt

    def spy(*a, **k):
        marked.append(is_compacted(out))
        totals, salt = plan_salt(*a, **k)
        salted.update(salt["host"].to_pylist())
        return totals, salt

    monkeypatch.setattr(encode, "plan_salt", spy)
    cfg = EngineConfig(max_row_group_size=500, target_partition_rows=target,
                       salt_threshold_rows=salt_threshold_rows)
    sc = spark.sparkContext
    group = f"compact-salt-{salt_threshold_rows}-{target}"
    sc.setJobGroup(group, "compaction")
    try:
        res = compact_parts(spark, out, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res["rows"] == 3 * PER_FILE
    files = list_part_files(out)
    assert len(files) == res["new_parts"] == parts_for(res["rows"], cfg)
    hosts = [set(read_part_file(f, columns=["host"])["host"].to_pylist())
             for f in files]
    assert all(hosts)
    spread = Counter(h for part in hosts for h in part)
    assert {h for h, n in spread.items() if n > 1} <= salted
    multi = res["new_parts"] > 1
    assert marked == ([False] if multi else [])  # before the marker
    plan_jobs = _described_jobs(spark, group, "skar plan:")
    if not multi or salt_threshold_rows > res["rows"]:
        assert plan_jobs == [] and not salted
    else:
        assert plan_jobs and salted  # the Zipf head host is heavy


def test_only_the_planner_assigns_part_ids():
    """engine/encode.py is the one module that assigns a ``part_id``
    column (plan_partitions, plan_partitions_day_hash, the increment's
    base shift): every writer places rows through its planners. A call
    counts when the column name it sets is the literal ``part_id``."""
    import ast
    import pathlib

    import skar_spark

    # the position of the name argument of each column-setting call
    name_arg = {"withColumn": 0, "withColumns": 0, "withColumnRenamed": 1,
                "alias": 0, "append_column": 0, "add_column": 1,
                "set_column": 1}
    root = pathlib.Path(skar_spark.__file__).parent
    found = set()
    for f in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(f.read_text())):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and len(node.args) > name_arg.get(node.func.attr, 99)):
                continue
            name = node.args[name_arg[node.func.attr]]
            names = name.keys if isinstance(name, ast.Dict) else [name]
            if any(isinstance(n, ast.Constant) and n.value == "part_id"
                   for n in names):
                found.add(f.relative_to(root).as_posix())
    assert found == {"engine/encode.py"}


def test_compact_consolidates_exactly_once(spark, streamed):
    out = streamed
    n_files_before = len(list_part_files(out))
    src = scan(spark, out).select("url", "text")
    src_rows = {(r.url, r.text) for r in src.collect()}
    assert n_files_before >= 8  # the stream really made small parts

    cfg = EngineConfig(max_row_group_size=500, target_partition_rows=1_000)
    res = compact_parts(spark, out, cfg)
    assert res["compacted_parts"] == n_files_before
    assert res["rows"] == 3 * PER_FILE
    files_after = list_part_files(out)
    assert len(files_after) == res["new_parts"] < n_files_before

    # exactly-once content through the compacted table
    back = {(r.url, r.text)
            for r in scan(spark, out).select("url", "text").collect()}
    assert back == src_rows
    # lineage matches disk exactly (atomic swap, old rows gone)
    lin = read_lineage(spark, out, latest=True)
    assert {r.file for r in lin.collect()} == set(files_after)
    # pruning metadata was rebuilt: checksums validate per new part
    assert all(r.ok for r in validate_output(spark, out).collect())
    # sized by the one partition-count rule (host placement does not
    # even the parts out, so one may hold fewer than small_rows rows)
    counts = [r.row_count for r in lin.collect()]
    assert len(counts) == parts_for(3 * PER_FILE, cfg)
    assert sum(counts) == 3 * PER_FILE


def test_compact_pruned_point_read_still_exact(spark, streamed):
    out = streamed  # already compacted by the previous test (module fx)
    some = scan(spark, out).select("url").first().url
    host = some.split("://")[1].split("/")[0]
    got = scan(spark, out, host_eq=host).select("url").collect()
    assert all(r.url.split("://")[1].split("/")[0] == host for r in got)
    assert any(r.url == some for r in got)


def test_archival_guard_refuses_batch_writers(spark, streamed, tmp_path):
    """Batch resume and late-data rollback replan pids BELOW the
    compaction high-water mark, so they stay refused (streaming append
    namespaces above it and is allowed — tested at the end of this
    module)."""
    out = streamed
    assert is_compacted(out)
    from skar_spark.engine.encode import encode_documents, reencode_late
    from skar_spark.synth import synth_documents
    docs = synth_documents(spark, 100, partitions=2)
    with pytest.raises(ValueError, match="compacted"):
        encode_documents(spark, docs, out, CFG, n_rows=100, resume=True)
    with pytest.raises((ValueError, FileNotFoundError), match="compacted"):
        reencode_late(spark, docs, docs.limit(5), out, CFG)


def test_query_handler_reads_compacted_table(spark, streamed):
    """The archival marker blocks writers, not readers: the JSON query
    handler serves the compacted table exactly (lineage-resolved
    membership) including cursor paging."""
    from skar_spark.query import run_query
    out = streamed  # compacted by the earlier test (module fixture)
    urls, cursor, hops = [], 0, 0
    while cursor is not None:
        res = run_query(spark, out, {"cursor": cursor, "max_rows": 500,
                                     "page_files": 1,
                                     "field_selection": ["url"]})
        urls.extend(r["url"] for r in res["rows"])
        cursor = res["next_cursor"]
        hops += 1
        assert hops < 20
    assert len(urls) == 3 * PER_FILE
    assert len(set(urls)) == 3 * PER_FILE  # exactly once


def test_compact_noop_below_min_parts(spark, tmp_path):
    from skar_spark.engine.encode import encode_documents
    from skar_spark.synth import synth_documents
    out = str(tmp_path / "big")
    docs = synth_documents(spark, 2_000, partitions=4)
    cfg = EngineConfig(target_partition_rows=1_000, max_row_group_size=500)
    encode_documents(spark, docs, out, cfg, n_rows=2_000)
    # parts are already ~full-size → nothing qualifies, no marker
    res = compact_parts(spark, out, cfg)
    assert res["compacted_parts"] == 0
    assert not is_compacted(out)

def test_crash_orphan_files_never_resurrected(spark, tmp_path):
    """Crash-safety of destructive ops: a file deleted from lineage (as
    by a vacuum/compaction swap) but left on disk by a crash must NOT
    be read — lineage is the source of truth for membership."""
    import shutil

    from skar_spark.engine.compact import _compact_marker
    from skar_spark.engine.encode import encode_documents
    from skar_spark.synth import synth_documents

    out = str(tmp_path / "orphan")
    docs = synth_documents(spark, 1_000, partitions=2)
    cfg = EngineConfig(target_partition_rows=250, max_row_group_size=125)
    encode_documents(spark, docs, out, cfg, n_rows=1_000)
    n_total = scan(spark, out).count()

    # simulate the crash window: duplicate one committed part file on
    # disk under a foreign name and mark the table as having run a
    # destructive op (compaction) — the copy has no lineage row
    f0 = list_part_files(out)[0]
    shutil.copy(f0, f0.replace(".skar", "") + "999.skar")
    import os
    os.makedirs(os.path.dirname(_compact_marker(out)), exist_ok=True)
    with open(_compact_marker(out), "w") as fh:
        fh.write("crash-test\n")

    assert scan(spark, out).count() == n_total          # no duplicates
    some = scan(spark, out).select("url").first().url
    host = some.split("://")[1].split("/")[0]
    got = scan(spark, out, host_eq=host).count()        # filtered path too
    expect = sum(1 for r in scan(spark, out).select("url").collect()
                 if r.url.split("://")[1].split("/")[0] == host)
    assert got == expect


def test_stream_append_after_compaction(spark, streamed, tmp_path):
    """VERDICT r03 item 7: streaming may continue onto a compacted table
    — appended pids are namespaced at or above the recorded high-water
    mark, so they can never collide with (and supersede) compacted ids.
    Exactly-once totals and pruned point reads must hold across the
    archival boundary."""
    from skar_spark.engine.compact import compaction_high_water
    from skar_spark.engine.decode import _file_part_index

    out = streamed  # module fixture; compact here if running standalone
    if not is_compacted(out):
        compact_parts(spark, out, EngineConfig(max_row_group_size=500,
                                               target_partition_rows=1_000))
    hw = compaction_high_water(out)
    assert hw is not None
    before = {(r.url, r.text)
              for r in scan(spark, out).select("url", "text").collect()}
    files_before = set(list_part_files(out))

    d = tmp_path / "landing_append"
    d.mkdir()
    new = synth_batch(np.arange(9_000, 9_000 + PER_FILE))
    pq.write_table(new, str(d / "late.parquet"))
    # fresh checkpoint: a new landing source restarts epoch numbering;
    # the high-water floor keeps its pids disjoint from everything prior
    stream_encode(spark, str(d), out, CFG,
                  checkpoint_dir=str(tmp_path / "ckpt_append")
                  ).awaitTermination(120)

    appended = set(list_part_files(out)) - files_before
    assert appended
    assert all(_file_part_index(f) >= hw for f in appended)
    back = {(r.url, r.text)
            for r in scan(spark, out).select("url", "text").collect()}
    want = before | {(u.as_py(), t.as_py())
                     for u, t in zip(new["url"], new["text"])}
    assert back == want  # exactly once: nothing lost, nothing doubled

    # pruned point read across old + appended parts stays exact
    some = sorted(u for u, _ in want)[0]
    host = some.split("://")[1].split("/")[0]
    got = {r.url for r in scan(spark, out, host_eq=host)
           .select("url").collect()}
    assert got == {u for u, _ in want
                   if u.split("://")[1].split("/")[0] == host}


def test_compact_archive_profile_shrinks_cold_tier(spark, tmp_path):
    """VERDICT r04 item 5: compaction defaults to the ARCHIVE codec
    profile, so the consolidated cold tier lands at the size operating
    point (bytes_out ≤ 0.85× the DEFAULT-encoded small parts) with
    identical contents and working pruned point reads."""
    import os

    from skar_spark.engine.encode import encode_documents
    from skar_spark.synth import synth_documents

    cfg = EngineConfig(target_partition_rows=500, max_row_group_size=250,
                       salt_threshold_rows=450)
    out = str(tmp_path / "out")
    docs = synth_documents(spark, 4_000, partitions=4)
    encode_documents(spark, docs, out, cfg, n_rows=4_000)
    files = list_part_files(out)
    assert len(files) >= 6
    bytes_before = sum(os.path.getsize(f) for f in files)
    want = {(r.url, r.text)
            for r in scan(spark, out).select("url", "text").collect()}

    res = compact_parts(
        spark, out,
        EngineConfig(target_partition_rows=4_000, max_row_group_size=2_000),
        small_rows=4_000)
    assert res["compacted_parts"] == len(files)
    files_after = list_part_files(out)
    bytes_after = sum(os.path.getsize(f) for f in files_after)
    assert bytes_after <= 0.85 * bytes_before, (bytes_after, bytes_before)

    got = {(r.url, r.text)
           for r in scan(spark, out).select("url", "text").collect()}
    assert got == want
    assert all(r.ok for r in validate_output(spark, out).collect())
    # pruned point read still exact on the cold tier
    some = next(iter(want))[0]
    host = some.split("://")[1].split("/")[0]
    hit = scan(spark, out, host_eq=host).select("url").collect()
    assert any(r.url == some for r in hit)
    assert all(r.url.split("://")[1].split("/")[0] == host for r in hit)

    # opting out: profile=cfg keeps the ingest codec (fresh table)
    out2 = str(tmp_path / "out2")
    encode_documents(spark, docs, out2, cfg, n_rows=4_000)
    res2 = compact_parts(
        spark, out2,
        EngineConfig(target_partition_rows=4_000, max_row_group_size=2_000),
        small_rows=4_000, profile=EngineConfig())
    assert res2["compacted_parts"] >= 6
    bytes_default = sum(os.path.getsize(f)
                        for f in list_part_files(out2))
    assert bytes_after < bytes_default   # ARCHIVE beats DEFAULT on size
