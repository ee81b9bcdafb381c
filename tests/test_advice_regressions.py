"""Regression guards for the round-2 ADVICE findings.

Each test pins one fixed failure mode so it cannot silently return:
replan-state clobber, paging-cursor epoch ordering, empty-disjunct
pruning, and host-derivation NULL semantics.
"""

import os

import numpy as np
import pyarrow as pa
import pytest

from skar_spark.config import EngineConfig
from skar_spark.engine.decode import prune_selections, scan_paged
from skar_spark.engine.encode import encode_documents, load_plan_meta
from skar_spark.synth import synth_batch, synth_documents

pytestmark = pytest.mark.spark

CFG = EngineConfig(target_partition_rows=1_000, max_row_group_size=400,
                   salt_threshold_rows=900)


def test_nonresume_rerun_fails_before_clobbering_replan_state(spark, tmp_path):
    """ADVICE r02 #1: a non-resume rerun into a committed out_dir must
    fail BEFORE overwriting meta/salt_map + meta/plan.json — those files
    are what makes resume/rollback replan with identical membership."""
    out = str(tmp_path / "out")
    docs = synth_documents(spark, 3_000, partitions=4)
    encode_documents(spark, docs, out, CFG, n_rows=3_000)

    plan_before = load_plan_meta(out)
    salt_dir = os.path.join(out, "meta", "salt_map")
    salt_files_before = sorted(os.listdir(salt_dir))
    salt_mtimes_before = [os.path.getmtime(os.path.join(salt_dir, f))
                          for f in salt_files_before]

    # a DIFFERENT input (would compute a different plan) must not touch
    # the committed table's persisted replan state
    other = synth_documents(spark, 1_000, partitions=2)
    with pytest.raises(FileExistsError):
        encode_documents(spark, other, out, CFG, n_rows=1_000)

    assert load_plan_meta(out) == plan_before
    assert sorted(os.listdir(salt_dir)) == salt_files_before
    assert [os.path.getmtime(os.path.join(salt_dir, f))
            for f in salt_files_before] == salt_mtimes_before


def test_scan_paged_cursor_orders_epoch_names_numerically(spark, tmp_path):
    """ADVICE r02 #2: streaming part names sort e10 < e2 lexicographically
    while pids grow with epoch — the cursor must follow the numeric part
    index or a resume re-reads returned partitions and drops others."""
    from skar_spark.engine.partfile import write_part_file

    out = str(tmp_path / "out")
    os.makedirs(os.path.join(out, "parts"))
    # pids grow with epoch, exactly like streaming's injective namespace;
    # lexicographic file order (e1, e10, e2) disagrees with pid order
    pids = {1: [2, 3], 2: [4, 5], 10: [20, 21]}
    total = 0
    for epoch, ps in pids.items():
        for pid in ps:
            lo = total * 100
            t = synth_batch(np.arange(lo, lo + 100))
            t = t.append_column("_host", pa.array(["h"] * 100))
            write_part_file(
                os.path.join(out, "parts",
                             f"part-e{epoch}-{pid:09d}.skar"),
                t, EngineConfig(max_row_group_size=100))
            total += 1

    seen_urls: list[str] = []
    cursor = 0
    pages = 0
    while cursor is not None:
        rows, cursor = scan_paged(spark, out, columns=["url"],
                                  cursor=cursor, time_limit_ms=0,
                                  page_files=2)
        seen_urls.extend(r.url for r in rows)
        pages += 1
        assert pages < 20
    assert pages >= 3                      # really paged
    assert len(seen_urls) == total * 100   # no duplicates ...
    assert len(set(seen_urls)) == total * 100  # ... and no drops


def test_prune_selections_empty_returns_empty(spark, tmp_path):
    """ADVICE r02 #4: zero disjuncts = OR of nothing = false — must
    return {} instead of raising on filter('')."""
    out = str(tmp_path / "out")
    docs = synth_documents(spark, 2_000, partitions=4)
    encode_documents(spark, docs, out, CFG, n_rows=2_000)
    assert prune_selections(out, []) == {}


def test_derive_host_coalesces_nonmatching_to_empty():
    """ADVICE r02 #5: the Arrow-side host derivation must agree with
    Spark's regexp_extract semantics ('' for non-matching urls, never
    NULL) so host filters behave identically on both paths."""
    from skar_spark.engine.partfile import _derive_host

    urls = pa.array(["https://a.com/x", "not a url", "", "ftp://b.org/y"])
    hosts = _derive_host(urls)
    assert hosts.null_count == 0
    assert hosts.to_pylist() == ["a.com", "", "", "b.org"]
