"""Golden round-trip — the reference's strongest test pattern, rebuilt.

Mirror of skar's golden-data round-trip (skar/src/tests.rs:24-85): real
batch → write_folder → re-read → full validation. Here: deterministic
synthetic documents → our encode → decode → (a) bit-identical columns vs
the input, (b) byte-identical `text` per `url` (the north-rule invariant),
(c) total encoded size ≤ the golden pyarrow/zstd-9 baseline.
"""

import os
import shutil

import numpy as np
import pyarrow as pa
import pytest

from skar_spark.config import EngineConfig
from skar_spark.engine.golden import column_checksum, sort_documents, write_golden
from skar_spark.engine.partfile import read_part_file, write_part_file
from skar_spark.synth import synth_batch

N_DOCS = 6_000
CFG = EngineConfig(max_row_group_size=1_000)


@pytest.fixture(scope="module")
def docs():
    return synth_batch(np.arange(N_DOCS))


@pytest.fixture(scope="module")
def encoded(tmp_path_factory, docs):
    d = tmp_path_factory.mktemp("enc")
    sorted_docs = sort_documents(docs)
    from skar_spark.engine.golden import host_of_url
    body = sorted_docs.append_column("_host", host_of_url(sorted_docs["url"]))
    path = str(d / "part-000000.skar")
    stats = write_part_file(path, body, CFG)
    return path, stats, sorted_docs


def test_bit_identical_roundtrip(encoded):
    path, _stats, sorted_docs = encoded
    back = read_part_file(path)
    assert back.num_rows == sorted_docs.num_rows
    for c in ("url", "warc_ts", "html", "text", "lang"):
        assert back[c].combine_chunks().equals(
            sorted_docs[c].combine_chunks()), c
        assert column_checksum(back[c]) == column_checksum(sorted_docs[c]), c


def test_text_byte_identical_per_url(encoded):
    """The north-rule per-row invariant: byte-identical text per url."""
    path, _stats, sorted_docs = encoded
    back = read_part_file(path, columns=["url", "text"])
    ref = {u: t for u, t in zip(sorted_docs["url"].to_pylist(),
                                sorted_docs["text"].to_pylist())}
    for u, t in zip(back["url"].to_pylist(), back["text"].to_pylist()):
        assert t.encode("utf-8") == ref[u].encode("utf-8"), u


def test_size_le_golden(encoded, tmp_path, docs):
    path, stats, _ = encoded
    manifest = write_golden(docs, str(tmp_path / "golden"))
    assert stats["bytes_out"] <= manifest["file_bytes"], (
        stats["bytes_out"], manifest["file_bytes"])


def test_projection_and_pruning(encoded):
    path, _stats, sorted_docs = encoded
    # projection
    t = read_part_file(path, columns=["url", "lang"])
    assert t.column_names == ["url", "lang"]
    # zone-map over-return safety on the host-sorted layout: within-host
    # rows are ts-sorted but each row group spans most of the ts range, so
    # pruning must never drop matching rows (and may keep everything)
    ts = sorted_docs["warc_ts"].cast(pa.int64()).to_numpy()
    lo, hi = int(np.quantile(ts, 0.4)), int(np.quantile(ts, 0.42))
    pruned = read_part_file(path, columns=["url", "warc_ts"],
                            where=[{"ts_range": (lo, hi)}])
    full = read_part_file(path, columns=["url", "warc_ts"])
    want = {u.as_py() for u, t_ in zip(full["url"], full["warc_ts"])
            if lo <= t_.cast(pa.int64()).as_py() < hi}
    got_urls = set(pruned["url"].to_pylist())
    assert want <= got_urls  # pruning may over-return, never under-return


def test_ts_zone_pruning_on_ts_sorted_layout(tmp_path, docs):
    """Zone maps actually skip row groups when data is ts-clustered —
    the direct mirror of skar's block_number zone maps
    (build_parquet_idx.rs:50-70), whose sort key IS the range key."""
    t = docs.sort_by([("warc_ts", "ascending"), ("url", "ascending")])
    from skar_spark.engine.golden import host_of_url
    body = t.append_column("_host", host_of_url(t["url"]))
    path = str(tmp_path / "ts_sorted.skar")
    write_part_file(path, body, CFG)
    ts = t["warc_ts"].cast(pa.int64()).to_numpy()
    lo, hi = int(np.quantile(ts, 0.50)), int(np.quantile(ts, 0.52))
    pruned = read_part_file(path, columns=["url", "warc_ts"],
                            where=[{"ts_range": (lo, hi)}])
    want = int(((ts >= lo) & (ts < hi)).sum())
    got = pruned.num_rows
    assert got >= want                      # never under-returns
    assert got < t.num_rows // 4            # skipped most row groups
    vals = pruned["warc_ts"].cast(pa.int64()).to_pylist()
    assert sum(lo <= v < hi for v in vals) == want  # exact rows present


def test_host_zone_pruning(encoded):
    path, _stats, sorted_docs = encoded
    from skar_spark.engine.golden import host_of_url
    hosts = host_of_url(sorted_docs["url"]).to_pylist()
    target = hosts[len(hosts) // 2]
    t = read_part_file(path, where=[{"hosts": [target]}])
    got = set(host_of_url(t["url"].combine_chunks()).to_pylist())
    assert target in got
    assert t.num_rows < sorted_docs.num_rows


def test_empty_partition_roundtrip(tmp_path):
    empty = sort_documents(synth_batch(np.arange(0)))
    from skar_spark.engine.golden import host_of_url
    body = empty.append_column("_host", host_of_url(empty["url"]))
    path = str(tmp_path / "empty.skar")
    write_part_file(path, body, CFG)
    back = read_part_file(path)
    assert back.num_rows == 0
    assert set(back.column_names) == {"url", "warc_ts", "html", "text", "lang"}
