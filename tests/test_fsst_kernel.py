"""The compiled FSST kernel against its numpy reference, its loader's
fallback and cache, and the codec spans perfbench's per-layer metrics are
built from. No Spark session."""

import logging
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from skar_spark.codecs import encode_array, native
from skar_spark.codecs import fsst as FS
from skar_spark.config import ARCHIVE, DEFAULT

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def kernel():
    if native.kernel() is None:
        pytest.skip("no C compiler: the numpy rules are the only path")


def _replace_chain_decode(comp, table):
    """The earlier decoder: one ``bytes.replace`` per code, deepest level
    first."""
    for level in reversed(FS.merge_levels(table)):
        for code, pair in reversed(level):
            comp = comp.replace(bytes([code]), pair)
    return comp


def _stages(data, max_symbols, min_count):
    free = FS.free_byte_values(data, max_symbols)
    table = FS.build_symbol_table(data[:FS.SAMPLE_BYTES], free, min_count)
    return free, table, FS.fsst_compress(data, table)


def _check_against_numpy(monkeypatch, data, max_symbols, min_count=8):
    """Free bytes, table and compressed bytes equal the numpy rules'; the
    compiled decode equals the replace chain and the input."""
    got = _stages(data, max_symbols, min_count)
    with monkeypatch.context() as m:
        m.setattr(native, "_loaded", [None])
        want = _stages(data, max_symbols, min_count)
    assert got == want
    _free, table, comp = got
    out = FS.fsst_decompress(comp, table, len(data))
    assert out == _replace_chain_decode(comp, table) == data
    return table


def test_kernel_builds_where_a_compiler_is_present():
    if shutil.which(native.CC) is None:
        pytest.skip(f"{native.CC} is not installed")
    assert native.kernel() is not None


_ALPHABETS = st.sampled_from([b"ab", b"abc ", b"the quick brown fox\n",
                              bytes(range(256))])


@given(st.data(), _ALPHABETS, st.integers(0, 4000),
       st.sampled_from([1, 2, 16, 64, 255]), st.integers(0, 40))
@settings(max_examples=80, deadline=None)
def test_kernel_equals_numpy_reference(kernel, data, alphabet, n,
                                       max_symbols, min_count):
    rng = np.random.default_rng(data.draw(st.integers(0, 2 ** 32 - 1)))
    idx = rng.zipf(1.3, n) % len(alphabet)
    buf = bytes(np.frombuffer(alphabet, np.uint8)[idx])
    with pytest.MonkeyPatch.context() as mp:
        _check_against_numpy(mp, buf, max_symbols, min_count)


@pytest.mark.parametrize("name", ["large_str", "all_256_bytes", "empty",
                                  "one_byte", "two_bytes", "one_run"])
def test_kernel_equals_numpy_on_edge_buffers(kernel, monkeypatch, name):
    data = {
        # symbols longer than 256 bytes: "x" runs merge 2, 4, ... 64 x's
        "large_str": b"".join(b"x" * i for i in range(100)),
        "all_256_bytes": bytes(range(256)) * 20,   # no free code
        "empty": b"",
        "one_byte": b"q",
        "two_bytes": b"qq",
        "one_run": b"z" * 5000,
    }[name]
    for cfg in (DEFAULT, ARCHIVE):
        table = _check_against_numpy(monkeypatch, data, cfg.fsst_max_symbols)
        if name == "large_str" and cfg is ARCHIVE:
            exp = {c: p for c, p in table}

            def size(b):
                return 1 if b not in exp else size(exp[b][0]) + size(exp[b][1])
            assert max(size(c) for c in exp) > 256
        if name == "all_256_bytes":
            assert table == []


def test_chain_encoded_blob_decodes(kernel):
    """A part written by the earlier sequential encoder (one
    ``bytes.replace`` per symbol, learned order) still decodes."""
    data = b"".join(b"host-%d.example/path/%d " % (i % 31, i)
                    for i in range(5000))
    table = FS.build_symbol_table(data[:FS.SAMPLE_BYTES],
                                  FS.free_byte_values(data, 64), 8)
    comp = data
    for code, pair in table:
        comp = comp.replace(pair, bytes([code]))
    assert comp != FS.fsst_compress(data, table)  # another overlap choice
    assert FS.fsst_decompress(comp, table, len(data)) == data


def test_no_compiler_falls_back_to_identical_bytes(monkeypatch, tmp_path,
                                                   caplog):
    arr = pa.array([f"https://host{i % 50}.example/a/b?id={i}"
                    for i in range(4000)])
    want = [encode_array(arr, "fsst", cfg) for cfg in (DEFAULT, ARCHIVE)]
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(native, "CC", str(tmp_path / "no-such-cc"))
    monkeypatch.setattr(native, "_loaded", [])
    with caplog.at_level(logging.WARNING, logger=native.__name__):
        got = [encode_array(arr, "fsst", cfg) for cfg in (DEFAULT, ARCHIVE)]
        got += [encode_array(arr, "fsst", DEFAULT)]
    assert native._loaded == [None]
    assert got == want + want[:1]
    warned = [r for r in caplog.records if r.name == native.__name__]
    assert len(warned) == 1 and "unavailable" in warned[0].getMessage()


def test_cold_processes_build_the_cache_once(kernel, tmp_path):
    """Three processes loading into an empty cache at once all get the
    kernel, and the compiler runs once."""
    cc_log = tmp_path / "cc.log"
    cc = tmp_path / "cc"
    cc.write_text(f'#!/bin/sh\necho run >> "{cc_log}"\n'
                  f'exec {shutil.which(native.CC)} "$@"\n')
    cc.chmod(0o755)
    probe = ("import sys; from skar_spark.codecs import native; "
             f"native.CC = {str(cc)!r}; "
             "sys.exit(0 if native.kernel() is not None else 1)")
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "cache"),
               PYTHONPATH=ROOT)
    procs = [subprocess.Popen([sys.executable, "-c", probe], env=env)
             for _ in range(3)]
    codes = [p.wait(timeout=120) for p in procs]
    assert codes == [0, 0, 0]
    assert cc_log.read_text().splitlines() == ["run"]
    built = os.listdir(tmp_path / "cache" / "skar_spark")
    assert [f for f in built if f.endswith(".so")] and \
        not [f for f in built if f.endswith(".tmp")]


def test_traced_part_write_records_fsst_spans(tmp_path):
    """perfbench's codec wraps still see the table build and the compress
    inside a part write, so `codecs.fsst.*` do not silently read 0."""
    from perfbench.trace import Tracer
    from skar_spark.engine import partfile
    n = 3000
    t = pa.table({
        "url": [f"https://host{i % 40}.example/p/{i}" for i in range(n)],
        "text": [f"some body text number {i % 13} with words" * 3
                 for i in range(n)],
    })
    tr = Tracer()
    tr.enabled = True
    tr.install_codecs()
    try:
        partfile.write_part_file(str(tmp_path / "p.skar"), t, DEFAULT)
    finally:
        tr.unwrap_all()
    for name in ("codecs.fsst.compress", "codecs.fsst.build_symbol_table",
                 "codecs.fsst.free_byte_values"):
        spans = [s for s in tr.named(name)
                 if tr.has_ancestor(s, "codecs.fsst.encode")]
        assert spans and sum(s["end"] - s["start"] for s in spans) > 0, name
    assert any(s["attrs"]["n"] > 0
               for s in tr.named("codecs.fsst.build_symbol_table"))
