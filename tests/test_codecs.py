"""Codec kernel unit tests — FIXTURES.md §3 vectors.

Mirrors the reference's kernel-level unit-test strategy (exact expected
outputs on crafted arrays, skar/src/query/execution/mod.rs:404-504):
every codec must round-trip bit-identical on EVERY vector, not just the
ones it wins.
"""

import numpy as np
import pyarrow as pa
import pytest

from skar_spark.codecs import codecs_for, decode_array, encode_array
from skar_spark.codecs.framing import typecode
from skar_spark.codecs import primitives as P
from tests.util import assert_arrays_equal

rng = np.random.default_rng(42)


def _vectors():
    return {
        "const_int": pa.array(np.full(10_000, 42, np.int64)),
        "sorted_ts": pa.array(
            (np.arange(10_000) * 1_000_000 + 1_700_000_000_000_000).astype(np.int64),
            pa.timestamp("us")),
        "sorted_ts_tz": pa.array(
            np.arange(1000, dtype=np.int64), pa.timestamp("us", tz="UTC")),
        "small_range_int": pa.array(rng.integers(1000, 1128, 10_000).astype(np.int64)),
        "extreme_int": pa.array(np.array(
            [-(2**63), 2**63 - 1, 0, -1, 1] * 100, np.int64)),
        "zipf_lang": pa.array(
            [["en", "de", "fr", "ja", "zh"][min(i % 23, 4)] for i in range(20_000)]),
        "prose_text": pa.array(
            [("the quick brown fox jumps over the lazy dog %d " % (i % 7)) * 10
             for i in range(2_000)]),
        "random_bytes": pa.array([rng.bytes(100) for _ in range(500)], pa.binary()),
        "empty": pa.array([], pa.string()),
        "empty_int": pa.array([], pa.int64()),
        "all_null": pa.array([None] * 100, pa.string()),
        "all_null_int": pa.array([None] * 100, pa.int64()),
        "single_row": pa.array([3.14], pa.float64()),
        "null_sprinkle": pa.array(
            [None if i % 10 == 0 else f"doc {i} body text" for i in range(3_000)]),
        "unicode_mix": pa.array(
            ["héllo 🌍 日本語テキスト" * 3, "", None, "ascii only", "🎉" * 50,
             "à́ combining"] * 300),
        "bool_nulls": pa.array([None if i % 7 == 0 else i % 3 == 0
                                for i in range(1_000)]),
        "floats": pa.array(np.where(rng.random(2_000) < 0.3, 1.5, rng.random(2_000))),
        "float_nan": pa.array([float("nan"), 1.0, None, float("inf"), -0.0]),
        # quantized decimals (few mantissa patterns) — the bss win case
        "float_quantized": pa.array(
            np.round(rng.integers(1, 200, 5_000) * 0.25, 2)),
        "float32_col": pa.array(rng.random(3_000, np.float32),
                                pa.float32()),
        # embedding-vector columns (list<float>): nulls + empties + ragged
        "embedding_f32": pa.array(
            [None, []] + [list(map(float, rng.random(8, np.float32)))
                          for _ in range(300)],
            pa.list_(pa.float32())),
        "embedding_f64_large": pa.array(
            [[1.5, -2.5, 0.0], [], [3.25]] * 50,
            pa.large_list(pa.float64())),
        "i32": pa.array(rng.integers(0, 1000, 1_000).astype(np.int32)),
        "i8": pa.array(rng.integers(-128, 128, 500).astype(np.int8)),
        "date": pa.array(rng.integers(0, 20_000, 500).astype(np.int32), pa.date32()),
        "large_str": pa.array(["x" * i for i in range(100)], pa.large_string()),
        "large_bin": pa.array([b"y" * (i % 37) for i in range(200)], pa.large_binary()),
        "embedded_zero_bytes": pa.array([b"\x00\x01\x02" * i for i in range(50)],
                                        pa.binary()),
        "all_256_bytes": pa.array([bytes(range(256)) for _ in range(20)], pa.binary()),
    }


@pytest.mark.parametrize("name", list(_vectors().keys()))
def test_roundtrip_all_codecs(name):
    arr = _vectors()[name]
    for codec in codecs_for(typecode(arr.type)):
        blob = encode_array(arr, codec)
        out = decode_array(blob)
        assert_arrays_equal(out, arr, (name, codec))


def test_chunked_input_roundtrip():
    ca = pa.chunked_array([pa.array(["a", "bb", None]), pa.array(["ccc", ""])])
    blob = encode_array(ca, "plain")
    assert decode_array(blob).to_pylist() == ["a", "bb", None, "ccc", ""]


def test_sliced_input_roundtrip():
    base = pa.array([f"row-{i}" for i in range(1000)])
    sl = base.slice(100, 321)
    blob = encode_array(sl, "fsst")
    assert decode_array(blob).to_pylist() == sl.to_pylist()


def test_bitpack_primitives_exact():
    vals = rng.integers(0, 2**40, 10_000).astype(np.uint64)
    for width in (40, 41, 64):
        buf = P.pack_bits(vals, width)
        assert len(buf) == (len(vals) * width + 7) // 8
        out = P.unpack_bits(buf, len(vals), width)
        np.testing.assert_array_equal(out, vals)


def test_for_delta_wraparound_safe():
    vals = np.array([-(2**63), 2**63 - 1, -5, 7, 0], np.int64)
    f, r, w, buf = P.delta_encode(vals)
    out = P.delta_decode(f, r, w, buf, len(vals))
    np.testing.assert_array_equal(out, vals)


def test_rle_split_exact():
    vals = np.array([5, 5, 5, 2, 2, 9], np.int64)
    rv, rl = P.rle_split(vals)
    np.testing.assert_array_equal(rv, [5, 2, 9])
    np.testing.assert_array_equal(rl, [3, 2, 1])


def _level_replace_chain(data, table):
    """Sequential reference encode: one ``bytes.replace`` per symbol,
    level by level."""
    import skar_spark.codecs.fsst as FS
    for level in FS.merge_levels(table):
        for code, pair in level:
            data = data.replace(pair, bytes([code]))
    return data


def test_fsst_both_level_steps_roundtrip_and_chain_matches_reference(
        monkeypatch):
    """Every level through numpy (crossover 0) and every level through
    the Arrow chain (crossover 10**9) must round-trip exactly on learned
    tables of both profiles and on a hand-built table with one level of
    40 symbols; the chain-only output must equal the sequential
    ``bytes.replace`` chain byte for byte."""
    import skar_spark.codecs.fsst as FS
    from skar_spark.config import ARCHIVE, DEFAULT

    rng = np.random.default_rng(5)
    words = [bytes(rng.integers(97, 110, rng.integers(3, 9)).astype("u1"))
             for _ in range(40)]
    data = b" ".join(words[rng.integers(0, 40)] for _ in range(60_000))
    tables = []
    for cfg in (DEFAULT, ARCHIVE):
        free = FS.free_byte_values(data, cfg.fsst_max_symbols)
        sample = data[:FS.SAMPLE_BYTES]
        tables.append(FS.build_symbol_table(
            sample, free, int(len(sample) * FS.MIN_PAIR_FRAC)))
    a = np.frombuffer(data, np.uint8)
    counts = np.bincount((a[:-1].astype(np.uint16) << 8) | a[1:],
                         minlength=65536)
    top = np.argsort(counts)[::-1][:40]
    assert counts[top[-1]] > 0
    wide = [(code, bytes([int(p) >> 8, int(p) & 0xFF]))
            for code, p in zip(FS.free_byte_values(data, 256), top)]
    assert [len(lv) for lv in FS.merge_levels(wide)] == [40]
    tables.append(wide)
    for tbl in tables:
        assert tbl
        for crossover in (FS.NUMPY_LEVEL_MIN, 0, 10**9):
            monkeypatch.setattr(FS, "NUMPY_LEVEL_MIN", crossover)
            comp = FS.fsst_compress(data, tbl)
            assert len(comp) < len(data)
            assert FS.fsst_decompress(comp, tbl) == data
            if crossover == 10**9:
                assert comp == _level_replace_chain(data, tbl)


def test_bad_leading_magic_raises_value_error():
    """The blob's magic check is a raise, not an assert, so it holds
    under ``python -O`` too."""
    from skar_spark.codecs.framing import parse_blob
    blob = encode_array(pa.array(["a", "b"]), "plain")
    with pytest.raises(ValueError, match="bad magic"):
        parse_blob(b"X" + blob[1:])
    with pytest.raises(ValueError, match="bad magic"):
        decode_array(b"X" + blob[1:])


def test_list_float_null_elements_refused():
    bad = pa.array([[1.0, None]], pa.list_(pa.float32()))
    with pytest.raises(ValueError, match="null elements"):
        encode_array(bad, "bss")


def test_bss_selected_for_quantized_floats():
    """The auto-selector must pick bss where byte-splitting genuinely
    wins (few mantissa patterns, e.g. quantity-like decimals)."""
    from skar_spark.codecs import encode_auto
    arr = pa.array(np.round(rng.integers(1, 50, 20_000) * 0.25, 2))
    codec, blob = encode_auto(arr)
    assert codec == "bss"
    plain = encode_array(arr, "plain")
    assert len(blob) < len(plain)
    assert_arrays_equal(decode_array(blob), arr, "bss_auto")


def test_list_float_sliced_input_roundtrip():
    base = pa.array([[float(i), float(i + 1)] for i in range(100)],
                    pa.list_(pa.float32()))
    sl = base.slice(7, 41)
    for codec in ("plain", "bss"):
        assert_arrays_equal(decode_array(encode_array(sl, codec)), sl,
                            ("list_slice", codec))


def test_pack_unpack_agree_across_all_widths():
    """pack_bits/unpack_bits round-trip at EVERY width 1..64 — pins the
    gather fast path (widths 5-57) against the bit-matrix path at both
    crossovers and the 9-byte-span widths (58-64) that must keep the
    old path."""
    import numpy as np
    from skar_spark.codecs import primitives as P

    rng = np.random.default_rng(17)
    for width in range(1, 65):
        hi = (1 << width) - 1
        vals = rng.integers(0, hi, 1000, dtype=np.uint64,
                            endpoint=True)
        vals[:3] = (0, hi, hi >> 1)  # pin the extremes
        buf = P.pack_bits(vals, width)
        out = P.unpack_bits(buf, len(vals), width)
        assert np.array_equal(out, vals), width
        # truncated buffer still fails loudly on both paths
        if len(buf) > 1:
            import pytest as _pt
            with _pt.raises(ValueError, match="truncated"):
                P.unpack_bits(buf[:-1], len(vals), width)
