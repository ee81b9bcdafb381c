"""ALP float codec: bit-identity on every input class + selector wins.

The codec's contract mirrors the rest of the family (FIXTURES.md §3):
whatever it emits round-trips bit-identical — including NaN payloads,
infinities, and negative zero — and the auto-selector picks it exactly
where decimal-scaling structurally beats plain/bss (prices, rates,
quantized readings), never on true-real data like embeddings."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from skar_spark.codecs import canonicalize, decode_array, encode_array, \
    encode_auto
from skar_spark.codecs import alp
from skar_spark.codecs.selector import choose_codec

rng = np.random.default_rng(11)


def _bits(arr: pa.Array) -> np.ndarray:
    v = np.asarray(arr.to_numpy(zero_copy_only=False))
    return np.ascontiguousarray(v).view(
        np.uint32 if v.dtype == np.float32 else np.uint64)


def _assert_bit_identical(arr: pa.Array, codec: str):
    blob = encode_array(arr, codec)
    out = decode_array(blob)
    assert np.array_equal(_bits(out), _bits(canonicalize(arr)))
    return blob


@pytest.mark.parametrize("dtype,patype", [
    (np.float64, pa.float64()), (np.float32, pa.float32())])
def test_alp_roundtrip_decimals(dtype, patype):
    vals = np.round(rng.uniform(1, 100_000, 50_000), 2).astype(dtype)
    blob = _assert_bit_identical(pa.array(vals, patype), "alp")
    assert len(blob) < len(encode_array(pa.array(vals, patype), "plain"))


def test_alp_roundtrip_specials():
    vals = np.array([np.nan, np.inf, -np.inf, -0.0, 0.0, 1e300,
                     -1e-300, 0.1, 0.2, 0.3, 12345.67], np.float64)
    _assert_bit_identical(pa.array(vals, pa.float64()), "alp")


def test_alp_roundtrip_nan_payload():
    # a quiet NaN with a non-default payload must survive exactly
    v = np.frombuffer(
        np.array([0x7FF8_0000_00AB_CDEF], np.uint64).tobytes(), np.float64)
    _assert_bit_identical(pa.array(v, pa.float64()), "alp")


def test_alp_roundtrip_random_is_all_exceptions_but_exact():
    vals = rng.standard_normal(5_000)
    _assert_bit_identical(pa.array(vals, pa.float64()), "alp")


def test_alp_roundtrip_with_nulls_and_empty():
    arr = pa.array([1.25, None, 3.5, None], pa.float64())
    _assert_bit_identical(arr, "alp")
    _assert_bit_identical(pa.array([], pa.float64()), "alp")


def test_alp_selected_for_prices_not_embeddings():
    prices = pa.array(np.round(rng.uniform(1, 9999, 60_000), 2),
                      pa.float64())
    assert choose_codec(prices) == "alp"
    embed = pa.array(rng.standard_normal(60_000).astype(np.float32),
                     pa.float32())
    assert choose_codec(embed) != "alp"


def test_alp_auto_smaller_than_bss_on_decimals():
    arr = pa.array(np.round(rng.uniform(0, 100, 60_000), 2), pa.float64())
    codec, blob = encode_auto(arr)
    assert codec == "alp"
    assert len(blob) < len(encode_array(arr, "bss"))
    assert np.array_equal(_bits(decode_array(blob)),
                          _bits(canonicalize(arr)))


def test_alp_list_float_roundtrip():
    # quantized embedding vectors (e.g. 3-decimal fixed point) — the
    # list<float> lane shares the flat-child ALP path
    n, d = 2_000, 16
    flat = np.round(rng.standard_normal(n * d), 3).astype(np.float32)
    arr = pa.array(list(flat.reshape(n, d)), pa.list_(pa.float32()))
    blob = encode_array(arr, "alp")
    out = decode_array(blob)
    got = np.concatenate(
        [np.asarray(x, np.float32) for x in out.to_pylist()])
    assert np.array_equal(got.view(np.uint32), flat.view(np.uint32))
    assert len(blob) < len(encode_array(arr, "bss"))


def test_alprd_roundtrip_random_and_special():
    for vals in (rng.standard_normal(20_000),
                 rng.standard_normal(20_000).astype(np.float32),
                 np.array([np.nan, np.inf, -np.inf, -0.0, 0.0], np.float64),
                 np.zeros(0, np.float64),
                 np.full(500, np.pi)):
        meta, secs = alp.rd_encode(vals)
        out = alp.rd_decode(meta, secs, len(vals), vals.dtype)
        iv = np.uint32 if vals.dtype == np.float32 else np.uint64
        assert np.array_equal(np.ascontiguousarray(vals).view(iv),
                              np.ascontiguousarray(out).view(iv))


def test_alprd_smaller_than_plain_on_embeddings():
    vals = rng.standard_normal(60_000).astype(np.float32)
    meta, secs = alp.rd_encode(vals)
    assert sum(map(len, secs)) < vals.nbytes


def _kernel_fuzz(vals):
    meta, secs = alp.encode(vals)
    out = alp.decode(meta, secs, len(vals), vals.dtype)
    rmeta, rsecs = alp.rd_encode(vals)
    rout = alp.rd_decode(rmeta, rsecs, len(vals), vals.dtype)
    iv = np.uint32 if vals.dtype == np.float32 else np.uint64
    want = np.ascontiguousarray(vals).view(iv)
    assert np.array_equal(np.ascontiguousarray(out).view(iv), want)
    assert np.array_equal(np.ascontiguousarray(rout).view(iv), want)


@given(st.lists(st.floats(allow_nan=True, allow_infinity=True, width=64),
                max_size=400))
@settings(max_examples=60, deadline=None)
def test_alp_kernels_fuzz_f64(xs):
    _kernel_fuzz(np.array(xs, np.float64))


@given(st.lists(st.floats(allow_nan=True, allow_infinity=True, width=32),
                max_size=400))
@settings(max_examples=60, deadline=None)
def test_alp_kernels_fuzz_f32(xs):
    _kernel_fuzz(np.array(xs, np.float32))


def test_alp_exponent_choice_prefers_zero_exceptions():
    vals = np.round(rng.uniform(1, 100, 4_096), 2)
    e, f = alp.choose_exponents(vals)
    meta, _ = alp.encode(vals)
    assert (meta["e"], meta["f"]) == (e, f)
    assert meta["nx"] == 0


@pytest.mark.spark
def test_engine_evolved_float_column_picks_alp(spark, tmp_path):
    """A schema-evolved decimal column flowing through the engine's
    encode path must get the ALP codec (recorded in lineage
    codec_choices) and decode bit-exact."""
    import json
    import pyarrow.parquet as pq_
    from pyspark.sql import functions as F
    from skar_spark.config import EngineConfig
    from skar_spark.engine.decode import scan
    from skar_spark.engine.encode import read_lineage
    from skar_spark.streaming import stream_encode
    from skar_spark.synth import DOCS_DDL, synth_batch

    land = tmp_path / "landing"
    land.mkdir()
    idx = np.arange(0, 1200)
    t = synth_batch(idx).append_column(
        "quality", pa.array(np.round(idx % 997 / 100.0, 2), pa.float64()))
    pq_.write_table(t, str(land / "a.parquet"))
    out = str(tmp_path / "tbl")

    q = stream_encode(spark, str(land), out,
                      EngineConfig(max_row_group_size=2000),
                      schema_ddl=DOCS_DDL + ", quality double")
    q.awaitTermination(120)

    choices = [json.loads(r.codec_choices)
               for r in read_lineage(spark, out, latest=True)
               .select("codec_choices").collect()]
    assert all(c.get("quality") == "alp" for c in choices), choices

    dec = scan(spark, out, columns=["url", "quality"])
    want = dict(zip(t["url"].to_pylist(), t["quality"].to_pylist()))
    got = {r.url: r.quality for r in dec.collect()}
    assert got == want
