"""Column-chunk encode/decode: codec registry + dispatch.

Codecs (all pure numpy/pyarrow — the vectorized-kernel requirement of
BASELINE.json's input_hint; per-row Python is banned by construction):

  numeric / timestamp / bool:
    plain      raw little-endian buffer (+zstd section packing)
    rle        run values + run lengths (lengths FOR+bitpacked)
    bitpack    frame-of-reference + exact bit packing
    for_delta  delta + frame-of-reference + bit packing (sorted/clustered)
  float only:
    bss        byte-stream split (Parquet-spec BYTE_STREAM_SPLIT): the
               k-th byte of every value grouped into stream k, then zstd
               — exponent/sign bytes compress far better separated from
               mantissa noise. Bit-exact (a pure byte permutation).
    alp        adaptive decimal scaling (ALP, SIGMOD 2024): floats that
               were born as short decimals become small integers +
               FOR/bitpack; non-round-tripping values are positional
               exceptions. See alp.py — encoder-verified bit-exact.
    alprd      ALP "real doubles" cut-point variant for true-real data
               (embeddings): high bits dictionary + raw low bits.
  string / binary:
    plain      offsets (delta+bitpack) + data buffer (+zstd)
    fsst       sampled-symbol-table byte compression (see fsst.py)
    dict       dictionary_encode; indices via best int codec, values via
               best string codec (recursive one level)

Every blob round-trips bit-identical at the Arrow-array level (canonical
buffers; null slots normalized to zero/empty). This is the analog of the
reference's encode path which writes Encoding::Plain pages and lets
LZ4/zstd do the work (skar/src/write_parquet.rs:49-61,232-244) — here the
lightweight codecs do structural compression first and zstd mops up.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from skar_spark.codecs import alp as ALP
from skar_spark.codecs import framing as FR
from skar_spark.codecs import fsst as FSST
from skar_spark.codecs import primitives as P
from skar_spark.config import DEFAULT, EngineConfig

INT_CODECS = ("plain", "rle", "bitpack", "for_delta")
FLOAT_CODECS = ("plain", "rle", "bss", "alp", "alprd")
BOOL_CODECS = ("plain",)
STR_CODECS = ("plain", "fsst", "dict")


LIST_FLOAT_CODECS = ("plain", "bss", "alp", "alprd")


def codecs_for(tcode: str) -> tuple[str, ...]:
    if FR.is_string_code(tcode):
        return STR_CODECS
    if tcode == "bool":
        return BOOL_CODECS
    if FR.is_float_code(tcode):
        return FLOAT_CODECS
    if FR.is_list_float_code(tcode):
        return LIST_FLOAT_CODECS
    return INT_CODECS


# ---------------------------------------------------------------------------
# canonicalization
# ---------------------------------------------------------------------------

def canonicalize(arr: pa.Array | pa.ChunkedArray) -> pa.Array:
    """Single contiguous Array with null slots filled (0 / empty)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if isinstance(arr, pa.ChunkedArray):  # combine of empty chunked
        arr = pa.concat_arrays(arr.chunks) if arr.chunks else pa.array(
            [], type=arr.type)
    if pa.types.is_dictionary(arr.type):
        arr = arr.dictionary_decode() if hasattr(arr, "dictionary_decode") \
            else pc.cast(arr, arr.type.value_type)
    return arr


def _filled(arr: pa.Array) -> pa.Array:
    if arr.null_count == 0:
        return arr
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pc.fill_null(arr, "")
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return pc.fill_null(arr, b"")
    if pa.types.is_boolean(t):
        return pc.fill_null(arr, False)
    if pa.types.is_timestamp(t):
        return pc.fill_null(arr, pa.scalar(0, type=t))
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return pc.fill_null(arr, pa.scalar([], type=t))
    return pc.fill_null(arr, pa.scalar(0, type=t))


# ---------------------------------------------------------------------------
# int-vector mini-codecs (shared by numeric columns, dict indices, lengths)
# ---------------------------------------------------------------------------

def _enc_ints(vals: np.ndarray, codec: str) -> tuple[dict, list[bytes]]:
    v = vals.astype(np.int64, copy=False)
    if codec == "plain":
        return {}, [v.tobytes()]
    if codec == "rle":
        rv, rl = P.rle_split(v)
        ref, w, lbuf = P.for_encode(rl)
        vref, vw, vbuf = P.for_encode(rv)
        return {"nr": len(rv), "l": [int(ref), int(w)],
                "v": [int(vref), int(vw)]}, [vbuf, lbuf]
    if codec == "bitpack":
        ref, w, buf = P.for_encode(v)
        return {"r": int(ref), "w": int(w)}, [buf]
    if codec == "for_delta":
        f, ref, w, buf = P.delta_encode(v)
        return {"f": int(f), "r": int(ref), "w": int(w)}, [buf]
    raise ValueError(codec)


def _dec_ints(codec: str, meta: dict, sections: list[bytes],
              n: int) -> np.ndarray:
    if codec == "plain":
        return np.frombuffer(sections[0], np.int64, count=n)
    if codec == "rle":
        nr = meta["nr"]
        rv = P.for_decode(meta["v"][0], meta["v"][1], sections[0], nr)
        rl = P.for_decode(meta["l"][0], meta["l"][1], sections[1], nr)
        return np.repeat(rv, rl)
    if codec == "bitpack":
        return P.for_decode(meta["r"], meta["w"], sections[0], n)
    if codec == "for_delta":
        return P.delta_decode(meta["f"], meta["r"], meta["w"], sections[0], n)
    raise ValueError(codec)


def best_int_encoding(vals: np.ndarray) -> tuple[str, dict, list[bytes]]:
    """Try all int codecs, keep the smallest payload (used for dict indices
    and offset vectors where trial cost is negligible)."""
    best = None
    for c in INT_CODECS:
        meta, secs = _enc_ints(vals, c)
        size = sum(len(s) for s in secs)
        if best is None or size < best[0]:
            best = (size, c, meta, secs)
    return best[1], best[2], best[3]


# ---------------------------------------------------------------------------
# per-type codec payloads
# ---------------------------------------------------------------------------

def _encode_payload(arr: pa.Array, tcode: str, codec: str,
                    cfg: EngineConfig) -> tuple[dict, list[bytes]]:
    if FR.is_string_code(tcode):
        offs, data = P.string_parts(arr)
        if codec == "plain":
            f, r, w, obuf = P.delta_encode(offs)
            return {"o": [int(f), int(r), int(w)]}, [data, obuf]
        if codec == "fsst":
            return FSST.encode(offs, data, cfg)
        if codec == "dict":
            denc = pc.dictionary_encode(arr)
            idx = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            ic, imeta, isecs = best_int_encoding(idx)
            vals = canonicalize(denc.dictionary)
            # dictionary values: plain vs fsst, keep smaller
            vm_p, vs_p = _encode_payload(vals, tcode, "plain", cfg)
            vm_f, vs_f = FSST.encode(*P.string_parts(vals), cfg)
            if sum(map(len, vs_f)) < sum(map(len, vs_p)):
                vcodec, vmeta, vsecs = "fsst", vm_f, vs_f
            else:
                vcodec, vmeta, vsecs = "plain", vm_p, vs_p
            meta = {"ic": ic, "im": imeta, "vc": vcodec, "vm": vmeta,
                    "nv": len(vals), "nvs": len(vsecs)}
            return meta, list(vsecs) + isecs
        raise ValueError(codec)

    if FR.is_list_float_code(tcode):
        # embedding-vector columns: offsets (delta+bitpack) + the flat
        # float child either raw or byte-stream-split. Null ELEMENTS
        # inside vectors have no meaningful canonical form — refuse
        # loudly rather than silently rewrite data.
        child = arr.flatten()
        if child.null_count:
            raise ValueError(
                "list<float> column has null elements; clean them "
                "upstream before encoding")
        lens = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
        offs = np.zeros(len(arr) + 1, np.int64)
        np.cumsum(lens, out=offs[1:])
        f, r, w, obuf = P.delta_encode(offs)
        cdt = FR.numpy_dtype_for(tcode.split(":", 1)[1])
        vals = P.numeric_values(child, cdt)
        if codec in ("alp", "alprd"):
            # flat child through the float codec; offsets buffer LAST
            enc = ALP.encode if codec == "alp" else ALP.rd_encode
            ameta, asecs = enc(vals)
            return {"o": [int(f), int(r), int(w)], "nv": len(vals),
                    "am": ameta}, asecs + [obuf]
        if codec == "plain":
            vbuf = vals.tobytes()
        elif codec == "bss":
            vbuf = np.ascontiguousarray(
                np.ascontiguousarray(vals).view(np.uint8)
                .reshape(len(vals), cdt.itemsize).T).tobytes()
        else:
            raise ValueError(codec)
        return {"o": [int(f), int(r), int(w)], "nv": len(vals)}, \
            [vbuf, obuf]

    if tcode == "bool":
        mask = np.asarray(arr.to_numpy(zero_copy_only=False), dtype=bool)
        return {}, [np.packbits(mask, bitorder="little").tobytes()]

    dt = FR.numpy_dtype_for(tcode)
    vals = P.numeric_values(arr, dt)
    if FR.is_float_code(tcode):
        if codec == "alp":
            return ALP.encode(vals)
        if codec == "alprd":
            return ALP.rd_encode(vals)
        if codec == "plain":
            return {}, [vals.tobytes()]
        if codec == "rle":
            # run-length on the raw bit patterns (exact)
            iv = vals.view(np.int32 if dt.itemsize == 4 else np.int64)
            rv, rl = P.rle_split(iv)
            ref, w, lbuf = P.for_encode(rl.astype(np.int64))
            return {"nr": len(rv), "l": [int(ref), int(w)]}, \
                [rv.tobytes(), lbuf]
        if codec == "bss":
            streams = np.ascontiguousarray(vals).view(np.uint8) \
                .reshape(len(vals), dt.itemsize).T
            return {}, [np.ascontiguousarray(streams).tobytes()]
        raise ValueError(codec)
    return _enc_ints(vals.astype(np.int64, copy=False), codec)


def _decode_payload(header: dict, sections: list[bytes],
                    validity: pa.Buffer | None, null_count: int) -> pa.Array:
    tcode, codec, n = header["t"], header["codec"], header["n"]
    meta = header["meta"]

    if FR.is_string_code(tcode):
        if codec == "plain":
            data = sections[0]
            f, r, w = meta["o"]
            offs = P.delta_decode(f, r, w, sections[1], n + 1)
            return P.build_string(tcode, offs, data, validity, null_count)
        if codec == "fsst":
            offs, data = FSST.decode(meta, sections, n)
            return P.build_string(tcode, offs, data, validity, null_count)
        if codec == "dict":
            nvs = meta["nvs"]
            vhdr = {"t": tcode, "codec": meta["vc"], "n": meta["nv"],
                    "meta": meta["vm"]}
            vals = _decode_payload(vhdr, sections[:nvs], None, 0)
            idx = _dec_ints(meta["ic"], meta["im"], sections[nvs:], n)
            taken = vals.take(pa.array(idx, type=pa.int64()))
            offs, data = P.string_parts(taken)
            return P.build_string(tcode, offs, data, validity, null_count)
        raise ValueError(codec)

    if FR.is_list_float_code(tcode):
        f, r, w = meta["o"]
        nv = meta["nv"]
        cdt = FR.numpy_dtype_for(tcode.split(":", 1)[1])
        obuf = sections[-1] if codec in ("alp", "alprd") else sections[1]
        offs = P.delta_decode(f, r, w, obuf, n + 1)
        if codec in ("alp", "alprd"):
            dec = ALP.decode if codec == "alp" else ALP.rd_decode
            vals = dec(meta["am"], sections[:-1], nv, cdt)
        elif codec == "plain":
            vals = np.frombuffer(sections[0], cdt, count=nv)
        elif codec == "bss":
            streams = np.frombuffer(sections[0], np.uint8,
                                    count=nv * cdt.itemsize)
            vals = np.ascontiguousarray(
                streams.reshape(cdt.itemsize, nv).T).view(cdt).ravel()
        else:
            raise ValueError(codec)
        t = FR.type_from_code(tcode)
        odt = np.int64 if tcode.startswith("llist:") else np.int32
        return pa.Array.from_buffers(
            t, n,
            [validity, pa.py_buffer(offs.astype(odt).tobytes())],
            null_count=null_count if validity is not None else 0,
            children=[pa.array(vals, type=t.value_type)])

    if tcode == "bool":
        bits = np.unpackbits(np.frombuffer(sections[0], np.uint8), count=n,
                             bitorder="little").astype(bool)
        return pa.Array.from_buffers(
            pa.bool_(), n,
            [validity, pa.py_buffer(np.packbits(bits, bitorder="little").tobytes())],
            null_count=null_count if validity is not None else 0)

    dt = FR.numpy_dtype_for(tcode)
    if FR.is_float_code(tcode):
        if codec == "alp":
            vals = ALP.decode(meta, sections, n, dt)
        elif codec == "alprd":
            vals = ALP.rd_decode(meta, sections, n, dt)
        elif codec == "plain":
            vals = np.frombuffer(sections[0], dt, count=n)
        elif codec == "bss":
            streams = np.frombuffer(sections[0], np.uint8,
                                    count=n * dt.itemsize)
            vals = np.ascontiguousarray(
                streams.reshape(dt.itemsize, n).T).view(dt).ravel()
        else:  # rle
            nr = meta["nr"]
            ivt = np.int32 if dt.itemsize == 4 else np.int64
            rv = np.frombuffer(sections[0], ivt, count=nr)
            rl = P.for_decode(meta["l"][0], meta["l"][1], sections[1], nr)
            vals = np.repeat(rv, rl).view(dt)
        return P.build_numeric(header["t"], vals, validity, null_count)

    vals64 = _dec_ints(codec, meta, sections, n)
    vals = vals64.astype(dt, copy=False) if dt != np.dtype(np.int64) else vals64
    return P.build_numeric(header["t"], vals, validity, null_count)


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

def encode_array(arr: pa.Array | pa.ChunkedArray, codec: str,
                 cfg: EngineConfig = DEFAULT) -> bytes:
    """Encode one column chunk with the named codec into a framed blob."""
    arr = canonicalize(arr)
    tcode = FR.typecode(arr.type)
    nulls = arr.null_count > 0
    head_secs: list[bytes] = []
    if nulls:
        head_secs.append(P.validity_to_bytes(arr))
    meta, secs = _encode_payload(_filled(arr), tcode, codec, cfg)
    return FR.build_blob(codec, len(arr), tcode, nulls, meta,
                         head_secs + secs, cfg.zstd_level)


def decode_array(blob: bytes) -> pa.Array:
    header, sections = FR.parse_blob(blob)
    validity, null_count = None, 0
    if header["nulls"]:
        validity, null_count = P.validity_from_bytes(sections[0], header["n"])
        sections = sections[1:]
    return _decode_payload(header, sections, validity, null_count)
