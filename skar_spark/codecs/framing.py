"""Binary framing for encoded column chunks.

Self-describing blob layout (the per-chunk analog of a Parquet column chunk
in the reference's writer — skar/src/write_parquet.rs:37-81):

    MAGIC(4) | u32 header_len | header_json | section_0 | section_1 | ...

header_json = {
    "codec": str, "n": rows, "t": typecode, "nulls": bool,
    "meta": {codec-specific small fields},
    "secs": [[flag, stored_len, raw_len], ...],   # flag: 0=raw, 1=zstd
}

When ``nulls`` is true, section 0 is the packed validity bitmap; codec
payload sections follow. Every section is independently, optionally
zstd-compressed — the packer keeps whichever is smaller (the per-page
compression analog of skar's Lz4Raw/Zstd(9) pages,
write_parquet.rs:232-244).
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa

MAGIC = b"SKC1"

# ---------------------------------------------------------------------------
# arrow type <-> typecode
# ---------------------------------------------------------------------------

_SIMPLE = {
    "i8": pa.int8(), "i16": pa.int16(), "i32": pa.int32(), "i64": pa.int64(),
    "u8": pa.uint8(), "u16": pa.uint16(), "u32": pa.uint32(), "u64": pa.uint64(),
    "f32": pa.float32(), "f64": pa.float64(), "bool": pa.bool_(),
    "date32": pa.date32(),
    "str": pa.string(), "lstr": pa.large_string(),
    "bin": pa.binary(), "lbin": pa.large_binary(),
}
_FROM_TYPE = {v: k for k, v in _SIMPLE.items()}


def typecode(t: pa.DataType) -> str:
    if t in _FROM_TYPE:
        return _FROM_TYPE[t]
    if pa.types.is_timestamp(t):
        return f"ts:{t.unit}:{t.tz or ''}"
    if (pa.types.is_list(t) or pa.types.is_large_list(t)) and \
            t.value_type in (pa.float32(), pa.float64()):
        pre = "llist" if pa.types.is_large_list(t) else "list"
        return f"{pre}:{_FROM_TYPE[t.value_type]}"
    raise TypeError(f"unsupported arrow type for encoding: {t}")


def type_from_code(code: str) -> pa.DataType:
    if code in _SIMPLE:
        return _SIMPLE[code]
    if code.startswith("ts:"):
        _, unit, tz = code.split(":", 2)
        return pa.timestamp(unit, tz or None)
    if code.startswith("list:"):
        return pa.list_(_SIMPLE[code[5:]])
    if code.startswith("llist:"):
        return pa.large_list(_SIMPLE[code[6:]])
    raise TypeError(f"unknown typecode {code}")


def is_string_code(code: str) -> bool:
    return code in ("str", "lstr", "bin", "lbin")


def is_float_code(code: str) -> bool:
    return code in ("f32", "f64")


def is_list_float_code(code: str) -> bool:
    """Embedding-vector columns: list<float32|float64>."""
    return code.startswith(("list:", "llist:"))


def numpy_dtype_for(code: str) -> np.dtype:
    m = {
        "i8": np.int8, "i16": np.int16, "i32": np.int32, "i64": np.int64,
        "u8": np.uint8, "u16": np.uint16, "u32": np.uint32, "u64": np.uint64,
        "f32": np.float32, "f64": np.float64, "date32": np.int32,
    }
    if code.startswith("ts:"):
        return np.dtype(np.int64)
    if code in m:
        return np.dtype(m[code])
    raise TypeError(f"no numpy dtype for {code}")


# ---------------------------------------------------------------------------
# zstd section packing (pyarrow C++ codec — stays vectorized/JVM-free)
# ---------------------------------------------------------------------------

def _codec(level: int) -> pa.Codec:
    return pa.Codec("zstd", compression_level=level)


def pack_section(raw: bytes, level: int) -> tuple[list, bytes]:
    """Return ([flag, stored_len, raw_len], stored_bytes), keeping the
    smaller of raw vs zstd."""
    if len(raw) == 0:
        return [0, 0, 0], b""
    comp = _codec(level).compress(raw, asbytes=True)
    if len(comp) < len(raw):
        return [1, len(comp), len(raw)], comp
    return [0, len(raw), len(raw)], bytes(raw)


def unpack_section(meta: list, stored: bytes) -> bytes:
    flag, _, raw_len = meta
    if flag == 0:
        return stored
    return _codec(1).decompress(stored, decompressed_size=raw_len, asbytes=True)


def build_blob(codec: str, n: int, tcode: str, nulls: bool, meta: dict,
               sections: list[bytes], level: int) -> bytes:
    sec_meta, stored = [], []
    for s in sections:
        m, b = pack_section(s, level)
        sec_meta.append(m)
        stored.append(b)
    header = json.dumps(
        {"codec": codec, "n": n, "t": tcode, "nulls": nulls,
         "meta": meta, "secs": sec_meta},
        separators=(",", ":")).encode()
    out = bytearray()
    out += MAGIC
    out += len(header).to_bytes(4, "little")
    out += header
    for b in stored:
        out += b
    return bytes(out)


def parse_blob(blob: bytes) -> tuple[dict, list[bytes]]:
    if blob[:4] != MAGIC:
        raise ValueError("bad magic")
    hlen = int.from_bytes(blob[4:8], "little")
    header = json.loads(blob[8:8 + hlen])
    pos = 8 + hlen
    sections = []
    for m in header["secs"]:
        stored = blob[pos:pos + m[1]]
        pos += m[1]
        sections.append(unpack_section(m, stored))
    return header, sections
