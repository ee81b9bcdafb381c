"""ALP-style adaptive lossless floating-point codec.

Decimal-looking float columns (prices, rates, percentages, sensor
readings) are doubles that were *born* as short decimals: `round(v *
10^e) / 10^e == v` bit-exactly for some small e. ALP (Afroozeh & Boncz,
SIGMOD 2024) exploits this: scale each value to an integer with a
per-chunk exponent pair, compress the integers with frame-of-reference
bit-packing, and patch the (rare) values that don't survive the
round-trip as positional exceptions. The result on decimal data is
10-40x smaller than raw IEEE doubles BEFORE zstd, because the mantissa
noise that defeats byte-level compressors never reaches the output.

This is an independent numpy implementation of the published scheme
(vectorized end-to-end — no per-row Python), not a port: the reference
engine (skar) writes floats as Encoding::Plain pages and leaves them to
zstd (skar/src/write_parquet.rs:49-61); ALP is this engine's
structural-compression answer for the float family, sitting next to
BYTE_STREAM_SPLIT the way dict/rle/fsst sit next to plain for strings.

Scheme per chunk:
  choose (e, f), 0 <= f <= e <= 16, on a strided sample:
      i = round(v * 10^e * 10^-f)         (encode scale)
      d = i * 10^f * 10^-e                (decode scale)
  maximizing the count of bit-exact d == v, tie-breaking toward the
  smallest net shift e-f (fewer digits -> fewer bits after FOR).
  Values where d != v bit-for-bit (NaN/Inf/-0.0, true reals, |i| too
  large) become exceptions: their int slot is 0 (keeps the FOR range
  tight) and (position, raw bits) are stored on the side.

Bit-identity is by construction: the encoder *verifies* the exact
decode expression (same table constants, same multiply order) and
patches everything that fails, so decode == original for every input,
including NaN payloads and negative zero.
"""

from __future__ import annotations

import numpy as np

MAX_E = 16  # 10^16 < 2^63; beyond this the int lane can't hold digits

# Constant tables shared by the encode-side verify and the decoder —
# the SAME array elements in the SAME multiply order is what makes the
# round-trip check authoritative.
EXP = np.power(10.0, np.arange(MAX_E + 1))      # 10^k
IEXP = np.power(10.0, -np.arange(MAX_E + 1.0))  # 10^-k

_I62 = float(1 << 62)
_SAMPLE = 1024


def _bits_view(vals: np.ndarray) -> np.ndarray:
    ib = np.int32 if vals.dtype == np.float32 else np.int64
    return np.ascontiguousarray(vals).view(ib)


def _decode_scaled(ii: np.ndarray, e: int, f: int,
                   dt: np.dtype) -> np.ndarray:
    d = ii.astype(np.float64) * EXP[f] * IEXP[e]
    return d.astype(np.float32) if dt == np.dtype(np.float32) else d


def _exact_mask(vals: np.ndarray, v64: np.ndarray, e: int,
                f: int) -> tuple[np.ndarray, np.ndarray]:
    """(int64 digits, bool mask of bit-exact round-trips)."""
    with np.errstate(invalid="ignore", over="ignore"):
        x = v64 * EXP[e] * IEXP[f]
        i = np.round(np.where(np.isfinite(x), x, 0.0))
        ok = np.isfinite(x) & (np.abs(i) <= _I62)
    ii = np.where(ok, i, 0.0).astype(np.int64)
    d = _decode_scaled(ii, e, f, vals.dtype)
    exact = ok & (_bits_view(d) == _bits_view(vals))
    return ii, exact


def choose_exponents(vals: np.ndarray) -> tuple[int, int]:
    """Pick (e, f) on a strided sample: max bit-exact count, then the
    smallest net decimal shift (e-f), then the smallest e."""
    n = len(vals)
    s = np.ascontiguousarray(vals[:: max(1, n // _SAMPLE)][:_SAMPLE])
    s64 = s.astype(np.float64)
    best = (-1, 0, 0, 0, 0)  # (count, -(e-f), -e, e, f)
    for e in range(MAX_E + 1):
        for f in range(e + 1):
            _, exact = _exact_mask(s, s64, e, f)
            cand = (int(exact.sum()), -(e - f), -e, e, f)
            if cand[:3] > best[:3]:
                best = cand
    return best[3], best[4]


def encode(vals: np.ndarray) -> tuple[dict, list[bytes]]:
    """Encode one float32/float64 vector. Returns (meta, sections)."""
    from skar_spark.codecs.core import best_int_encoding

    vals = np.ascontiguousarray(vals)
    v64 = vals.astype(np.float64, copy=False)
    if len(vals) == 0:
        e = f = 0
        ii = np.zeros(0, np.int64)
        exact = np.zeros(0, bool)
    else:
        e, f = choose_exponents(vals)
        ii, exact = _exact_mask(vals, v64, e, f)
    exc = np.flatnonzero(~exact)
    if len(exc):
        ii = ii.copy()
        ii[exc] = 0  # keep the FOR range tight; patched on decode
    ic, im, isecs = best_int_encoding(ii)
    pc, pm, psecs = best_int_encoding(exc.astype(np.int64))
    meta = {"e": int(e), "f": int(f), "ic": ic, "im": im,
            "ni": len(isecs), "nx": int(len(exc)), "pc": pc, "pm": pm}
    return meta, isecs + psecs + [vals[exc].tobytes()]


def decode(meta: dict, sections: list[bytes], n: int,
           dt: np.dtype) -> np.ndarray:
    from skar_spark.codecs.core import _dec_ints

    ni = meta["ni"]
    ii = _dec_ints(meta["ic"], meta["im"], sections[:ni], n)
    out = _decode_scaled(ii, meta["e"], meta["f"], dt)
    if out.base is not None or not out.flags.writeable:
        out = out.copy()
    nx = meta["nx"]
    if nx:
        pos = _dec_ints(meta["pc"], meta["pm"], sections[ni:-1], nx)
        out[pos] = np.frombuffer(sections[-1], dt, count=nx)
    return out


# ---------------------------------------------------------------------------
# ALP-RD: the "real doubles" variant for data that is NOT decimal
# (embeddings, physical measurements). No float arithmetic at all:
# split each value's bits at a sampled cut point, dictionary-encode the
# few distinct high patterns (sign+exponent+top mantissa), bit-pack the
# noisy low bits raw. Bit-exact by construction — left bits come back
# from the dictionary (or an exception patch), right bits are verbatim.
# ---------------------------------------------------------------------------

_RD_DICT = 8       # max left-pattern dictionary entries (3-bit codes)
_RD_MAX_LEFT = 16  # search cut points up to 16 left bits


def _rd_bits(vals: np.ndarray) -> tuple[np.ndarray, int]:
    if vals.dtype == np.dtype(np.float32):
        return np.ascontiguousarray(vals).view(np.uint32).astype(np.uint64), 32
    return np.ascontiguousarray(vals).view(np.uint64), 64


def rd_choose_split(vals: np.ndarray) -> int:
    """Pick the left-bit count minimizing estimated bytes on a sample."""
    bits, total = _rd_bits(vals)
    s = bits[:: max(1, len(bits) // (2 * _SAMPLE))][: 2 * _SAMPLE]
    n = max(1, len(s))
    best = (float("inf"), 1)
    for lb in range(1, _RD_MAX_LEFT + 1):
        rb = total - lb
        _u, counts = np.unique(s >> np.uint64(rb), return_counts=True)
        k = min(_RD_DICT, len(counts))
        top = np.sort(counts)[::-1][:k]
        exc = n - int(top.sum())
        cw = max(int(k - 1).bit_length(), 0)
        est = n * cw / 8 + n * rb / 8 + exc * (lb / 8 + 2)
        if est < best[0]:
            best = (est, lb)
    return best[1]


def rd_encode(vals: np.ndarray) -> tuple[dict, list[bytes]]:
    from skar_spark.codecs import primitives as P
    from skar_spark.codecs.core import best_int_encoding

    vals = np.ascontiguousarray(vals)
    bits, total = _rd_bits(vals)
    n = len(bits)
    if n == 0:
        meta = {"lb": 1, "cw": 0, "d": [], "nx": 0,
                "pc": "plain", "pm": {}, "np": 1}
        return meta, [b"", b"", b"", b""]
    lb = rd_choose_split(vals)
    rb = np.uint64(total - lb)
    left = bits >> rb
    right = bits & ((np.uint64(1) << rb) - np.uint64(1))
    uniq, counts = np.unique(left, return_counts=True)
    k = min(_RD_DICT, len(uniq))
    dvals = np.sort(uniq[np.argsort(-counts, kind="stable")[:k]])
    codes = np.searchsorted(dvals, left).astype(np.uint64)
    in_dict = (codes < k) & (dvals[np.minimum(codes, k - 1)] == left)
    exc = np.flatnonzero(~in_dict)
    codes[exc] = 0
    cw = max(int(k - 1).bit_length(), 0)
    pc, pm, psecs = best_int_encoding(exc.astype(np.int64))
    meta = {"lb": int(lb), "cw": cw, "d": [int(v) for v in dvals],
            "nx": int(len(exc)), "pc": pc, "pm": pm, "np": len(psecs)}
    return meta, [P.pack_bits(codes, cw),
                  P.pack_bits(right, int(rb))] + psecs + [
        left[exc].astype(np.uint16).tobytes()]


def rd_decode(meta: dict, sections: list[bytes], n: int,
              dt: np.dtype) -> np.ndarray:
    from skar_spark.codecs import primitives as P
    from skar_spark.codecs.core import _dec_ints

    total = 32 if dt == np.dtype(np.float32) else 64
    rb = np.uint64(total - meta["lb"])
    codes = P.unpack_bits(sections[0], n, meta["cw"])
    right = P.unpack_bits(sections[1], n, int(rb))
    d = np.asarray(meta["d"], np.uint64) if meta["d"] else np.zeros(1, np.uint64)
    bits = (d[codes] << rb) | right
    if meta["nx"]:
        pos = _dec_ints(meta["pc"], meta["pm"],
                        sections[2:2 + meta["np"]], meta["nx"])
        xl = np.frombuffer(sections[-1], np.uint16,
                           count=meta["nx"]).astype(np.uint64)
        bits[pos] = (xl << rb) | right[pos]
    if dt == np.dtype(np.float32):
        return bits.astype(np.uint32).view(np.float32)
    return bits.view(np.float64)
