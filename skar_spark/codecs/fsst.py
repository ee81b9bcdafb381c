"""FSST-style string compression with sampled symbol-table construction.

Design follows the FSST paper (Boncz, Neumann, Leis — "FSST: Fast Random
Access String Compression", VLDB 2020) in its core moves:

- a symbol table is *learned from a sample* of the data (≤64 KiB) by
  iteratively merging the most frequent adjacent symbol pairs — exactly the
  paper's bottom-up construction where frequent pairs of current symbols
  become longer symbols across iterations;
- codes are single bytes, so decode is a trivial table expansion;
- symbols grow multiplicatively per iteration (up to 2^rounds bytes).

Deviations from canonical FSST (documented deliberately — this is a
from-scratch design, not a port):

- codes are drawn from byte values *provably absent* in the full input
  buffer (an exact presence scan) instead of a dedicated escape byte, so
  no escaping is ever needed;
- encode runs over the whole column-chunk buffer, one dependency LEVEL at
  a time (a merge whose pair references a code assigned at level k runs
  at level k+1), each level ONE greedy left-to-right pass: a pair in the
  level's table is emitted as its code and both bytes are consumed, else
  the byte is copied. That is the only overlap rule;
- decode is one pass expanding each byte through a 256-entry table of
  fully expanded symbols (a raw byte expands to itself).

The free-byte scan, table build, level pass and decode run in one
compiled kernel (fsst_kernel.c, built on first use by native.py): one
compiled pass per buffer is where canonical FSST gets its speed. Without
a compiler the numpy forms below run; they are the reference the kernel
is tested against, byte for byte.

The whole column chunk's concatenated data buffer is compressed as one
stream; original string offsets are stored delta+bitpacked, so decode
reconstructs the exact original Arrow buffers (bit-identical round-trip,
the north-rule invariant).
"""

from __future__ import annotations

import numpy as np

from skar_spark.codecs import native
from skar_spark.codecs import primitives as P

SAMPLE_BYTES = 1 << 16       # symbol table built on a <=64 KiB sample
MIN_PAIR_FRAC = 1 / 400.0    # stop when the best pair is < 0.25% of sample


def build_symbol_table(sample: bytes, free_codes: list[int],
                       min_count: int) -> list[tuple[int, bytes]]:
    """Learn merge table [(code, pair_bytes)] from a sample buffer: each
    round takes the most frequent adjacent pair (the lowest pair value
    among ties) and replaces it by the round's code.

    pair_bytes at round i may contain codes assigned in rounds < i, which
    is how symbols grow beyond 2 bytes (the FSST iteration).
    """
    k = native.kernel()
    if k is not None:
        pairs = k.build_table(sample, bytes(free_codes), min_count)
        return [(free_codes[i // 2], pairs[i:i + 2])
                for i in range(0, len(pairs), 2)]
    table: list[tuple[int, bytes]] = []
    if len(sample) < 4:
        return table
    buf = sample
    for code in free_codes:
        a = np.frombuffer(buf, np.uint8)
        if len(a) < 2:
            break
        pairs = (a[:-1].astype(np.uint16) << np.uint16(8)) | a[1:]
        counts = np.bincount(pairs, minlength=65536)
        best = int(counts.argmax())
        if counts[best] < min_count:
            break
        pair = bytes([best >> 8, best & 0xFF])
        buf = buf.replace(pair, bytes([code]))
        table.append((code, pair))
    return table


def merge_levels(table: list[tuple[int, bytes]]
                 ) -> list[list[tuple[int, bytes]]]:
    """Group merges into dependency levels for simultaneous application.

    A merge learned at step i can reference only codes assigned at steps
    < i, so level(merge) = 1 + max(level of referenced codes; raw bytes
    are level 0). Within one level no merge's input contains another's
    output code (codes are absent from the raw buffer, and same-level
    merges can't reference each other by construction), so all of a
    level's merges can be matched in ONE pass."""
    lev_of: dict[int, int] = {}
    levels: list[list[tuple[int, bytes]]] = []
    for code, pair in table:
        lv = 1 + max((lev_of.get(b, 0) for b in pair), default=0)
        lev_of[code] = lv
        while len(levels) < lv:
            levels.append([])
        levels[lv - 1].append((code, pair))
    return levels


def _greedy_pass(a: np.ndarray, lut: np.ndarray) -> np.ndarray:
    """The level pass in numpy: a match is invalidated only by a SELECTED
    match at the previous position, so within each run of consecutive
    match positions the greedy selects alternating ones — run starts +
    parity, no sequential loop; then selected pair heads become codes and
    the consumed second bytes are dropped."""
    m = lut[(a[:-1].astype(np.uint16) << np.uint16(8)) | a[1:]]
    mpos = np.flatnonzero(m)
    k = len(mpos)
    if k == 0:
        return a
    new_run = np.empty(k, np.bool_)
    new_run[0] = True
    np.not_equal(mpos[1:], mpos[:-1] + 1, out=new_run[1:])
    ridx = np.arange(k, dtype=np.int64)
    rstart = np.where(new_run, ridx, 0)
    np.maximum.accumulate(rstart, out=rstart)
    selpos = mpos[((ridx - rstart) & 1) == 0]
    out = a.copy()
    out[selpos] = m[selpos] - 1
    keep = np.ones(len(a), np.bool_)
    keep[selpos + 1] = False
    return out[keep]


def fsst_compress(data: bytes, table: list[tuple[int, bytes]]) -> bytes:
    """Leveled whole-buffer encode: one greedy pair pass per dependency
    level (2-5 in practice) through a 64 Ki table of the level's pairs
    (code + 1; 0 = no symbol), compiled, else in numpy. Neither grows
    with the level's symbol count. This engine does structural string
    compression before the block codec (reference:
    skar/src/write_parquet.rs:37-81 leaves compression to the parquet
    codec), so its cost must not scale with the symbol budget."""
    k = native.kernel()
    a = np.frombuffer(data, np.uint8)
    for level in merge_levels(table):
        lut = np.zeros(65536, np.uint16)
        for code, pair in level:
            lut[(pair[0] << 8) | pair[1]] = code + 1
        a = _greedy_pass(a, lut) if k is None else k.pair_pass(a, lut)
    return a.tobytes()


# perfbench/trace.py wraps the old per-row route by this name; the
# binding goes once the tracer stops wrapping it
fsst_compress_rows = fsst_compress


def fsst_decompress(data: bytes, table: list[tuple[int, bytes]],
                    raw: int) -> bytes | bytearray:
    """Expand codes back to the `raw`-byte original.

    Symbols expand in table order (a pair holds only raw bytes and
    earlier codes). Expansion is a context-free rewrite of unique code
    bytes, so it restores the buffer whatever the encoder's overlap
    choices were, earlier encoders' included. The kernel writes at most
    `raw` bytes; without it, one ``bytes.replace`` chain runs, deepest
    level first. A symbol longer than `raw` (a learned symbol occurs in
    the sample, a prefix of the data) or an expansion of any other
    length is a corrupt section: ValueError."""
    exp = [bytes([b]) for b in range(256)]
    for code, pair in table:
        if len(exp[pair[0]]) + len(exp[pair[1]]) > raw:
            raise ValueError(f"corrupt FSST table: symbol {code} is longer "
                             f"than the {raw}-byte section")
        exp[code] = exp[pair[0]] + exp[pair[1]]
    k = native.kernel()
    if k is None:
        for level in reversed(merge_levels(table)):
            for code, pair in reversed(level):
                data = data.replace(bytes([code]), pair)
        out, n = data, len(data)
    else:
        n, out = k.expand(data, exp, raw)
    if n != raw:
        raise ValueError(f"corrupt FSST section: it does not expand to "
                         f"its {raw} raw bytes")
    return out


def serialize_table(table: list[tuple[int, bytes]]) -> bytes:
    out = bytearray([len(table)])
    for code, pair in table:
        out += bytes([code])
        out += pair
    return bytes(out)


def deserialize_table(buf: bytes) -> list[tuple[int, bytes]]:
    n = buf[0]
    if len(buf) < 1 + 3 * n:
        raise ValueError(f"corrupt FSST table: {n} entries need "
                         f"{1 + 3 * n} bytes, got {len(buf)}")
    return [(buf[p], bytes(buf[p + 1:p + 3])) for p in range(1, 1 + 3 * n, 3)]


def free_byte_values(data: bytes, max_codes: int) -> list[int]:
    """Byte values absent from `data` (exact), usable as symbol codes."""
    if not data:
        return []
    k = native.kernel()
    if k is None:
        present = np.zeros(256, dtype=bool)
        present[np.frombuffer(data, np.uint8)] = True
    else:
        present = k.byte_presence(data)
    return [int(v) for v in np.flatnonzero(~present)][:max_codes]


# --- codec interface (meta, sections) ---------------------------------------

def encode(offs_i64: np.ndarray, data: bytes,
           cfg) -> tuple[dict, list[bytes]]:
    free = free_byte_values(data, cfg.fsst_max_symbols)
    sample = data[:SAMPLE_BYTES]
    # stop merging once a round's sample gain drops below MIN_PAIR_FRAC
    # — low-gain symbols add table rounds and levels for little size
    min_count = max(8, int(len(sample) * MIN_PAIR_FRAC))
    table = build_symbol_table(sample, free, min_count)
    comp = fsst_compress(data, table)
    f, r, w, obuf = P.delta_encode(offs_i64)
    meta = {"o": [int(f), int(r), int(w)], "raw": len(data)}
    return meta, [serialize_table(table), comp, obuf]


def decode(meta: dict, sections: list[bytes],
           n: int) -> tuple[np.ndarray, bytes | bytearray]:
    table = deserialize_table(sections[0]) if sections[0] else []
    data = fsst_decompress(sections[1], table, meta["raw"])
    f, r, w = meta["o"]
    offs = P.delta_decode(f, r, w, sections[2], n + 1)
    return offs, data
