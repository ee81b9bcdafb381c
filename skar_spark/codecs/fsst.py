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
from-scratch Python-vectorized design, not a port):

- codes are drawn from byte values *provably absent* in the full input
  buffer (exact scatter pass) instead of a dedicated escape byte, so no
  escaping is ever needed and decode is a pure C-speed ``bytes.replace``
  expansion per code;
- encode runs over the whole column-chunk buffer, one dependency LEVEL
  at a time (a merge whose pair references a code assigned at level k
  runs at level k+1). A level with at least NUMPY_LEVEL_MIN symbols is
  applied in one simultaneous numpy pass — match every pair against a
  64 Ki lookup table, resolve overlaps greedily left-to-right via
  run-parity (within a run of consecutive match positions the greedy
  picks alternate ones), then compact — so its cost does not grow with
  its symbol count, the single-pass property canonical FSST gets from
  its code-generated longest-match loop. A smaller level runs as a
  sequential Arrow ``replace_substring`` chain over the buffer wrapped
  as one value, one C++ search per symbol. The two steps may resolve
  overlap ties differently, but decode is exact either way: expansion
  of unique code bytes is position-independent;
- decode is one whole-buffer ``bytes.replace`` chain, deepest level
  first.

The whole column chunk's concatenated data buffer is compressed as one
stream; original string offsets are stored delta+bitpacked, so decode
reconstructs the exact original Arrow buffers (bit-identical round-trip,
the north-rule invariant).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from skar_spark.codecs import primitives as P

SAMPLE_BYTES = 1 << 16       # symbol table built on a <=64 KiB sample
MIN_PAIR_FRAC = 1 / 400.0    # stop when the best pair is < 0.25% of sample


def build_symbol_table(sample: bytes, free_codes: list[int],
                       min_count: int) -> list[tuple[int, bytes]]:
    """Learn merge table [(code, pair_bytes)] from a sample buffer.

    pair_bytes at round i may contain codes assigned in rounds < i, which
    is how symbols grow beyond 2 bytes (the FSST iteration).
    """
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


# per-level crossover between the two encode steps: a level with at
# least this many symbols runs as one simultaneous numpy pass, a smaller
# one as a sequential Arrow ``replace_substring`` chain (one C++ search
# per symbol). Measured per level on 41 MB of sorted synthetic web text
# (4-vCPU Xeon, best of 5, both profiles): numpy/chain time is 1.05 at
# 8-9 symbols and 0.98 at 10-11 on the first level; on later levels
# numpy is 1.5-4.7x slower below 10 symbols and within ±15% at 12-23.
NUMPY_LEVEL_MIN = 10


def merge_levels(table: list[tuple[int, bytes]]
                 ) -> list[list[tuple[int, bytes]]]:
    """Group merges into dependency levels for simultaneous application.

    A merge learned at step i can reference only codes assigned at steps
    < i, so level(merge) = 1 + max(level of referenced codes; raw bytes
    are level 0). Within one level no merge's input contains another's
    output code (codes are absent from the raw buffer, and same-level
    merges can't reference each other by construction), so all of a
    level's merges can be matched in ONE vectorized pass."""
    lev_of: dict[int, int] = {}
    levels: list[list[tuple[int, bytes]]] = []
    for code, pair in table:
        lv = 1 + max((lev_of.get(b, 0) for b in pair), default=0)
        lev_of[code] = lv
        while len(levels) < lv:
            levels.append([])
        levels[lv - 1].append((code, pair))
    return levels


def fsst_compress(data: bytes, table: list[tuple[int, bytes]]) -> bytes:
    """Leveled whole-buffer encode: each dependency level (2-4 in
    practice) is one numpy pass or one Arrow replace chain, chosen by
    its symbol count against NUMPY_LEVEL_MIN.

    The numpy pass matches every adjacent byte pair against a 64 Ki LUT,
    resolves overlapping matches greedily left-to-right (a match is only
    invalidated by a SELECTED match at the previous position, so within
    each run of consecutive match positions the greedy picks alternating
    ones — computable via run-start + parity, no sequential loop), then
    rewrites selected pair-heads to their codes and drops the consumed
    second bytes: ~8 streaming O(n) numpy passes, whatever the level's
    size. The chain costs one C++ search+copy pass per symbol, cheaper
    below the crossover. This engine does structural string compression
    before the block codec (reference: skar/src/write_parquet.rs:37-81
    leaves compression to the parquet codec), so its cost must not
    scale with the symbol budget."""
    a = np.frombuffer(data, np.uint8)
    for level in merge_levels(table):
        if len(level) < NUMPY_LEVEL_MIN:
            # small level: the sequential replace chain, run by Arrow's
            # C++ kernel over the whole buffer wrapped as one value
            r = pa.Array.from_buffers(pa.large_binary(), 1, [
                None, pa.py_buffer(np.array([0, len(a)], np.int64)),
                pa.py_buffer(a)])
            for code, pair in level:
                r = pc.replace_substring(r, pattern=pair,
                                         replacement=bytes([code]))
            a = np.frombuffer(r[0].as_buffer(), np.uint8)
            continue
        lut_m = np.zeros(65536, np.bool_)
        lut_c = np.zeros(65536, np.uint8)
        for code, pair in level:
            pv = (pair[0] << 8) | pair[1]
            lut_m[pv] = True
            lut_c[pv] = code
        # full-buffer work is just: pair-match gather, copy, compact —
        # everything else runs on the (much smaller) match-position set
        m = lut_m[(a[:-1].astype(np.uint16) << np.uint16(8)) | a[1:]]
        mpos = np.flatnonzero(m)
        k = len(mpos)
        if k == 0:
            continue
        # greedy left-to-right overlap resolution, sparsely: a match is
        # invalidated only by a SELECTED match at the previous position,
        # so within each run of consecutive match positions the greedy
        # selects alternating ones — run starts + parity, no seq. loop
        new_run = np.empty(k, np.bool_)
        new_run[0] = True
        np.not_equal(mpos[1:], mpos[:-1] + 1, out=new_run[1:])
        ridx = np.arange(k, dtype=np.int64)
        rstart = np.where(new_run, ridx, 0)
        np.maximum.accumulate(rstart, out=rstart)
        selpos = mpos[((ridx - rstart) & 1) == 0]
        # rewrite selected pair heads to codes, drop the consumed tails
        codes = lut_c[(a[selpos].astype(np.uint16) << np.uint16(8))
                      | a[selpos + 1]]
        out = a.copy()
        out[selpos] = codes
        keep = np.ones(len(a), np.bool_)
        keep[selpos + 1] = False
        a = out[keep]
    return a.tobytes()


# perfbench/trace.py wraps the old per-row route by this name; the
# binding goes once the tracer stops wrapping it
fsst_compress_rows = fsst_compress


def fsst_decompress(data: bytes, table: list[tuple[int, bytes]]) -> bytes:
    """Expand codes with one whole-buffer ``bytes.replace`` chain,
    deepest level first.

    A level-L code's pair holds only raw bytes and codes of levels < L,
    so expanding deeper levels first leaves no code unexpanded, and the
    order within a level does not matter: expansion is a context-free
    rewrite of unique code bytes, so the result equals the original
    buffer whatever the encoder's overlap choices were. Each search is a
    single code byte — a memchr-bound scan — which measured faster than
    a numpy scatter expansion, a full-expansion LUT gather and the Arrow
    ``replace_substring`` chain on both profiles."""
    for level in reversed(merge_levels(table)):
        for code, pair in reversed(level):
            data = data.replace(bytes([code]), pair)
    return data


def serialize_table(table: list[tuple[int, bytes]]) -> bytes:
    out = bytearray([len(table)])
    for code, pair in table:
        out += bytes([code])
        out += pair
    return bytes(out)


def deserialize_table(buf: bytes) -> list[tuple[int, bytes]]:
    n = buf[0]
    table = []
    pos = 1
    for _ in range(n):  # symbol table entries (<= 255)
        code = buf[pos]
        pair = bytes(buf[pos + 1:pos + 3])
        table.append((code, pair))
        pos += 3
    return table


def free_byte_values(data: bytes, max_codes: int) -> list[int]:
    """Byte values absent from `data` (exact), usable as symbol codes.

    Scatter-based presence test: ~150× faster than np.bincount on uint8.
    """
    if not data:
        return []
    present = np.zeros(256, dtype=bool)
    present[np.frombuffer(data, np.uint8)] = True
    return [int(v) for v in np.flatnonzero(~present)][:max_codes]


# --- codec interface (meta, sections) ---------------------------------------

def encode(offs_i64: np.ndarray, data: bytes,
           cfg) -> tuple[dict, list[bytes]]:
    free = free_byte_values(data, cfg.fsst_max_symbols)
    sample = data[:SAMPLE_BYTES]
    # stop merging once a round's sample gain drops below MIN_PAIR_FRAC
    # — each extra symbol costs roughly one replace pass at encode time,
    # so low-gain symbols are net losses on throughput
    min_count = max(8, int(len(sample) * MIN_PAIR_FRAC))
    table = build_symbol_table(sample, free, min_count)
    comp = fsst_compress(data, table)
    f, r, w, obuf = P.delta_encode(offs_i64)
    meta = {"o": [int(f), int(r), int(w)], "raw": len(data)}
    return meta, [serialize_table(table), comp, obuf]


def decode(meta: dict, sections: list[bytes], n: int) -> tuple[np.ndarray, bytes]:
    table = deserialize_table(sections[0]) if sections[0] else []
    data = fsst_decompress(sections[1], table)
    f, r, w = meta["o"]
    offs = P.delta_decode(f, r, w, sections[2], n + 1)
    return offs, data
