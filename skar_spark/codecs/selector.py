"""Per-column-chunk codec auto-selection by sampling.

This is the engine's key delta vs the reference: skar's codec is static
config (Lz4Raw vs Zstd(9), `skar/src/config.rs:82-86`) and every column is
written `Encoding::Plain` (`skar/src/write_parquet.rs:49-53`). Here each
column chunk is sampled (head/middle/tail slices, preserving run locality),
every candidate codec trial-encodes the sample, and the minimum-size codec
wins — with a margin guard so `plain` (+zstd) is kept unless a structural
codec is genuinely smaller. That guard is what makes the engine's output
provably ≤ the plain+zstd golden baseline modulo framing overhead.
"""

from __future__ import annotations

import pyarrow as pa

from skar_spark.codecs.core import canonicalize, codecs_for, encode_array
from skar_spark.codecs.framing import typecode
from skar_spark.config import DEFAULT, EngineConfig

SAMPLE_ROWS = 4_096
SAMPLE_BYTES = 1 << 18   # byte cap on string trial samples
MARGIN = 0.98            # a structural winner must beat plain by 2%
MARGIN_FSST = 0.95       # fsst must beat plain by 5%


def sample_chunk(arr: pa.Array, rows: int, byte_cap: int = 1 << 20) -> pa.Array:
    """Head/middle/tail contiguous slices (keeps runs representative).

    Row count is additionally capped so the sampled bytes stay under
    `byte_cap` — wide string/binary columns would otherwise make the
    trial encodes cost as much as the real encode.
    """
    n = len(arr)
    total_bytes = sum(b.size for b in arr.buffers() if b is not None)
    if total_bytes > byte_cap:
        avg = max(1, total_bytes // max(n, 1))
        rows = max(64, min(rows, byte_cap // avg))
    if n <= rows:
        return arr
    k = max(1, rows // 3)
    mid = (n - k) // 2
    return pa.concat_arrays([
        arr.slice(0, k), arr.slice(mid, k), arr.slice(n - k, k)])


def choose_codec(arr: pa.Array, cfg: EngineConfig = DEFAULT) -> str:
    """Pick the codec for one column chunk by trial-encoding a sample."""
    import pyarrow.compute as pc

    arr = canonicalize(arr)
    cands = list(codecs_for(typecode(arr.type)))
    if len(arr) == 0:
        return cands[0]
    sample = canonicalize(sample_chunk(arr, SAMPLE_ROWS, SAMPLE_BYTES))
    if "dict" in cands and len(sample) > 32:
        # dict trials re-encode the dictionary (≈ a second fsst pass);
        # skip when the sample is mostly unique — dict can't win there
        probe = sample.slice(0, min(len(sample), 1024))
        distinct_ratio = pc.count_distinct(probe).as_py() / len(probe)
        if distinct_ratio > 0.7:
            cands.remove("dict")
    sizes = {c: len(encode_array(sample, c, cfg)) for c in cands}
    plain = sizes["plain"]
    best = min(sizes, key=sizes.get)  # type: ignore[arg-type]
    # structural codecs must beat plain by the margin; fsst needs a larger
    # win because its encode cost is ~4× plain's (throughput-aware guard)
    margin = MARGIN_FSST if best == "fsst" else MARGIN
    if best != "plain" and sizes[best] > plain * margin:
        return "plain"
    return best


def encode_auto(arr: pa.Array, cfg: EngineConfig = DEFAULT) -> tuple[str, bytes]:
    """Select codec on a sample, encode the full chunk with the winner."""
    codec = choose_codec(arr, cfg)
    return codec, encode_array(arr, codec, cfg)
