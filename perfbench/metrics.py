"""Metric declarations and the percentile helper.

`END_TO_END` and `PER_LAYER` are what the last output line carries with
`--trace 0` and `--trace 1`; the tests check them against BENCHMARK.json.
"""

from __future__ import annotations

import math

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "stored_ratio": "ratio",
    "peak_rss_gb": "GB",
}

# the columns a part file encodes (the kernel's `_host` sort column is
# kept for zone maps only)
PART_COLUMNS = ("url", "warc_ts", "html", "text", "lang")
# codecs the synthetic corpus selects on every seed
DECODED_CODECS = ("fsst", "for_delta", "plain")

PER_LAYER = {
    "codecs.fsst.free_bytes_s": "s",
    "codecs.fsst.table_build_s": "s",
    "codecs.fsst.compress_s": "s",
    "codecs.fsst.compress_mb_s": "MB/s",
    "codecs.fsst.decompress_s": "s",
    "codecs.fsst.decompress_mb_s": "MB/s",
    "codecs.fsst.symbols": "count",
    "codecs.fsst.levels": "count",
    "codecs.framing.zstd_pack_s": "s",
    "codecs.framing.zstd_unpack_s": "s",
    "codecs.selector.trial_s": "s",
    **{f"codecs.core.bytes_out.{c}": "bytes" for c in PART_COLUMNS},
    **{f"codecs.core.decode_s.{c}": "s" for c in DECODED_CODECS},
    "engine.partfile.write_mb_s": "MB/s",
    "engine.partfile.read_mb_s": "MB/s",
    "engine.partfile.footer_s": "s",
    "engine.encode.plan_s": "s",
    "engine.encode.kernel_stage_s": "s",
    "engine.encode.task_s.p50": "s",
    "engine.encode.task_s.max": "s",
    "engine.encode.task_skew": "ratio",
    "engine.encode.part_sort_s": "s",
    "engine.encode.part_encode_s": "s",
    "engine.encode.part_meta_s": "s",
    "engine.encode.boundary_s": "s",
    "engine.encode.shuffle_write_mb": "MB",
    "engine.encode.commit_s": "s",
    "engine.encode.jobs": "count",
    "engine.decode.task_s.p50": "s",
    "engine.decode.task_s.max": "s",
    "engine.decode.jobs": "count",
    "engine.decode.prune_s": "s",
    "session.jvm_start_s": "s",
    "trace.overhead_frac": "ratio",
}


def percentile(values, q: float) -> float:
    """The `q`-quantile (0 < q < 1, nearest rank) of `values`.

    Refuses (ValueError) when fewer than 10 samples lie above it: a
    percentile is only reported where the sample supports it."""
    xs = sorted(values)
    n = len(xs)
    if not 0 < q < 1:
        raise ValueError(f"quantile {q} outside (0, 1)")
    rank = max(1, math.ceil(q * n))
    if n - rank < 10:
        raise ValueError(
            f"p{q * 100:g} of {n} samples has {n - rank} above it; "
            "at least 10 are needed")
    return xs[rank - 1]


def percentile_or_none(values, q: float) -> float | None:
    try:
        return percentile(values, q)
    except ValueError:
        return None


def result_line(correct: bool, attempted: int, failed: int,
                values: dict, units: dict) -> dict:
    """The last output line: every declared metric, with its unit."""
    missing = set(units) - set(values)
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u}
                        for k, u in units.items()}}
