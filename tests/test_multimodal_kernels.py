"""Multimodal plumbing kernels: metadata decode / frame-sample.

All stubs with REAL Spark-side plumbing (schema, Arrow batching,
vectorized kernels) — the decode byte-view stands in for media libs
absent from this container.
"""

import numpy as np
import pytest

from skar_spark.ops.multimodal import (
    _FRAME_BYTES,
    decode_image_meta,
    sample_frames_stub,
)

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def payloads(spark):
    rows = [
        (0, b"x" * 10_000),
        (1, b""),                      # empty payload
        (2, bytes(range(256)) * 40),   # 10240 bytes
        (3, b"a"),                     # 1 byte
        (4, np.random.default_rng(3).integers(
            0, 256, 50_000, dtype=np.uint8).tobytes()),
    ]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_decode_image_meta_lengths_and_determinism(spark, payloads):
    out = {r.doc_id: r for r in decode_image_meta(payloads).collect()}
    assert out[0].n_bytes == 10_000 and out[1].n_bytes == 0
    assert out[3].n_bytes == 1
    # empty payload: deterministic zero fingerprint
    assert out[1].payload_crc == 0
    # identical run → identical fingerprints (determinism)
    again = {r.doc_id: r.payload_crc
             for r in decode_image_meta(payloads).collect()}
    assert {k: v.payload_crc for k, v in out.items()} == again


def test_sample_frames_stub(spark, payloads):
    out = sample_frames_stub(payloads, every_n=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 0: 10000 bytes → 3 frames (4096,4096,1808) → sampled idx 0,2
    f0 = sorted(by_doc[0], key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in f0] == [0, 2]
    assert f0[0].frame_len == _FRAME_BYTES
    assert f0[1].frame_len == 10_000 - 2 * _FRAME_BYTES
    assert f0[1].frame_off == 2 * _FRAME_BYTES
    # empty payload → no frames
    assert 1 not in by_doc
    # 1-byte payload → one frame of length 1
    assert [(r.frame_idx, r.frame_len) for r in by_doc[3]] == [(0, 1)]


def test_no_row_loops_in_multimodal():
    import re
    src = open("skar_spark/ops/multimodal.py").read()
    assert not re.search(r"for\s+\w+\s+in\s+range\((n\b|len\()", src)
