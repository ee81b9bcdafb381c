"""Time-limited paged scan (O4).

Mirrors the query time budget + next_block cursor (reference
handler.rs:104-129, config.rs:22-29).
"""

import pytest

from skar_spark.config import EngineConfig
from skar_spark.engine.decode import list_part_files, scan_paged
from skar_spark.engine.encode import encode_documents
from skar_spark.synth import synth_documents

pytestmark = pytest.mark.spark

N_DOCS = 3_000
CFG = EngineConfig(target_partition_rows=500, max_row_group_size=250)


@pytest.fixture(scope="module")
def encoded(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sp") / "out")
    docs = synth_documents(spark, N_DOCS, partitions=8)
    encode_documents(spark, docs, out, CFG, n_rows=N_DOCS)
    return out


def test_scan_paged_cursor_resumes_to_completion(spark, encoded):
    n_files = len(list_part_files(encoded))
    assert n_files >= 4
    seen = []
    cursor, pages = 0, 0
    while True:
        rows, cursor = scan_paged(spark, encoded, columns=["url"],
                                  cursor=cursor, time_limit_ms=None
                                  if pages else 0, page_files=2)
        seen.extend(r.url for r in rows)
        pages += 1
        if cursor is None:
            break
        assert pages < 50
    assert pages >= 2  # the 0ms budget forced at least one partial return
    assert len(seen) == N_DOCS
    assert len(set(seen)) == N_DOCS


def test_scan_paged_no_limit_single_shot(spark, encoded):
    rows, cursor = scan_paged(spark, encoded, columns=["url"],
                              time_limit_ms=None)
    assert cursor is None
    assert len(rows) == N_DOCS
