"""One part-id allocator: every writer that adds partitions (appends,
stream epochs of any checkpoint, compaction) takes its new ids one past
the lineage high-water (encode.allocate_part_ids). The latest attempt
per partition_id wins, so a second id rule would let one writer's
partitions silently replace another's; each test mixes two writers and
reads every source row back exactly once."""

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from skar_spark.config import EngineConfig
from skar_spark.engine.decode import scan
from skar_spark.engine.encode import append_documents, encode_documents
from skar_spark.streaming import stream_encode
from skar_spark.synth import DOCS_DDL, synth_batch

pytestmark = pytest.mark.spark

CFG = EngineConfig(max_row_group_size=500, target_partition_rows=100)


def _rows(*tables: pa.Table) -> Counter:
    return Counter((u, t) for tb in tables
                   for u, t in zip(tb["url"].to_pylist(),
                                   tb["text"].to_pylist()))


def _assert_exactly_once(spark, out: str, *sources: pa.Table) -> None:
    got = Counter((r.url, r.text) for r in
                  scan(spark, out).select("url", "text").collect())
    want = _rows(*sources)
    assert got == want, (sum(got.values()), sum(want.values()))


def _landed(tmp_path, name: str, t: pa.Table) -> str:
    d = tmp_path / name
    d.mkdir()
    pq.write_table(t, str(d / "f.parquet"))
    return str(d)


def _df(spark, tmp_path, name: str, t: pa.Table):
    return spark.read.schema(DOCS_DDL).parquet(_landed(tmp_path, name, t))


def _stream(spark, tmp_path, name: str, t: pa.Table, out: str,
            checkpoint: str | None = None) -> None:
    d = _landed(tmp_path, name, t)
    stream_encode(spark, d, out, CFG,
                  checkpoint_dir=checkpoint).awaitTermination(120)


def test_stream_epoch_after_append(spark, tmp_path):
    out = str(tmp_path / "out")
    base, inc, streamed = (synth_batch(np.arange(a, b)) for a, b in
                           ((0, 200), (200, 400), (400, 600)))
    encode_documents(spark, _df(spark, tmp_path, "b", base), out, CFG,
                     num_parts=2, n_rows=200)
    append_documents(spark, _df(spark, tmp_path, "i", inc), out, CFG)
    _stream(spark, tmp_path, "land", streamed, out)
    _assert_exactly_once(spark, out, base, inc, streamed)


def test_second_checkpoint_on_streamed_table(spark, tmp_path):
    out = str(tmp_path / "out")
    first, second = synth_batch(np.arange(0, 300)), \
        synth_batch(np.arange(300, 600))
    _stream(spark, tmp_path, "land1", first, out,
            str(tmp_path / "ckpt1"))
    # a fresh checkpoint restarts Spark's epoch numbering at 0
    _stream(spark, tmp_path, "land2", second, out,
            str(tmp_path / "ckpt2"))
    _assert_exactly_once(spark, out, first, second)


def test_stream_onto_encoded_hash_table(spark, tmp_path):
    out = str(tmp_path / "out")
    base, streamed = synth_batch(np.arange(0, 2000)), \
        synth_batch(np.arange(2000, 2300))
    encode_documents(spark, _df(spark, tmp_path, "b", base), out, CFG,
                     n_rows=2000)
    _stream(spark, tmp_path, "land", streamed, out)
    _assert_exactly_once(spark, out, base, streamed)


def test_replayed_epoch_writes_nothing(spark, tmp_path):
    """Spark re-runs an epoch whose checkpoint commit is missing; its
    lineage commit already landed, so the replay must not add rows."""
    out = str(tmp_path / "out")
    t = synth_batch(np.arange(0, 300))
    ckpt = str(tmp_path / "ckpt")
    _stream(spark, tmp_path, "land", t, out, ckpt)
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))
    stream_encode(spark, str(tmp_path / "land"), out, CFG,
                  checkpoint_dir=ckpt).awaitTermination(120)
    _assert_exactly_once(spark, out, t)
