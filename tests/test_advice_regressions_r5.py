"""Regression guards for the round-4 ADVICE findings.

Each test pins one fixed failure mode: the stale-old-dir lineage-swap
recovery ordering, orphan old-dir cleanup when lineage is present, and
the IVF zero-norm assignment guard. (The fourth r4 finding — concurrent
ann stage-dir reclaim — is pinned in
test_ann_scaling.test_ann_stage_dir_redirect_and_cleanup.)
"""

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from skar_spark.config import EngineConfig
from skar_spark.engine.decode import prune_partitions, scan
from skar_spark.engine.encode import encode_documents, lineage_dir
from skar_spark.synth import synth_documents

pytestmark = pytest.mark.spark

CFG = EngineConfig(target_partition_rows=1_000, max_row_group_size=400,
                   salt_threshold_rows=900)


def _content(df):
    return {(r.url, r.text) for r in df.select("url", "text").collect()}


# -- ADVICE r04 #2: stale old-dir must not shadow a committed tmp ------

def test_stale_expired_then_compact_crash_rolls_forward(spark, tmp_path):
    """A vacuum that crashed POST-swap leaves a stale lineage.expired;
    a later compaction crash BETWEEN its two renames leaves
    lineage.compact (committed new view) + lineage.precompact and no
    lineage dir. Recovery must roll FORWARD to the .compact copy — the
    fixed-order scan used to roll BACK to the stale .expired, reviving
    superseded lineage."""
    out = str(tmp_path / "out")
    docs = synth_documents(spark, 2_000, partitions=4)
    encode_documents(spark, docs, out, CFG, n_rows=2_000)
    want = _content(scan(spark, out))
    ldir = lineage_dir(out)

    # stale .expired: a SUBSET lineage (only partition 0) — what a
    # pre-vacuum superseded view would look like
    full = pads.dataset(ldir, format="parquet").to_table()
    assert len(set(full.column("partition_id").to_pylist())) >= 2
    stale = full.filter(pc.field("partition_id") == 0)
    os.makedirs(ldir + ".expired")
    pq.write_table(stale, os.path.join(ldir + ".expired", "part-0.parquet"))

    # compaction mid-swap crash
    shutil.copytree(ldir, ldir + ".compact")
    os.rename(ldir, ldir + ".precompact")
    assert not os.path.isdir(ldir)

    got = _content(scan(spark, out))       # triggers recovery
    assert got == want                     # full view, not the subset
    assert os.path.isdir(ldir)
    for sfx in (".expired", ".precompact", ".compact", ".vacuum"):
        assert not os.path.isdir(ldir + sfx)


def test_orphan_old_dir_cleaned_when_lineage_present(spark, tmp_path):
    """A crash after the second rename but before cleanup leaves an
    orphan old dir beside a healthy lineage. Readers must remove it
    (so no later recovery can mistake it for a rollback source) and
    serve the table unchanged."""
    out = str(tmp_path / "out")
    docs = synth_documents(spark, 1_000, partitions=4)
    encode_documents(spark, docs, out, CFG, n_rows=1_000)
    want = _content(scan(spark, out))
    ldir = lineage_dir(out)

    shutil.copytree(ldir, ldir + ".expired")
    assert prune_partitions(out, ts_range=(0, 1 << 62))
    assert not os.path.isdir(ldir + ".expired")
    assert _content(scan(spark, out)) == want


# -- ADVICE r04 #4: IVF zero-norm embedding assignment -----------------

def _write_embeddings(sf_dir: str, V: np.ndarray) -> None:
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(V)), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in V],
                              pa.list_(pa.float32())),
    }), os.path.join(sf_dir, "embeddings.parquet"))


def test_ivf_zero_norm_vector_matches_oracle(spark, tmp_path):
    """A zero-norm embedding must be assigned the smallest centroid id
    deterministically (not the bestc initializer) and the full IVF
    output must still agree with the DuckDB oracle, whose x/0 → NULL
    cosines sort last under DESC."""
    import duckdb

    from skar_spark.ops.dedup import q_ann_ivf, sql_ann_ivf

    rng = np.random.default_rng(11)
    V = rng.standard_normal((120, 64))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    V[57] = 0.0                      # not a query id (queries are < 8)
    V = V.astype(np.float32)
    sf_dir = str(tmp_path)
    _write_embeddings(sf_dir, V)

    sdf = q_ann_ivf(spark, sf_dir)
    got = {(r.qid, r.rk, r.vec_id, r.cos) for r in sdf.collect()}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet')")
    want = {tuple(r) for r in con.execute(sql_ann_ivf(len(V))).fetchall()}
    assert got == want


def test_ivf_zero_norm_assigned_smallest_cid(spark, tmp_path):
    """Direct check on the assignment kernel: the zero vector gets the
    smallest centroid id (not the bestc initializer), and every
    assigned cid is a real centroid id."""
    from skar_spark.ops import dedup as D

    rng = np.random.default_rng(12)
    V = rng.standard_normal((96, 64)).astype(np.float32)
    V[33] = 0.0
    sf_dir = str(tmp_path)
    _write_embeddings(sf_dir, V)

    quant, assigned = D.ivf_assign(spark, sf_dir)
    got = {r.vec_id: r.cid for r in assigned.collect()}
    cids = {int(c) for c in quant["cids"]}
    assert got[33] == min(cids)
    assert set(got.values()) <= cids
    assert len(got) == len(V)


# -- r5 driver-side lineage commit: schema/edge-case roundtrip ---------

def test_append_lineage_rows_roundtrip_with_nulls(spark, tmp_path):
    """The driver-side lineage commit must write rows Spark reads back
    exactly — including NULL timestamps (empty partitions), NULL bloom
    blobs, and tz-aware values — and keep the dir readable alongside
    further appends."""
    import datetime as dt

    from skar_spark.engine.encode import (
        FOOTER_DDL,
        append_lineage_rows,
        read_lineage,
    )

    out = str(tmp_path / "out")
    ts = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (1, "a1", "committed", 10, "{}", 100, 50, ts,
         ts + dt.timedelta(hours=1), 2, 1, bytearray(b"\x01\x02"),
         None, bytearray(b"\x03"), 0.1, 0.2, 0.3, "parts/p1", 111.5,
         None, None),
        (2, "a1", "committed", 0, "{}", 0, 0, None, None, 0, 0,
         None, None, None, 0.0, 0.0, 0.0, "parts/p2", 112.5, None,
         None),
    ]
    footers = spark.createDataFrame(rows, FOOTER_DDL)
    assert append_lineage_rows(footers, out) == 2
    # second append (separate object) must coexist
    assert append_lineage_rows(
        footers.filter("partition_id = 1"), out) == 1

    lin = read_lineage(spark, out)
    got = {(r.partition_id, r.row_count, r.min_warc_ts,
            bytes(r.host_bloom) if r.host_bloom is not None else None,
            r.committed_at, r.file)
           for r in lin.collect()}
    assert (2, 0, None, None, 112.5, "parts/p2") in got
    assert len(got) == 2          # pid 1 rows identical across appends
    assert lin.count() == 3       # but both appends present
    one = lin.filter("partition_id = 1").first()
    assert one.min_warc_ts.replace(tzinfo=None) == ts
    assert bytes(one.text_checksum) == b"\x03"

    # empty commit is a no-op (no empty parquet object written)
    assert append_lineage_rows(footers.filter("1=0"), out) == 0
    assert lin.count() == 3
