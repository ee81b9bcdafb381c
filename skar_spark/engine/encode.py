"""The Spark encode job — the engine's write path.

Pipeline (the Spark realization of the reference's ingest→encode→index
path, SURVEY §3 entry point 2; reference pipeline at
skar/src/skar_runner.rs:285-353 + write_parquet.rs + build_parquet_idx.rs):

    documents df
      → derive host (substring of url; the skew key — analog of skar's
        address/topic0 skew, SURVEY §1.3)
      → salt heavy hosts (count>threshold → split into ceil(n/threshold)
        salts; broadcast the small heavy-host map)
      → deterministic part_id = xxhash64(host, salt) mod P
        (deterministic partition membership is what makes resume exact —
        the analog of skar's block-range folder naming)
      → encode_footers: planned_exchange puts each part_id alone in its
        task, then mapInArrow(kernel)  [one shuffle — the same single
        clustering shuffle the golden sort needs]
          lexsort (host, warc_ts, url)          [write_parquet.rs:131-153]
          slice into row groups                 [write_parquet.rs:83-103]
          auto-select codec per column chunk    [our north-star delta]
          write part file, temp→atomic rename   [skar_runner.rs:296-321]
          emit footer row (zone maps, bloom, checksum, codec choices)
      → append footer rows to the lineage table [db/mod.rs:88-215 analog]

Resume: completed part_ids from the lineage table are anti-joined away
before the shuffle (mirror of db.next_block_num(), db/mod.rs:68-86).
Scale notes: the only global state is the lineage table (tiny — one row
per partition); everything else is per-partition. At 10^12 docs the same
plan holds: the heavy-host count is a map-side-combined agg over a
low-cardinality key, the salt map broadcast is KBs, and the single
shuffle is on a uniform hashed key (salting bounds any partition's size).
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skar_spark.config import DEFAULT, EngineConfig
from skar_spark.engine import storage
from skar_spark.engine.partfile import (
    SORT_KEYS,
    partition_checksum,
    partition_host_bloom,
    write_part_file,
)

FOOTER_DDL = (
    "partition_id int, attempt_id string, status string, row_count long, "
    "codec_choices string, bytes_in long, bytes_out long, "
    "min_warc_ts timestamp, max_warc_ts timestamp, n_hosts int, "
    "n_row_groups int, host_bloom binary, lang_bloom binary, "
    "text_checksum binary, "
    "sort_sec double, encode_sec double, meta_sec double, file string, "
    "committed_at double, schema_json string, col_stats string"
)
# one lineage row per footer row, minus schema_json (merged into
# meta/schema.json at commit time, never stored in lineage)
LINEAGE_DDL = ", ".join(f for f in FOOTER_DDL.split(", ")
                        if not f.startswith("schema_json "))
SALT_MAP_DDL = "host string, n_salts int, chunk_bytes long"


def _arrow_schema(ddl: str) -> pa.Schema:
    types = {"int": pa.int32(), "long": pa.int64(), "double": pa.float64(),
             "string": pa.string(), "binary": pa.binary(),
             "timestamp": pa.timestamp("us", tz="UTC")}
    return pa.schema([(n, types[t]) for n, t in
                      (f.split() for f in ddl.split(", "))])


LINEAGE_SCHEMA = _arrow_schema(LINEAGE_DDL)
# rows per lineage parquet row group: each group's min/max_warc_ts
# stats are one entry of the seek index (lineage_row_groups)
LINEAGE_ROW_GROUP_ROWS = 1024

HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/?#]*).*$"


def _conform(t: pa.Table, cols: list[str]) -> pa.Table:
    """`t` as the lineage columns `cols` with their declared types.
    Columns an older lineage file (or a hand-built footer) lacks are
    null-backfilled; the rest are cast, so an incompatible stored type
    raises."""
    return pa.table({
        c: (t[c].cast(LINEAGE_SCHEMA.field(c).type) if c in t.column_names
            else pa.nulls(t.num_rows, LINEAGE_SCHEMA.field(c).type))
        for c in cols})


def _put_lineage(path: str, t: pa.Table) -> None:
    """PUT one lineage parquet object, rows sorted by ``min_warc_ts``
    (nulls last) so its row-group stats form a seek index over the
    index itself (lineage_row_groups)."""
    import io

    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(t.sort_by("min_warc_ts"), buf,
                   row_group_size=LINEAGE_ROW_GROUP_ROWS)
    storage.put_bytes(path, buf.getvalue())


def append_lineage_rows(footers: "DataFrame", out_dir: str) -> int:
    """Commit one batch/epoch's lineage rows.

    The footers are METADATA — one row per encoded partition, at most
    ``cfg.batch_partitions`` of them — so a second Spark job with a
    ``repartition(1)`` exchange just to land them as parquet is a FIXED
    serial barrier per batch: it costs the same at every cluster size,
    which makes it an Amdahl term the N→4N scaling ratio pays directly
    (measured r5: ~1s × 5 batches ≈ 15% of the 4N leg's 40s wall but
    only ~5% of the N leg's 130s). Instead: collect the rows as Arrow
    (this runs the encode kernel job — the same single job the write
    used to trigger) and PUT them as one sorted parquet object through
    the storage seam (atomic temp+rename / object PUT — and no local
    spool needed on object stores).

    Returns the number of rows committed."""
    t = footers.toArrow()   # metadata rows, never data rows
    if not t.num_rows:
        return 0
    # schema evolution (engine/schema_evo.py): merge this batch's part
    # schemas into the table schema EXACTLY at commit time — a reader
    # never sees a column before the data carrying it is queryable.
    # Rows from pre-evolution kernels (or tests building footers by
    # hand) simply lack the field.
    import json

    from skar_spark.engine.schema_evo import update_table_schema
    if "schema_json" in t.column_names:
        sj = next((v for v in t["schema_json"].to_pylist() if v), None)
        if sj:  # one batch shares one input schema
            s = json.loads(sj)
            update_table_schema(out_dir, s["cols"], s["types"])
    _put_lineage(os.path.join(lineage_dir(out_dir),
                              f"batch-{uuid.uuid4().hex[:12]}.parquet"),
                 _conform(t, LINEAGE_SCHEMA.names))
    return t.num_rows


def with_host(df: DataFrame) -> DataFrame:
    """Derive the host column from url (JVM-side regexp, codegen'd)."""
    return df.withColumn("host", F.regexp_extract("url", HOST_RE, 1))


def host_stats(df: DataFrame) -> DataFrame:
    """Per-host (count, bytes) in one map-side-combinable pass — the
    planning statistic for salting. Bytes matter as much as rows: web
    hosts skew in DOCUMENT SIZE too (a host of 10× average-length pages
    makes a 10×-CPU encode chunk at equal row count), and the straggler
    tail is CPU ∝ bytes, not rows."""
    return df.groupBy("host").agg(
        F.count("*").alias("count"),
        F.sum(sum(F.coalesce(F.octet_length(F.col(c)), F.lit(0))
                  for c in ("url", "text", "html", "lang"))
              ).alias("bytes"))


def salt_map(df: DataFrame, cfg: EngineConfig,
             host_counts: DataFrame | None = None) -> DataFrame:
    """The heavy-host map (host → n_salts, chunk_bytes): hosts above the
    salt threshold in ROWS or BYTES are split into enough salts that
    every chunk fits both bounds. Small by construction (broadcastable).
    Persisted by encode_documents so late-data rollback replans with
    IDENTICAL partition membership; `chunk_bytes` (estimated bytes per
    salted chunk) additionally drives deterministic bin-packing of heavy
    chunks across partitions (plan_partitions)."""
    hc = host_counts if host_counts is not None else host_stats(df)
    tot = hc.agg(F.sum("count"), F.sum("bytes")).collect()[0]
    avg_row = (tot[1] or 1) / max(tot[0] or 1, 1)
    thr_bytes = float(cfg.salt_threshold_rows) * avg_row
    return (hc.filter((F.col("count") > cfg.salt_threshold_rows)
                      | (F.col("bytes") > thr_bytes))
            .select("host",
                    F.ceil(F.greatest(
                        F.col("count") / cfg.salt_threshold_rows,
                        F.col("bytes") / thr_bytes))
                    .cast("int").alias("n_salts"),
                    (F.col("bytes") / F.ceil(F.greatest(
                        F.col("count") / cfg.salt_threshold_rows,
                        F.col("bytes") / thr_bytes)))
                    .cast("long").alias("chunk_bytes")))


def _apply_salt(df: DataFrame, heavy: DataFrame) -> DataFrame:
    df = df.join(F.broadcast(heavy.select("host", "n_salts")),
                 "host", "left")
    return df.withColumn(
        "salt",
        F.when(F.col("n_salts").isNotNull(),
               F.pmod(F.xxhash64("url"), F.col("n_salts")))
        .otherwise(F.lit(0)).cast("int")).drop("n_salts")


def _with_salt(df: DataFrame, cfg: EngineConfig,
               host_counts: DataFrame | None = None,
               salt: DataFrame | None = None) -> DataFrame:
    """Heavy-host salting; `salt` (a salt_map result) overrides the
    computed map so replans are membership-stable."""
    return _apply_salt(df, salt if salt is not None
                       else salt_map(df, cfg, host_counts))


def plan_partitions_day_hash(df: DataFrame, target_rows: int,
                             cfg: EngineConfig = DEFAULT,
                             fixed: tuple | None = None,
                             salt: DataFrame | None = None
                             ) -> tuple[DataFrame, int, tuple]:
    """Range × hash layout: part_id = (day(warc_ts) − min_day) · B +
    bucket(host, salt) — the Iceberg `days(warc_ts) × bucket(url)`
    layout from SURVEY §1.3 (mirror of skar's block-range folders,
    which ARE its time-range partitions). Each partition covers one
    day, so lineage min/max warc_ts zone maps prune whole partitions
    for time-windowed scans — the capability the flat hash scheme
    lacks. Returns (planned_df, num_parts).

    The day-stats aggregation is one map-side-combined pass (3 longs
    out); at 10^12 docs it is metadata-cheap next to the main shuffle.
    """
    df = with_host(df)
    if fixed is not None:
        d0, buckets, num_parts = fixed
    else:
        stats = df.agg(
            F.min(F.to_date("warc_ts")).alias("d0"),
            F.max(F.to_date("warc_ts")).alias("d1"),
            F.count("*").alias("n")).collect()[0]
        n_days = (stats.d1 - stats.d0).days + 1
        buckets = max(1, -(-int(stats.n) // n_days // target_rows))
        num_parts = n_days * buckets
        d0 = stats.d0
    import dataclasses
    cfg = dataclasses.replace(
        cfg, salt_threshold_rows=min(cfg.salt_threshold_rows,
                                     max(500, target_rows // 2)))
    df = _with_salt(df, cfg, salt=salt)
    day_idx = F.datediff(F.to_date("warc_ts"), F.lit(d0))
    return df.withColumn(
        "part_id",
        (day_idx * buckets
         + F.pmod(F.xxhash64("host", "salt"), F.lit(buckets)))
        .cast("int")), num_parts, (d0, buckets, num_parts)


def _pack_heavy_chunks(sm_rows, num_parts: int
                       ) -> tuple[list[tuple], dict[int, int]]:
    """Greedy bin-packing of the known heavy (host, salt) chunks across
    partitions: biggest chunk first into the least-loaded partition.
    Deterministic given the persisted salt map (sort keys break ties by
    host), so resume/rollback replans place chunks identically. Returns
    ([(host, salt, part_id)], {part_id: packed_bytes}) — the load map
    feeds planned_exchange's largest-first task placement. Driver-side
    but METADATA-sized: one entry per heavy chunk, not per row — at
    10^12 docs the salt map is KBs."""
    import heapq

    chunks = []
    for r in sm_rows:
        per = (r.chunk_bytes if r.chunk_bytes is not None else 0)
        for s in range(r.n_salts):
            chunks.append((per, r.host, s))
    chunks.sort(key=lambda c: (-c[0], c[1], c[2]))
    heap = [(0, p) for p in range(num_parts)]  # (load, part_id)
    out = []
    loads: dict[int, int] = {}
    for per, host, s in chunks:
        load, p = heapq.heappop(heap)
        out.append((host, s, p))
        loads[p] = load + per
        heapq.heappush(heap, (load + per, p))
    return out, loads


def plan_partitions(df: DataFrame, num_parts: int,
                    cfg: EngineConfig = DEFAULT,
                    host_counts: DataFrame | None = None,
                    salt: DataFrame | None = None,
                    packed: list[tuple] | None = None) -> DataFrame:
    """Attach deterministic `part_id` with heavy-host salting.

    Three-phase: (1) per-host (count, bytes) stats (map-side combinable
    agg; cheap — hosts are low-cardinality vs rows), kept above the salt
    threshold in rows OR bytes; (2) broadcast-join that small map and
    compute salt = xxhash64(url) mod n_salts for heavy hosts, 0
    otherwise; (3) KNOWN heavy chunks get explicit bin-packed part ids
    (largest-first into least-loaded — the only chunks big enough to
    matter are exactly the ones the salt map enumerates), light hosts
    hash uniformly. Packing removes the Poisson tail of several heavy
    chunks hashing into one partition, which measured as a 3× max/median
    task-time straggler on the encode stage.
    """
    df = with_host(df)
    sm = salt if salt is not None else salt_map(df, cfg, host_counts)
    df = _apply_salt(df, sm)
    hash_part = F.pmod(F.xxhash64("host", "salt"), F.lit(num_parts)) \
        .cast("int")
    if "chunk_bytes" not in sm.columns:
        return df.withColumn("part_id", hash_part)
    spark = df.sparkSession
    if packed is None:
        packed, _loads = _pack_heavy_chunks(
            sm.orderBy("host").collect(), num_parts)
    if not packed:
        return df.withColumn("part_id", hash_part)
    pdf = spark.createDataFrame(
        packed, "host string, salt int, _packed_part int")
    df = df.join(F.broadcast(pdf), ["host", "salt"], "left")
    return df.withColumn(
        "part_id", F.coalesce(F.col("_packed_part"), hash_part)) \
        .drop("_packed_part")


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashInt (the hash behind HashPartitioning
    and F.hash for int columns), reimplemented from the public murmur3
    spec so the driver can plan exact shuffle placement (see
    _bucket_keys) without launching a job. Returns the SIGNED int32."""
    k = (x & 0xffffffff) * 0xcc9e2d51 & 0xffffffff
    k = ((k << 15) | (k >> 17)) & 0xffffffff
    k = k * 0x1b873593 & 0xffffffff
    h = (seed ^ k) & 0xffffffff
    h = ((h << 13) | (h >> 19)) & 0xffffffff
    h = (h * 5 + 0xe6546b64) & 0xffffffff
    h ^= 4  # fmix with total byte length (one int = 4)
    h ^= h >> 16
    h = h * 0x85ebca6b & 0xffffffff
    h ^= h >> 13
    h = h * 0xc2b2ae35 & 0xffffffff
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _bucket_keys(n: int) -> list[int]:
    """For each bucket b in [0, n): an int32 key whose Spark shuffle hash
    lands EXACTLY in bucket b of an n-way repartition.

    Motivation (measured on the 400k-doc bench): a hash exchange on
    part_id places ~2 s-CPU encode groups into buckets at random — with
    64 groups in 128 buckets several buckets get 2 groups, and that
    collision tail was ~40% of the batch wall. Mapping part_id through
    these keys and repartition(n, "_pk") places one group per task
    deterministically, so the stage tail is the slowest single group,
    not the unluckiest bucket."""
    keys: list[int] = [-1] * n
    left = n
    x = 0
    while left:
        b = _murmur3_int32(x) % n  # python %: non-negative, == Spark pmod
        if keys[b] < 0:
            keys[b] = x
            left -= 1
        x += 1
    return keys


def _encode_kernel(out_dir: str, cfg: EngineConfig, attempt: str,
                   name_fmt: str):
    """mapInArrow kernel over a planned exchange (see encode_footers):
    one footer row out per part_id in the task. All columnar — no
    per-row Python. The exchange puts each part_id alone in its task; a
    local split keeps the kernel correct if a task ever holds several.
    `name_fmt` gives each writer its part-file namespace (streaming:
    part-e{epoch}-{pid}.skar)."""

    def encode_part(table: pa.Table) -> pa.Table:
        import time as _time
        t0 = _time.time()
        part_id = table["part_id"][0].as_py()
        data_cols = [c for c in table.column_names
                     if c not in ("part_id", "salt", "host")]
        # lexsort by SORT_KEYS: keep host as _host for zone maps
        t = table.rename_columns(
            [("_host" if c == "host" else c) for c in table.column_names])
        t = t.sort_by([("_host" if k == "host" else k, "ascending")
                       for k in SORT_KEYS])
        body = t.select(data_cols + ["_host"])

        t_sorted = _time.time()
        path = os.path.join(out_dir, "parts",
                            name_fmt.format(pid=part_id))
        stats = write_part_file(path, body, cfg)
        t_written = _time.time()

        ts = t["warc_ts"].combine_chunks()
        hosts = t["_host"].combine_chunks()
        n_hosts = len(pc.unique(hosts))
        return pa.table({
            "partition_id": pa.array([part_id], pa.int32()),
            "attempt_id": pa.array([attempt], pa.string()),
            "status": pa.array(["committed"], pa.string()),
            "row_count": pa.array([t.num_rows], pa.int64()),
            "codec_choices": pa.array([stats["codec_choices"]], pa.string()),
            "bytes_in": pa.array([stats["bytes_in"]], pa.int64()),
            "bytes_out": pa.array([stats["bytes_out"]], pa.int64()),
            "min_warc_ts": pa.array(
                [pc.min(ts).as_py() if t.num_rows else None], ts.type),
            "max_warc_ts": pa.array(
                [pc.max(ts).as_py() if t.num_rows else None], ts.type),
            "n_hosts": pa.array([n_hosts], pa.int32()),
            "n_row_groups": pa.array([stats["n_row_groups"]], pa.int32()),
            "host_bloom": pa.array(
                [partition_host_bloom(hosts)],
                pa.binary()),
            # second partition-level bloom family (lang): lets a
            # lang-filtered scan skip whole partitions where the value
            # never occurs (reference: address AND topic families,
            # build_parquet_idx.rs:89-171)
            "lang_bloom": pa.array(
                [partition_host_bloom(t["lang"].combine_chunks())
                 if "lang" in t.column_names and t.num_rows else None],
                pa.binary()),
            "text_checksum": pa.array([partition_checksum(t)], pa.binary()),
            "sort_sec": pa.array([round(t_sorted - t0, 3)], pa.float64()),
            "encode_sec": pa.array([round(t_written - t_sorted, 3)], pa.float64()),
            "meta_sec": pa.array([round(_time.time() - t_written, 3)], pa.float64()),
            "file": pa.array([path], pa.string()),
            "committed_at": pa.array([_time.time()], pa.float64()),
            # merged into meta/schema.json at commit; NOT a lineage
            # column (append_lineage_rows strips it) so old lineage
            # parquet and new coexist schema-stable
            "schema_json": pa.array([stats["schema_json"]], pa.string()),
            # numeric zone maps for non-layout columns ({} when none)
            "col_stats": pa.array([stats["col_stats"]], pa.string()),
        })

    def kernel(batches):
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        pids = pc.unique(t["part_id"])
        for pid in pids:
            sub = t.filter(pc.equal(t["part_id"], pid)) \
                if len(pids) > 1 else t
            yield from encode_part(sub).to_batches()

    return kernel


def planned_exchange(sub: DataFrame, part_ids: list[int],
                     num_buckets: int,
                     loads: dict[int, int] | None = None) -> DataFrame:
    """Repartition `sub` so each part_id in `part_ids` lands alone in
    its own shuffle bucket: part_id → a key whose Murmur3 hash maps to a
    distinct bucket of the num_buckets-way exchange.

    `loads` (part_id → packed heavy-chunk bytes) orders the buckets
    LARGEST-FIRST: reduce tasks launch in bucket-index order, so with
    more groups than cores the heavy groups start in the first wave and
    the stage tail is a medium group, not "wave + heaviest" (measured:
    the biggest part landing in wave 2 added its full encode time to
    the batch wall)."""
    keys = _bucket_keys(num_buckets)
    order = sorted(part_ids,
                   key=lambda p: (-(loads or {}).get(p, 0), p))
    ranked = {pid: keys[i % num_buckets]
              for i, pid in enumerate(order)}
    mapping = F.create_map(
        *[F.lit(v) for kv in ranked.items() for v in kv])
    return sub.withColumn("_pk", mapping[F.col("part_id")]) \
        .repartition(num_buckets, "_pk").drop("_pk")


def encode_footers(planned: DataFrame, part_ids: list[int], out_dir: str,
                   cfg: EngineConfig, attempt: str, name_fmt: str,
                   loads: dict[int, int] | None = None) -> DataFrame:
    """THE encode dispatch every writer uses: one row shuffle that puts
    each of `part_ids` alone in its task (planned_exchange), then the
    encode kernel per task. Returns the lazy footer rows (FOOTER_DDL);
    append_lineage_rows runs and commits them. `repartition(n, col)`
    is a fixed-count exchange, so AQE never coalesces the CPU-bound
    kernel stage. Parts with no rows never reach a task and write no
    file (_rewrite_partitions writes those driver-side).

    Exchange format was raced at 1M docs on the 4x8-executor standalone
    cluster (warm workers, same session): row shuffle 43.6s, map-side
    Arrow-IPC blob pack 89.2s, spill-file exchange 129.8s — packing
    crosses the Python boundary twice, costing more than the JVM's row
    machinery saves."""
    exch = planned_exchange(planned, part_ids, len(part_ids), loads)
    return exch.mapInArrow(
        _encode_kernel(out_dir, cfg, attempt, name_fmt), FOOTER_DDL)


def lineage_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage")


# (tmp, old) directory-name suffixes of the lineage rewrites
# (_swap_lineage): vacuum and rollback use the first pair, compact_parts
# the second. A crash between the two renames leaves BOTH tmp and old
# but no lineage dir.
_SWAP_SUFFIXES = ((".vacuum", ".expired"), (".compact", ".precompact"))


def recover_lineage_swap(out_dir: str) -> None:
    """Complete an interrupted lineage swap (vacuum / compaction).

    The swap is two renames; if a crash lands between them the lineage
    directory is missing while both the fully-written new copy (tmp) and
    the pre-swap copy (old) still exist. Readers call this before
    opening lineage.

    Recovery order (ADVICE r04 — a fixed per-pair scan could mistake a
    STALE old dir left by one op's post-swap crash for the rollback
    source of a DIFFERENT op's mid-swap crash, resurrecting superseded
    lineage over the fully-written new copy):

    1. lineage present → the last swap committed; surviving OLD dirs
       are orphans from a crash after the second rename but before
       cleanup — remove them so a later recovery can't roll back to
       them. Tmp dirs are left alone (a live vacuum/compact may be
       between writing its tmp and the first rename).
    2. no lineage, some pair has tmp AND old → that op crashed
       mid-swap; roll FORWARD to its tmp (completely written and closed
       before the first rename — the committed new view) and drop every
       old dir of either pair.
    3. no lineage, a tmp alone → roll forward (defensive; the protocol
       can't leave this state).
    4. no lineage, an old alone → roll back (defensive, likewise)."""
    import shutil

    path = lineage_dir(out_dir)
    if not storage.is_posix(path):
        # object-store tables never swap (vacuum/compaction are refused
        # there — storage.require_posix); nothing to heal
        return
    if os.path.isdir(path):
        for _tmp_sfx, old_sfx in _SWAP_SUFFIXES:
            if os.path.isdir(path + old_sfx):
                shutil.rmtree(path + old_sfx, ignore_errors=True)
        return
    for tmp_sfx, old_sfx in _SWAP_SUFFIXES:
        tmp, old = path + tmp_sfx, path + old_sfx
        if os.path.isdir(tmp) and os.path.isdir(old):
            os.rename(tmp, path)
            for _t, o_sfx in _SWAP_SUFFIXES:
                shutil.rmtree(path + o_sfx, ignore_errors=True)
            return
    for tmp_sfx, _old_sfx in _SWAP_SUFFIXES:
        tmp = path + tmp_sfx
        if os.path.isdir(tmp):
            os.rename(tmp, path)
            for _t, o_sfx in _SWAP_SUFFIXES:
                shutil.rmtree(path + o_sfx, ignore_errors=True)
            return
    for _tmp_sfx, old_sfx in _SWAP_SUFFIXES:
        old = path + old_sfx
        if os.path.isdir(old):
            os.rename(old, path)
            return


def _swap_lineage(out_dir: str, t: pa.Table,
                  suffixes: tuple[str, str]) -> None:
    """Atomically replace the lineage table by `t` — THE rewrite of
    vacuum, rollback and compaction: write tmp → rename(path, old) →
    rename(tmp, path) → remove old, with the operation's
    ``_SWAP_SUFFIXES`` pair, so recover_lineage_swap heals a crash at
    any step. `t` is written sorted by ``min_warc_ts`` in
    LINEAGE_ROW_GROUP_ROWS-row groups, so the rewritten lineage stays
    seek-able (lineage_row_groups)."""
    import shutil

    path = lineage_dir(out_dir)
    tmp, old = path + suffixes[0], path + suffixes[1]
    shutil.rmtree(tmp, ignore_errors=True)
    _put_lineage(os.path.join(tmp, "lineage.parquet"), t)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _meta_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "meta")


def save_plan_meta(out_dir: str, meta: dict) -> None:
    import json
    storage.makedirs(_meta_dir(out_dir))
    storage.put_bytes(os.path.join(_meta_dir(out_dir), "plan.json"),
                      json.dumps(meta).encode())


def load_plan_meta(out_dir: str) -> dict | None:
    import json
    try:
        return json.loads(storage.get_bytes(
            os.path.join(_meta_dir(out_dir), "plan.json")))
    except FileNotFoundError:
        return None


def _salt_map_dir(out_dir: str) -> str:
    return os.path.join(_meta_dir(out_dir), "salt_map")


def save_salt_map(spark: SparkSession, out_dir: str,
                  sm: DataFrame) -> list:
    """Persist the salt map and return its collected rows.

    The map is metadata (one row per heavy host) — a Spark parquet
    write job + read-back just to land it was a fixed ~0.5-1 s serial
    barrier per encode (the append_lineage_rows lesson); instead
    collect the rows and PUT one parquet object through the storage
    seam."""
    import io

    import pyarrow.parquet as _pq

    rows = sm.collect()
    buf = io.BytesIO()
    _pq.write_table(pa.Table.from_pylist([r.asDict() for r in rows],
                                         _arrow_schema(SALT_MAP_DDL)), buf)
    storage.remove_prefix(_salt_map_dir(out_dir))
    storage.put_bytes(os.path.join(_salt_map_dir(out_dir),
                                   "salt-map.parquet"), buf.getvalue())
    return rows


def load_salt_map(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The persisted salt map, read driver-side (no Spark job), or None.
    Every parquet object under the salt-map prefix is read, so maps an
    older version wrote as a Spark parquet directory load too."""
    import pyarrow.parquet as _pq

    keys = [k for k in storage.list_prefix(_salt_map_dir(out_dir))
            if k.endswith(".parquet")]
    if not keys:
        return None
    return spark.createDataFrame(pa.concat_tables(
        [_pq.read_table(pa.BufferReader(storage.get_bytes(k)))
         for k in keys]))


def lineage_row_groups(out_dir: str, cols: list[str] | None = None,
                       ts_range: tuple[int, int] | None = None,
                       seek_stats: dict | None = None):
    """THE lineage reader: every lineage read (read_lineage, the pruning
    pass, the metadata decisions) is one driver-local pass through it,
    the single-node analog of the reference's keyed mdbx range cursor
    (db/mod.rs:217-305). Lineage holds one row per PARTITION (about
    10^6 rows at 10^12 docs), so no Spark job is needed.

    Returns None when the table has no lineage directory (a brand-new
    table, or a static hand-built dir whose listing IS the membership);
    otherwise an iterator of one table per lineage parquet row group,
    with columns `cols` (default: all of LINEAGE_SCHEMA) of their
    declared types (`_conform`). An interrupted vacuum/rollback/
    compaction swap is healed first, and object-store lineage is
    fetched to a local cache.

    Seek: lineage is written sorted by ``min_warc_ts`` (per batch/epoch
    object, globally after a swap), so each row group's statistics
    bound the partitions it describes. With `ts_range` (lo_us, hi_us) a
    row group is skipped only when EVERY row fails the ts test —
    min-of-min_warc_ts ≥ hi or max-of-max_warc_ts < lo; row groups with
    null stats or null ts rows are always read. `seek_stats`, when
    given, is filled with {"rg_total", "rg_read"} counters."""
    import glob

    import pyarrow.parquet as pq

    def _us(v):  # parquet timestamp stats arrive as datetime (tz or not)
        if not hasattr(v, "timestamp"):
            return float(v)
        import datetime as _dt
        return v.replace(tzinfo=v.tzinfo or _dt.timezone.utc) \
            .timestamp() * 1e6

    def _row_groups(files, cols):
        for fp in files:
            pf = pq.ParquetFile(fp)
            md = pf.metadata
            names = [md.schema.column(j).path for j in range(md.num_columns)]
            ci = [names.index(c) if c in names else None
                  for c in ("min_warc_ts", "max_warc_ts")]
            for rg in range(md.num_row_groups):
                if seek_stats is not None:
                    seek_stats["rg_total"] += 1
                if ts_range is not None and None not in ci:
                    s_lo, s_hi = (md.row_group(rg).column(j).statistics
                                  for j in ci)
                    if (s_lo is not None and s_hi is not None
                            and s_lo.has_min_max and s_hi.has_min_max
                            and not s_lo.null_count and not s_hi.null_count
                            and (_us(s_lo.min) >= ts_range[1]
                                 or _us(s_hi.max) < ts_range[0])):
                        continue  # no partition in this row group survives
                if seek_stats is not None:
                    seek_stats["rg_read"] += 1
                yield _conform(pf.read_row_group(
                    rg, columns=[c for c in cols if c in names]), cols)

    recover_lineage_swap(out_dir)  # complete any interrupted swap first
    ldir = lineage_dir(out_dir)
    if not storage.dir_exists(ldir):
        return None
    if seek_stats is not None:
        seek_stats.setdefault("rg_total", 0)
        seek_stats.setdefault("rg_read", 0)
    return _row_groups(
        sorted(glob.glob(os.path.join(storage.localize_dir(ldir),
                                      "*.parquet"))),
        cols or LINEAGE_SCHEMA.names)


def lineage_table(out_dir: str, cols: list[str] | None = None
                  ) -> pa.Table | None:
    """Every lineage row (columns `cols`, default all) as one local
    table; None when the table has no lineage directory."""
    rgs = lineage_row_groups(out_dir, cols)
    if rgs is None:
        return None
    cols = cols or LINEAGE_SCHEMA.names
    return pa.concat_tables([LINEAGE_SCHEMA.empty_table().select(cols),
                             *rgs])


def attempt_order(committed_at: float | None, attempt_id: str | None,
                  as_of: float | None = None) -> tuple | None:
    """THE latest-attempt rule, as the order key of one lineage row
    (higher is newer): ``committed_at`` desc with nulls last, then
    ``attempt_id`` desc; None when the row is outside the `as_of`
    snapshot (committed after it, or never: a null commit time)."""
    if as_of is not None and (committed_at is None or committed_at > as_of):
        return None
    return (committed_at is not None, committed_at or 0.0,
            attempt_id is not None, attempt_id or "")


def newest_attempts(t: pa.Table, as_of: float | None = None,
                    seen: dict | None = None) -> dict[int, int]:
    """{partition_id: row index in `t`} of each partition's newest
    attempt by `attempt_order`. `seen` (partition_id → order key) carries
    the winners of earlier row groups across calls, so a streamed pass
    folds one row group at a time; a partition whose winner so far is
    newer than all its rows in `t` is absent from the result. Equal keys
    resolve to the later row."""
    seen = {} if seen is None else seen
    out: dict[int, int] = {}
    for i, (pid, committed, attempt) in enumerate(zip(
            t["partition_id"].to_pylist(), t["committed_at"].to_pylist(),
            t["attempt_id"].to_pylist())):
        key = attempt_order(committed, attempt, as_of)
        if key is None or (pid in seen and key < seen[pid]):
            continue
        seen[pid] = key
        out[pid] = i
    return out


def latest_lineage(t: pa.Table, as_of: float | None = None) -> pa.Table:
    """The rows of `t` that are their partition's newest attempt."""
    return t.take(pa.array(sorted(newest_attempts(t, as_of).values()),
                           pa.int64()))


def read_lineage(spark: SparkSession, out_dir: str,
                 latest: bool = False,
                 as_of: float | None = None) -> DataFrame | None:
    """The lineage table as a DataFrame (LINEAGE_DDL), or None when the
    table has no lineage directory. `latest=True` keeps only the newest
    attempt per partition_id (`attempt_order`: re-encodes, late data,
    merges and deletes supersede their predecessors), so aggregates
    never double-count a partition.

    `as_of` (unix seconds) restricts to attempts committed at or before
    that instant — with `latest=True` this is the snapshot view of the
    table as of that time (Iceberg time-travel semantics, native on the
    lineage table; usable for reads when the table was encoded with
    ``EngineConfig.retain_superseded=True`` so superseded part files
    still exist).

    The rows are read driver-side (lineage_row_groups) when called and
    handed to Spark as a local relation: no Spark job runs here."""
    t = lineage_table(out_dir)
    if t is None:
        return None
    if latest:
        t = latest_lineage(t, as_of)
    elif as_of is not None:
        t = t.filter(pa.array(
            [attempt_order(c, None, as_of) is not None
             for c in t["committed_at"].to_pylist()], pa.bool_()))
    return spark.createDataFrame(t, LINEAGE_DDL)


def _kernel_name_fmt(cfg: EngineConfig, attempt: str, out_dir: str) -> str:
    """Part-file namespace for one encode attempt. With
    ``retain_superseded`` every attempt gets its own file names (the pid
    stays the trailing integer so paging cursors keep working) and the
    table is marked snapshot-retaining BEFORE the attempt's first file
    can land (readers must already be lineage-resolved by then);
    otherwise attempts overwrite the canonical per-pid name atomically."""
    if not cfg.retain_superseded:
        return "part-{pid:06d}.skar"
    # marking is part of the commit protocol, not mere naming: a marked
    # table whose retain encode then fails only costs readers the
    # directory-listing fast path — the safe direction to err
    mark_retained(out_dir)
    return f"part-a{attempt}-{{pid:06d}}.skar"


def _retain_marker(out_dir: str) -> str:
    return os.path.join(_meta_dir(out_dir), "retain")


def mark_retained(out_dir: str) -> None:
    storage.makedirs(_meta_dir(out_dir))
    storage.put_bytes(_retain_marker(out_dir), b"retain_superseded\n")


def is_retained(out_dir: str) -> bool:
    """True if any attempt on this table retained superseded part files
    (readers must then resolve the file set through lineage, never the
    raw directory listing)."""
    return storage.exists(_retain_marker(out_dir))


def snapshots(spark: SparkSession, out_dir: str) -> DataFrame:
    """Snapshot log: one row per encode attempt (the Iceberg snapshot
    list analog, derived from lineage rather than separate metadata
    files). Partitions of one attempt commit at different instants, so
    the CONSISTENT anchor for time travel is `last_committed_at`: pass
    any time ≥ it (and < the next attempt's first commit) to
    ``scan(as_of=...)`` / ``read_lineage(as_of=...)`` to read that
    attempt's complete snapshot; an as_of between `committed_at` and
    `last_committed_at` is a mid-commit instant and yields the torn
    view that really existed then."""
    lin = read_lineage(spark, out_dir)
    if lin is None:
        raise FileNotFoundError(f"no lineage under {out_dir}")
    return (lin.groupBy("attempt_id")
            .agg(F.min("committed_at").alias("committed_at"),
                 F.max("committed_at").alias("last_committed_at"),
                 F.count("*").alias("n_partitions"),
                 F.sum("row_count").alias("row_count"))
            .orderBy("committed_at"))


def vacuum(spark: SparkSession, out_dir: str) -> list[str]:
    """Expire superseded snapshots (the Iceberg ``expire_snapshots`` +
    ``remove_orphan_files`` analog): rewrite the lineage table to the
    latest committed attempt per partition and delete part files no
    snapshot references any more. Returns the deleted file paths.
    Time-travel to commits older than each partition's latest attempt is
    no longer possible afterwards; the current view is untouched. Files
    in the parts directory that lineage never recorded are left alone.

    Driver-local: lineage is read once (lineage_table) and rewritten
    by ``_swap_lineage`` with no Spark job. Crash safety: the swap is a
    temp-dir + two-rename protocol; a crash between the renames is
    healed on the next read by ``recover_lineage_swap`` (roll forward to
    the fully-written new copy), so lineage is readable at every
    interruption point. A crash before the file deletes below leaves
    superseded files on disk as unreferenced orphans — never read
    (lineage is the membership source of truth); they cost disk space
    only."""
    storage.require_posix(out_dir, "vacuum")
    lin = lineage_table(out_dir)
    if lin is None:
        return []
    latest = latest_lineage(lin)
    dead = sorted(set(lin["file"].to_pylist())
                  - set(latest["file"].to_pylist()))
    _swap_lineage(out_dir, latest, _SWAP_SUFFIXES[0])
    for f in dead:
        try:
            os.remove(f)
        except FileNotFoundError:
            pass
    return dead


def completed_part_ids(spark: SparkSession, out_dir: str) -> set[int]:
    lin = lineage_table(out_dir, ["partition_id", "status"])
    if lin is None:
        return set()
    return {p for p, st in zip(lin["partition_id"].to_pylist(),
                               lin["status"].to_pylist())
            if st == "committed"}


def append_documents(spark: SparkSession, df: DataFrame, out_dir: str,
                     cfg: EngineConfig = DEFAULT,
                     parts: int | None = None) -> int:
    """One-shot COMMITTED append of new rows to an existing table — the
    batch mirror of one streaming epoch (same plan → encode kernel →
    driver-side lineage commit path): the new rows are planned alone,
    encoded above the table's part-id high-water (including the
    compaction marker's, so appends after hot→cold consolidation never
    collide), and their lineage lands in one sorted parquet PUT.
    Existing parts and lineage rows are untouched, so each append is a
    clean change-feed increment for ``decode.scan_changes``. Returns
    the number of parts appended.

    Unlike ``encode_documents(resume=True)`` (which FINISHES a planned
    table), append re-plans from the increment's own stats: partition
    count and heavy-host salting derive from the new rows only — at
    10^12-doc table sizes the increment must never pay a planning pass
    over history."""
    import uuid as _uuid

    from skar_spark.engine.compact import compaction_high_water

    lin = lineage_table(out_dir, ["partition_id"])
    if lin is None:
        raise FileNotFoundError(
            f"{out_dir} has no lineage; append_documents requires an "
            "existing committed table (encode_documents does the first "
            "load)")
    meta = load_plan_meta(out_dir)
    if meta and meta.get("scheme") == "day_hash":
        # a day_hash table's partition ids are a pure function of
        # (day(warc_ts), host bucket) — delete_rows/reencode_late locate
        # partitions by recomputing it. Hash-planned appended parts
        # would break that invariant silently; late data on day_hash
        # tables goes through reencode_late instead.
        raise ValueError(
            "append_documents supports hash-scheme tables only; "
            "day_hash tables take late data via reencode_late")
    mx = pc.max(lin["partition_id"]).as_py() or 0
    base = max(mx, int(compaction_high_water(out_dir) or 0)) + 1
    if parts is None:
        n = df.count()
        if n == 0:
            return 0  # empty increment: no parts, no lineage batch
        parts = max(1, -(-n // cfg.target_partition_rows))
    if base + parts >= 2 ** 31:
        raise OverflowError(
            f"append would exceed the int32 part-id namespace at base "
            f"{base}; rotate out_dir or widen partition_id to long")
    planned = plan_partitions(df, parts, cfg)
    planned = planned.withColumn(
        "part_id", (F.col("part_id") + F.lit(base)).cast("int"))
    tag = _uuid.uuid4().hex[:8]
    footers = encode_footers(planned, list(range(base, base + parts)),
                             out_dir, cfg, f"append-{tag}",
                             f"part-x{tag}-{{pid:09d}}.skar")
    return append_lineage_rows(footers, out_dir)


def encode_documents(spark: SparkSession, df: DataFrame, out_dir: str,
                     cfg: EngineConfig = DEFAULT,
                     num_parts: int | None = None,
                     n_rows: int | None = None,
                     resume: bool = False,
                     max_batches: int | None = None,
                     scheme: str = "hash",
                     verify: bool = False) -> DataFrame:
    """Run the encode job; returns the lineage DataFrame (latest attempt
    per partition).

    The driver loops over part-id batches of `cfg.batch_partitions`,
    committing the lineage append per batch — the checkpoint granularity
    (mirror of the reference's per-folder flush+index commit,
    skar_runner.rs:285-353). `max_batches` lets tests kill the job
    mid-way to exercise resume.

    `verify=True` with resume re-reads every previously-committed part
    file and checks its content checksum against lineage before trusting
    it (mirror of validate_parquet.rs:17-66 at skar_runner.rs:309-312);
    corrupt parts are re-encoded and their lineage rows superseded.
    """
    # fail-fast BEFORE any write into out_dir: a non-resume rerun into a
    # committed table must not clobber the persisted salt map / plan.json
    # (replan state) with values computed from the NEW input — a later
    # resume/rollback would replan with wrong partition membership
    if not resume and lineage_row_groups(out_dir) is not None:
        raise FileExistsError(
            f"{out_dir} already has lineage; pass resume=True to "
            "continue it, or clear the directory for a fresh encode")
    if resume:
        from skar_spark.engine.compact import assert_not_compacted
        assert_not_compacted(out_dir, "encode resume")
    storage.makedirs(os.path.join(out_dir, "parts"))
    host_counts = None
    day_meta = None
    if scheme == "day_hash":
        pass  # planned below, after the salt map exists
    elif num_parts is None:
        if n_rows is None:
            # one pass serves both: total rows for partition planning AND
            # the per-host (count, bytes) stats salting needs
            host_counts = host_stats(with_host(df)).cache()
            n_rows = host_counts.agg(
                F.sum("count").alias("n")).collect()[0].n or 0
        num_parts = max(1, -(-n_rows // cfg.target_partition_rows))

    # straggler control (measured on the 300k-doc bench): the salt
    # threshold must track the actual partition size — a threshold far
    # above rows/num_parts lets one salted heavy-host chunk dominate a
    # task (worst task 12.9s vs 3.6s avg before)
    if n_rows is not None and scheme != "day_hash":
        # a QUARTER of the average partition size (r6; was half): on a
        # Zipf host distribution several hosts just under a half-size
        # threshold can clump into one partition (measured 54 MB max vs
        # 32 MB median part, a 3× encode-task straggler); quarter-size
        # chunks all enter the deterministic bin-packing and the part
        # profile flattens (46 MB max, worst task 5.6 s → 3.7 s) for
        # +0.15% encoded bytes (split hosts lose cross-chunk locality)
        eff_thr = min(cfg.salt_threshold_rows,
                      max(500, n_rows // max(num_parts, 1) // 4))
        if eff_thr != cfg.salt_threshold_rows:
            import dataclasses
            cfg = dataclasses.replace(cfg, salt_threshold_rows=eff_thr)
    elif scheme == "day_hash":
        import dataclasses
        cfg = dataclasses.replace(
            cfg, salt_threshold_rows=min(
                cfg.salt_threshold_rows,
                max(500, cfg.target_partition_rows // 2)))
    import sys
    t_plan0 = time.time()
    # the salt map + scheme parameters are PERSISTED so resume and
    # late-data rollback replan with identical partition membership even
    # if the input's host distribution has drifted
    sm = load_salt_map(spark, out_dir) if resume else None
    sm_rows = None
    stored_meta = load_plan_meta(out_dir) if resume else None
    if sm is None:
        # cache the host stats: salt_map both aggregates them (global
        # avg row bytes) and filters them, and the save below would
        # otherwise recompute the full scan a second time
        own_stats = host_counts is None
        if own_stats:
            host_counts = host_stats(with_host(df)).cache()
        sm_rows = save_salt_map(spark, out_dir,
                                salt_map(with_host(df), cfg, host_counts))
        if own_stats:
            host_counts.unpersist()
            host_counts = None
        sm = spark.createDataFrame(sm_rows, SALT_MAP_DDL)
    if stored_meta and scheme != "day_hash":
        num_parts = stored_meta["num_parts"]
    if scheme == "day_hash":
        fixed = None
        if stored_meta and stored_meta.get("d0"):
            import datetime as _dt
            fixed = (_dt.date.fromisoformat(stored_meta["d0"]),
                     stored_meta["buckets"], stored_meta["num_parts"])
        planned, num_parts, (d0, buckets, num_parts) = \
            plan_partitions_day_hash(df, cfg.target_partition_rows, cfg,
                                     fixed=fixed, salt=sm)
        day_meta = {"d0": d0.isoformat(), "buckets": buckets}
        loads: dict[int, int] | None = None
    else:
        # one packing pass serves both the part-id plan and the
        # largest-first exchange ordering (salt-map rows are metadata)
        loads = None
        packed = None
        if "chunk_bytes" in sm.columns:
            if sm_rows is None:
                sm_rows = sm.collect()
            packed, loads = _pack_heavy_chunks(
                sorted(sm_rows, key=lambda r: r.host), num_parts)
        planned = plan_partitions(df, num_parts, cfg, host_counts,
                                  salt=sm, packed=packed)
    if stored_meta is None:
        save_plan_meta(out_dir, {
            "scheme": scheme, "num_parts": num_parts,
            "salt_threshold_rows": cfg.salt_threshold_rows,
            "target_partition_rows": cfg.target_partition_rows,
            **(day_meta or {})})
    if resume:
        done = completed_part_ids(spark, out_dir)
        if verify and done:
            from skar_spark.engine.decode import validate_output
            bad = {r.partition_id for r in
                   validate_output(spark, out_dir)
                   .filter(~F.col("ok")).select("partition_id").collect()}
            if bad:
                print(f"[encode] verify: re-encoding {len(bad)} corrupt "
                      f"partition(s): {sorted(bad)[:20]}",
                      file=__import__("sys").stderr)
            done -= bad
    else:
        done = set()  # fresh-encode guard ran at function entry
    attempt = uuid.uuid4().hex[:12]
    print(f"[encode] plan: {time.time() - t_plan0:.1f}s "
          f"(num_parts={num_parts})", file=sys.stderr)

    n_batches = max(1, -(-num_parts // cfg.batch_partitions))
    ran = 0
    for b in range(n_batches):
        lo, hi = b * cfg.batch_partitions, (b + 1) * cfg.batch_partitions
        batch_ids = [p for p in range(lo, min(hi, num_parts))
                     if p not in done]
        if not batch_ids:
            continue
        if max_batches is not None and ran >= max_batches:
            break
        sub = planned.filter(
            (F.col("part_id") >= lo) & (F.col("part_id") < hi))
        if done:
            sub = sub.filter(~F.col("part_id").isin(
                [p for p in range(lo, min(hi, num_parts)) if p in done]))
        t_b0 = time.time()
        footers = encode_footers(sub, batch_ids, out_dir, cfg, attempt,
                                 _kernel_name_fmt(cfg, attempt, out_dir),
                                 loads)
        # lineage is written SORTED by min_warc_ts (one file per batch):
        # parquet row-group stats then become a zone-map index over the
        # index itself, and the local pruner seeks instead of streaming
        # every row (lineage_row_groups — the analog of the
        # reference's keyed mdbx range cursor, db/mod.rs:217-305).
        # Committed driver-side (collect + one PUT): see
        # append_lineage_rows for why a Spark write job here would be a
        # per-batch serial barrier the scaling ratio pays for.
        append_lineage_rows(footers, out_dir)
        print(f"[encode] batch {b}: {time.time() - t_b0:.1f}s "
              f"({len(batch_ids)} parts)", file=sys.stderr)
        ran += 1

    if host_counts is not None:
        host_counts.unpersist()
    lin = read_lineage(spark, out_dir, latest=True)
    assert lin is not None, "encode produced no lineage"
    return lin


def _assert_no_appended_parts(out_dir: str, op: str,
                              meta: dict | None = None) -> None:
    """Refuse row-level ops that locate partitions via the ORIGINAL
    stored plan when the table has appended partitions (ADVICE r05,
    high): append_documents plans its increment from its own stats
    above the pid high-water, so the stored url→partition function
    cannot see rows living in appended parts — merge would leave stale
    versions alive there and delete would silently miss them. Appended
    partitions are exactly the lineage pids at or above the stored
    plan's num_parts (appends start at max(pid)+1). `meta` lets callers
    that already loaded the plan metadata skip the duplicate GET."""
    if meta is None:
        meta = load_plan_meta(out_dir)
    lin = lineage_table(out_dir, ["partition_id"])
    if meta is None or lin is None:
        return  # the callers' own meta/lineage guards fire first
    mx = pc.max(lin["partition_id"]).as_py()
    if mx is not None and mx >= int(meta["num_parts"]):
        raise NotImplementedError(
            f"{op} requires a table without appended partitions: "
            f"lineage holds partition id {mx} >= the stored "
            f"plan's num_parts {int(meta['num_parts'])}, and appended "
            "rows were planned from their own stats, so the stored "
            "url->partition function cannot locate them. Compact and "
            "re-encode first (or apply corrections before appending).")


def _replan_with_stored(spark: SparkSession, df: DataFrame, out_dir: str,
                        cfg: EngineConfig) -> tuple[DataFrame, dict]:
    """Replan `df` with the PERSISTED salt map + scheme parameters so
    partition membership is identical to the original encode."""
    meta = load_plan_meta(out_dir)
    if meta is None:
        raise FileNotFoundError(f"no plan metadata under {out_dir}")
    sm = load_salt_map(spark, out_dir)
    if sm is None:
        raise FileNotFoundError(f"no salt map under {out_dir}")
    if meta["scheme"] == "day_hash":
        import datetime as _dt
        d0 = _dt.date.fromisoformat(meta["d0"])
        planned, _n, _m = plan_partitions_day_hash(
            df, meta["target_partition_rows"], cfg,
            fixed=(d0, meta["buckets"], meta["num_parts"]), salt=sm)
    else:
        planned = plan_partitions(df, meta["num_parts"], cfg, salt=sm)
    return planned, meta


def reencode_late(spark: SparkSession, full_df: DataFrame,
                  late_df: DataFrame, out_dir: str,
                  cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Late-data rollback: re-encode exactly the partitions the late rows
    land in — the executable mirror of the reference's reorg walk-back +
    refetch (skar/src/skar_runner.rs:160-232).

    `full_df` is the corrected complete dataset (original + late rows);
    `late_df` is just the late rows. Partition membership is replanned
    from the PERSISTED salt map + scheme parameters, so unaffected
    partitions keep byte-identical content and are not touched. Affected
    part files are atomically overwritten and their lineage rows
    superseded by `committed_at` (readers using the latest view never
    see a partition twice). With ``cfg.retain_superseded`` the previous
    attempt's files are kept instead, so the pre-rollback snapshot stays
    readable via ``scan(as_of=...)`` until ``vacuum``.

    Late rows that precede the table's day-range start are rejected —
    the analog of the reference's bounded rollback depth
    (skar/src/config.rs:8-9): extending the range backwards would shift
    every day-partition id.
    """
    import sys

    from skar_spark.engine.compact import assert_not_compacted
    assert_not_compacted(out_dir, "late-data rollback")
    _assert_no_appended_parts(out_dir, "reencode_late")
    planned_late, meta = _replan_with_stored(spark, late_df, out_dir, cfg)
    if meta["scheme"] == "day_hash":
        n_before = planned_late.filter(F.col("part_id") < 0).count()
        if n_before:
            raise ValueError(
                f"{n_before} late row(s) precede the table's day-range "
                f"start {meta['d0']} — beyond the rollback bound")
    affected = [r.part_id for r in
                planned_late.select("part_id").distinct().collect()]
    if not affected:
        return read_lineage(spark, out_dir, latest=True)
    print(f"[reencode_late] rolling back {len(affected)} partition(s): "
          f"{sorted(affected)[:20]}", file=sys.stderr)

    planned_full, _ = _replan_with_stored(spark, full_df, out_dir, cfg)
    sub = planned_full.filter(F.col("part_id").isin(affected))
    attempt = "late-" + uuid.uuid4().hex[:8]
    footers = encode_footers(sub, affected, out_dir, cfg, attempt,
                             _kernel_name_fmt(cfg, attempt, out_dir))
    append_lineage_rows(footers, out_dir)
    return read_lineage(spark, out_dir, latest=True)


def _rewrite_partitions(spark: SparkSession, out_dir: str,
                        cfg: EngineConfig, affected: list[int],
                        corrected: DataFrame, tag: str) -> DataFrame:
    """Copy-on-write rewrite of exactly `affected` partitions.

    `corrected` must already BE the full corrected content of those
    partitions (and only those). Each affected partition is re-encoded
    under a fresh attempt id and its lineage row superseded by
    `committed_at` — the same per-partition atomic switch as
    reencode_late. A partition whose corrected content is EMPTY (all
    rows deleted) still gets a new part file — a zero-row part (the
    format writes one empty row group) — so the supersede is uniform
    and readers never resurrect the old rows.
    """
    planned, _ = _replan_with_stored(spark, corrected, out_dir, cfg)
    sub = planned.filter(F.col("part_id").isin(affected))
    attempt = f"{tag}-{uuid.uuid4().hex[:8]}"
    name_fmt = _kernel_name_fmt(cfg, attempt, out_dir)
    footers = encode_footers(sub, affected, out_dir, cfg, attempt, name_fmt)
    # only part_ids that HAVE rows reach a kernel task: partitions
    # emptied by a delete never do, so their zero-row parts are written
    # driver-side (metadata-scale: one small file per emptied pid)
    nonempty = {r.part_id for r in
                sub.select("part_id").distinct().collect()}
    emptied = sorted(set(affected) - nonempty)
    append_lineage_rows(footers, out_dir)
    if emptied:
        erows = [_empty_part_footer(out_dir, cfg, attempt, pid, name_fmt)
                 for pid in emptied]  # per-emptied-partition (metadata)
        append_lineage_rows(
            spark.createDataFrame(erows, FOOTER_DDL), out_dir)
    return read_lineage(spark, out_dir, latest=True)


def _empty_part_footer(out_dir: str, cfg: EngineConfig, attempt: str,
                       pid: int, name_fmt: str) -> tuple:
    """Write a zero-row part file for an emptied partition and return
    its FOOTER_DDL-shaped lineage row (driver-side twin of
    _encode_kernel for the n=0 case)."""
    import time as _time

    from skar_spark.codecs.framing import type_from_code
    from skar_spark.engine.schema_evo import table_schema

    t0 = _time.time()
    tcols, ttypes = table_schema(out_dir)
    body = pa.table(
        {c: pa.nulls(0, type_from_code(ttypes[c])) for c in tcols}
        | {"_host": pa.nulls(0, pa.string())})
    path = os.path.join(out_dir, "parts", name_fmt.format(pid=pid))
    stats = write_part_file(path, body, cfg)
    return (pid, attempt, "committed", 0, stats["codec_choices"],
            stats["bytes_in"], stats["bytes_out"], None, None, 0,
            stats["n_row_groups"],
            partition_host_bloom(pa.chunked_array([[]], pa.string())),
            None, partition_checksum(body), 0.0, stats["encode_sec"],
            round(_time.time() - t0, 3), path, _time.time(),
            stats["schema_json"], stats["col_stats"])


def merge_updates(spark: SparkSession, updates_df: DataFrame,
                  out_dir: str, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """MERGE (upsert by url) — Iceberg-style row-level update as
    copy-on-write at partition granularity; the engine analog of the
    reference's rewrite-on-reorg (skar_runner.rs:160-232 walks back and
    re-writes exactly the affected folders, never the table).

    A url's partition is a pure function of the url: host bucket via
    the PERSISTED salt map + plan (`_replan_with_stored`). So an
    upserted row lands in the same partition that holds its previous
    version, and the rewrite set is exactly the partitions the updates
    plan into — located from plan metadata, without scanning the table.
    Those partitions are decoded (partition-targeted scan), previous
    versions of the updated urls anti-joined out, the updates unioned
    in, and just those partitions re-encoded under a fresh attempt;
    lineage supersede-by-latest flips each partition atomically. At
    10^12-doc scale a p-partition upsert therefore costs O(p) partition
    rewrites, not a table rewrite.

    New urls INSERT into their planned partition; columns the table
    does not yet have trigger add-column schema evolution at commit
    (engine/schema_evo.py), with pre-existing rows null-filled; columns
    the updates omit are null-filled on the updated rows. Duplicate
    urls within one updates batch are rejected (latest-wins would be
    order-dependent inside a single batch).

    With ``cfg.retain_superseded`` the pre-merge snapshot stays
    readable via ``scan(as_of=...)`` until ``vacuum`` — time travel
    across a merge.
    """
    from skar_spark.engine.compact import assert_not_compacted
    from skar_spark.engine.decode import scan

    assert_not_compacted(out_dir, "merge")
    if (updates_df.groupBy("url").count()
            .filter(F.col("count") > 1).limit(1).count()):
        raise ValueError("updates contain duplicate urls — resolve "
                         "latest-wins upstream (one row per url)")
    meta = load_plan_meta(out_dir)
    if meta is None:
        # streamed tables plan per epoch (no stored url→partition
        # function), so the rewrite set cannot be located from metadata
        raise NotImplementedError(
            "merge_updates requires a batch-encoded table with stored "
            "plan metadata; streamed tables have per-epoch plans — "
            "compact first, then re-encode, or use reencode_late")
    if meta.get("scheme") == "day_hash":
        # day_hash partitions are a function of (day(warc_ts), host):
        # an update that moves a url's day would leave the OLD version
        # alive in a partition the update never plans into. Upsert-by-
        # url needs the hash scheme's url→partition pure function (or a
        # url→partition index, which the engine does not keep).
        raise NotImplementedError(
            "merge_updates requires the hash partition scheme; on a "
            "day_hash table use reencode_late with the corrected "
            "full dataset")
    _assert_no_appended_parts(out_dir, "merge_updates", meta)
    planned_upd, _meta = _replan_with_stored(spark, updates_df, out_dir,
                                             cfg)
    affected = [r.part_id for r in
                planned_upd.select("part_id").distinct().collect()]
    if not affected:
        return read_lineage(spark, out_dir, latest=True)
    existing = scan(spark, out_dir, part_ids=set(affected))
    keep = existing.join(updates_df.select("url").distinct(),
                         "url", "left_anti")
    corrected = keep.unionByName(updates_df, allowMissingColumns=True)
    return _rewrite_partitions(spark, out_dir, cfg, affected, corrected,
                               "merge")


def delete_rows(spark: SparkSession, urls_df: DataFrame, out_dir: str,
                cfg: EngineConfig = DEFAULT) -> DataFrame:
    """DELETE by url set — the curation-pipeline primitive (drop
    policy-violating / deduplicated documents from an encoded table)
    as copy-on-write at partition granularity, same machinery as
    merge_updates. `urls_df` needs one column: url. Partitions that
    lose ALL rows are superseded by a zero-row part, so readers (scan,
    paged scan, DataSource) see the deletion without special cases.
    """
    from skar_spark.engine.compact import assert_not_compacted
    from skar_spark.engine.decode import scan

    assert_not_compacted(out_dir, "delete")
    meta = load_plan_meta(out_dir)
    if meta is None:
        raise NotImplementedError(
            "delete_rows requires a batch-encoded table with stored "
            "plan metadata; streamed tables have per-epoch plans — "
            "compact first, then re-encode, or use reencode_late")
    if meta.get("scheme") == "day_hash":
        raise NotImplementedError(
            "delete_rows requires the hash partition scheme (day_hash "
            "partition membership depends on warc_ts, which a url set "
            "does not carry)")
    _assert_no_appended_parts(out_dir, "delete_rows", meta)
    planned_del, _meta = _replan_with_stored(
        spark, urls_df.select("url"), out_dir, cfg)
    affected = [r.part_id for r in
                planned_del.select("part_id").distinct().collect()]
    if not affected:
        return read_lineage(spark, out_dir, latest=True)
    existing = scan(spark, out_dir, part_ids=set(affected))
    keep = existing.join(urls_df.select("url").distinct(),
                         "url", "left_anti")
    return _rewrite_partitions(spark, out_dir, cfg, affected, keep,
                               "delete")


def rollback(spark: SparkSession, out_dir: str, as_of: float,
             delete_files: bool = True) -> DataFrame:
    """Snapshot ROLLBACK — revert the table to its state as of `as_of`
    (Iceberg ``rollback_to_timestamp``; the engine analog of the
    reference's reorg walk-back, skar_runner.rs:160-232, for the whole
    table instead of a folder range).

    Metadata-only: the lineage table is atomically rewritten to the rows
    committed at or before `as_of`; no part is decoded or re-encoded, so
    rolling back a 10^12-doc table costs one lineage rewrite. Undone
    attempts' part files are deleted afterwards (`delete_files=False`
    keeps them as unreferenced orphans — they are not reachable through
    any snapshot once their lineage rows are gone, and `vacuum` does not
    touch files lineage never mentions).

    Safety: refused unless every kept lineage row's part file is
    untouched by the undone attempts — true for ``retain_superseded``
    tables (each attempt writes its own file names) and for streamed
    epochs (injective per-epoch namespace), but NOT for default batch
    tables, where a later attempt overwrites the canonical per-pid file
    in place. The guard is exact (file-set intersection), not a flag
    check. Compacted tables are refused (the pid high-water marker can't
    be unwound). A streamed table rolled back across epochs also needs
    its stream checkpoint removed before the stream may continue —
    otherwise the source resumes past data the table no longer has.

    Schema: the merged table schema is recomputed from the kept parts'
    footers, so columns introduced after `as_of` disappear from reads
    (one footer read per partition — an admin op, metadata-scale).

    Driver-local like vacuum: one lineage read, the kept/dropped/overlap
    checks on that local table, and the same ``_swap_lineage`` rewrite
    (vacuum's suffix pair).
    """
    from skar_spark.engine.compact import assert_not_compacted
    from skar_spark.engine.partfile import read_footer
    from skar_spark.engine.schema_evo import (load_table_schema,
                                              merge_schema,
                                              replace_table_schema)

    storage.require_posix(out_dir, "rollback")
    assert_not_compacted(out_dir, "rollback")
    lin = lineage_table(out_dir)
    if lin is None:
        raise FileNotFoundError(f"no lineage under {out_dir}")
    # rows committed after as_of are undone (their files deleted); a row
    # with no commit time is neither kept nor undone: the rewrite drops
    # it and leaves its file
    committed = lin["committed_at"].to_pylist()
    in_snap = [attempt_order(c, None, as_of) is not None for c in committed]
    kept = lin.filter(pa.array(in_snap, pa.bool_()))
    dead = {f for f, c, k in zip(lin["file"].to_pylist(), committed, in_snap)
            if c is not None and not k}
    if not dead:
        return read_lineage(spark, out_dir, latest=True)
    if kept.num_rows == 0:
        raise ValueError(f"rollback to {as_of} precedes the table's "
                         "first commit")
    if dead & set(kept["file"].to_pylist()):
        raise ValueError(
            "rollback impossible: post-as_of attempts overwrote kept "
            "part files in place (the table was not encoded with "
            "retain_superseded, so the pre-rollback bytes are gone)")
    _swap_lineage(out_dir, kept, _SWAP_SUFFIXES[0])

    if load_table_schema(out_dir) is not None:
        cols: list[str] | None = None
        types: dict[str, str] = {}
        # one footer per PARTITION (metadata-scale admin loop)
        for f in latest_lineage(kept)["file"].to_pylist():
            fo = read_footer(f)
            if cols is None:
                cols, types = list(fo["columns"]), dict(fo["schema"])
            else:
                cols, types = merge_schema(cols, types, fo["columns"],
                                           fo["schema"])
        if cols is not None:
            replace_table_schema(out_dir, cols, types)

    if delete_files:
        for f in dead:  # undone attempts' files (metadata-scale)
            try:
                os.remove(f)
            except FileNotFoundError:
                pass
    return read_lineage(spark, out_dir, latest=True)
