"""The Spark encode job — the engine's write path.

Pipeline (the Spark realization of the reference's ingest→encode→index
path, SURVEY §3 entry point 2; reference pipeline at
skar/src/skar_runner.rs:285-353 + write_parquet.rs + build_parquet_idx.rs):

    documents df
      → derive host (substring of url; the skew key — analog of skar's
        address/topic0 skew, SURVEY §1.3)
      → plan: ONE action (plan_salt) — rollup("host") of rows, bytes
        and day range, its grand total and at most 2K+1 heavy-host
        candidates collected (K = rows // threshold + 1); gives the
        totals (part count, day layout) and the exact heavy-host map
      → salt heavy hosts (rows or bytes over the threshold → split into
        enough salts that each chunk fits; broadcast the small map)
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

A one-part append or stream epoch skips salting and the shuffle: it is
collected once and encoded on the driver (encode_increment).

Resume: completed part_ids from the lineage table are anti-joined away
before the shuffle (mirror of db.next_block_num(), db/mod.rs:68-86).
Scale notes: the only global state is the lineage table (tiny — one row
per partition); everything else is per-partition. At 10^12 docs the same
plan holds: the planning rollup is a map-side-combined agg over a
low-cardinality key, its collect is bounded by rows / threshold (not by
the host count), the salt map broadcast is KBs, and the single shuffle
is on a uniform hashed key (salting bounds any partition's size).
"""

from __future__ import annotations

import contextlib
import math
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
    HOST_RE,
    SORT_KEYS,
    _derive_host,
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


FOOTER_SCHEMA = _arrow_schema(FOOTER_DDL)
LINEAGE_SCHEMA = _arrow_schema(LINEAGE_DDL)
# rows per lineage parquet row group: each group's min/max_warc_ts
# stats are one entry of the seek index (lineage_row_groups)
LINEAGE_ROW_GROUP_ROWS = 1024

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
    """Commit the lineage rows of one encode_footers dispatch: an encode
    batch, or an append or stream epoch that did not take the driver
    route (encode_increment: a one-part increment encodes on the driver
    and commits its footer row through _commit_footers).

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
    return _commit_footers(collect_footers(footers), out_dir)


def collect_footers(footers: "DataFrame") -> pa.Table:
    """Run an encode_footers dispatch and collect its footer rows: the
    exchange's map job and the kernel job, described as the encode
    phase (job_description)."""
    with job_description(footers.sparkSession,
                         "skar encode: exchange + kernel, footer collect"):
        return footers.toArrow()


def _commit_footers(t: pa.Table, out_dir: str) -> int:
    """Commit footer rows (FOOTER_DDL) as ONE lineage PUT — the commit
    of every writer (append_lineage_rows; encode_increment's driver
    route; _rewrite_partitions, which adds its emptied partitions' rows
    to the kernel's). Returns the number of rows committed."""
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
    """Derive the host column from url: partfile.HOST_RE as a JVM-side
    regexp (codegen'd)."""
    return df.withColumn("host", F.regexp_extract("url", HOST_RE, 1))


def _row_bytes():
    """A row's payload bytes: the planning measure of document size."""
    return sum(F.coalesce(F.octet_length(F.col(c)), F.lit(0))
               for c in ("url", "text", "html", "lang"))


@contextlib.contextmanager
def job_description(spark: SparkSession, phase: str):
    """Name the Spark jobs launched inside the block after their
    `phase` (the UI's and status API's job description), then restore
    the caller's description. Job groups are left alone: callers
    (tests, tracers) group jobs by them."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(phase)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


_TOTALS = ("n_rows", "n_bytes", "d0", "d1")


def _totals_aggs() -> list:
    """The plan totals as aggregates, named _TOTALS: rows, payload
    bytes (_row_bytes) and the day range of ``warc_ts``."""
    return [F.count("*").alias("n_rows"),
            F.sum(_row_bytes()).alias("n_bytes"),
            F.min(F.to_date("warc_ts")).alias("d0"),
            F.max(F.to_date("warc_ts")).alias("d1")]


def plan_totals(df: DataFrame) -> dict:
    """The totals of `df` (``n_rows``, ``n_bytes``, and the day range
    ``d0``/``d1`` of ``warc_ts``) as one ``df.agg``: the plan of a
    writer that needs the row count before it can pick its salt
    threshold (encode_documents without `n_rows`), and of appends and
    stream epochs, which route on it (encode_increment). Every other
    plan takes its totals from plan_salt's one action."""
    with job_description(df.sparkSession, "skar plan: totals"):
        return df.agg(*_totals_aggs()).collect()[0].asDict()


def parts_for(n_rows: int, cfg: EngineConfig) -> int:
    """THE partition count of `n_rows` rows, for encodes, increments
    and compaction: one part per ``cfg.target_partition_rows`` (rounded
    up), at least one — the reference's one flush threshold
    (max_file_size, skar_runner.rs:285-353)."""
    return max(1, -(-n_rows // cfg.target_partition_rows))


def _host_rollup(df: DataFrame, threshold_rows: int, k: int) -> list:
    """The rows of plan_salt's one action: ``rollup("host")`` of
    `df`'s _TOTALS (rows, payload bytes, day range), grand-total row
    first, then hosts above `threshold_rows` rows, then by bytes
    descending — at most 2k + 1 of them. Bytes matter as much as rows:
    web hosts skew in DOCUMENT SIZE too (a host of 10× average-length
    pages makes a 10×-CPU encode chunk at equal row count)."""
    roll = with_host(df).rollup("host").agg(
        *_totals_aggs(), F.grouping_id().alias("grand"))
    with job_description(df.sparkSession,
                         "skar plan: totals + heavy hosts"):
        return (roll.orderBy(F.col("grand").desc(),
                             (F.col("n_rows") > threshold_rows).desc(),
                             F.col("n_bytes").desc())
                .limit(2 * k + 1).collect())


def plan_salt(df: DataFrame, threshold_rows: int, n_rows: int | None = None,
              totals: dict | None = None) -> tuple[dict, pa.Table]:
    """THE planning action: `df`'s plan totals (the plan_totals dict)
    and its heavy-host map (SALT_MAP_DDL, sorted by host), from one
    Spark action.

    A host is heavy above `threshold_rows` T in ROWS or in BYTES (T
    times the average row size); it is split into enough salts that
    every chunk fits both bounds, and `chunk_bytes` (estimated bytes
    per salted chunk) drives the bin-packing of heavy chunks
    (plan_partitions). Fewer than N/T hosts can exceed either bound,
    so with K = N // T + 1 the 2K + 1 rows _host_rollup collects (the
    grand total, then heavy candidates first) hold every heavy host;
    the driver applies the bounds. N is the caller's row count: `n_rows`
    (a hint; stale or None is allowed) or the counted `totals`. When
    the action's own count needs a larger K, it runs once more with
    that count, so the map is always exact. Counted `totals` below T
    admit no heavy host (no host has more rows than the input, and the
    byte bound then exceeds the input's bytes): that case runs no job."""
    schema = _arrow_schema(SALT_MAP_DDL)
    if totals is not None:
        if totals["n_rows"] < threshold_rows:
            return totals, schema.empty_table()
        n_rows = totals["n_rows"]
    k = (n_rows or 0) // threshold_rows + 1
    rows = _host_rollup(df, threshold_rows, k)
    if rows and (need := rows[0]["n_rows"] // threshold_rows + 1) > k:
        rows = _host_rollup(df, threshold_rows, need)
    if not rows:  # an empty input has no groups, not even the grand total
        return dict.fromkeys(_TOTALS) | {"n_rows": 0}, schema.empty_table()
    totals = {c: rows[0][c] for c in _TOTALS}
    # the bounds in double arithmetic, as Spark SQL would evaluate them
    avg_row = (totals["n_bytes"] or 1) / max(totals["n_rows"] or 1, 1)
    thr_bytes = float(threshold_rows) * avg_row
    heavy = []
    for r in rows[1:]:
        count, size = r["n_rows"], float(r["n_bytes"])
        if count > threshold_rows or size > thr_bytes:
            n_salts = math.ceil(max(count / threshold_rows,
                                    size / thr_bytes))
            heavy.append({"host": r["host"], "n_salts": n_salts,
                          "chunk_bytes": int(size / n_salts)})
    return totals, pa.Table.from_pylist(heavy, schema).sort_by("host")


def _apply_salt(df: DataFrame, salt: pa.Table) -> DataFrame:
    """Attach ``salt`` = xxhash64(url) mod n_salts for the hosts of the
    heavy-host table `salt`, 0 otherwise, through ONE broadcast of it;
    its other columns but chunk_bytes (e.g. the packed ``_parts``) come
    along. An empty table needs no join."""
    if not salt.num_rows:
        return df.withColumn("salt", F.lit(0))
    heavy = df.sparkSession.createDataFrame(
        salt.select([c for c in salt.column_names if c != "chunk_bytes"]))
    df = df.join(F.broadcast(heavy), "host", "left")
    return df.withColumn(
        "salt",
        F.when(F.col("n_salts").isNotNull(),
               F.pmod(F.xxhash64("url"), F.col("n_salts")))
        .otherwise(F.lit(0)).cast("int")).drop("n_salts")


def plan_partitions_day_hash(df: DataFrame, salt: pa.Table,
                             layout: tuple) -> DataFrame:
    """Range × hash layout: part_id = (day(warc_ts) − d0) · B +
    bucket(host, salt) — the Iceberg `days(warc_ts) × bucket(url)`
    layout from SURVEY §1.3 (mirror of skar's block-range folders,
    which ARE its time-range partitions). Each partition covers one
    day, so lineage min/max warc_ts zone maps prune whole partitions
    for time-windowed scans — the capability the flat hash scheme
    lacks. `layout` is (d0, B, num_parts), from the plan totals or the
    stored plan; no Spark action runs here."""
    d0, buckets, _num_parts = layout
    df = _apply_salt(with_host(df), salt)
    day_idx = F.datediff(F.to_date("warc_ts"), F.lit(d0))
    return df.withColumn(
        "part_id",
        (day_idx * buckets
         + F.pmod(F.xxhash64("host", "salt"), F.lit(buckets)))
        .cast("int"))


def _pack_heavy_chunks(salt: pa.Table, num_parts: int
                       ) -> tuple[list[list[int]], dict[int, int]]:
    """Greedy bin-packing of the known heavy (host, salt) chunks across
    partitions: biggest chunk first into the least-loaded partition.
    Deterministic given the salt map (sort keys break ties by host), so
    resume/rollback replans place chunks identically. Returns (the part
    id of each salt, per row of `salt`; {part_id: packed_bytes}) — the
    load map feeds planned_exchange's largest-first task placement.
    Driver-side but METADATA-sized: one entry per heavy chunk, not per
    row — at 10^12 docs the salt map is KBs."""
    import heapq

    hosts = salt["host"].to_pylist()
    n_salts = salt["n_salts"].to_pylist()
    chunks = []  # (bytes, salt-map row, salt) per heavy chunk: metadata
    for i, per in enumerate(salt["chunk_bytes"].to_pylist()):
        chunks += [(per or 0, i, s) for s in range(n_salts[i])]
    chunks.sort(key=lambda c: (-c[0], hosts[c[1]], c[2]))
    heap = [(0, p) for p in range(num_parts)]  # (load, part_id)
    parts = [[0] * n for n in n_salts]
    loads: dict[int, int] = {}
    for per, i, s in chunks:
        load, p = heapq.heappop(heap)
        parts[i][s] = p
        loads[p] = load + per
        heapq.heappush(heap, (load + per, p))
    return parts, loads


def plan_partitions(df: DataFrame, num_parts: int,
                    cfg: EngineConfig = DEFAULT,
                    salt: pa.Table | None = None,
                    loads: dict | None = None) -> DataFrame:
    """Attach deterministic `part_id` with heavy-host salting.

    `salt` is the heavy-host table (plan_salt, or a persisted map);
    None derives it from `df` at ``cfg.salt_threshold_rows`` (plan_salt
    without a row count: its action, and a rerun when `df` holds T or
    more rows). Given a table,
    no Spark action runs: the KNOWN heavy chunks get bin-packed part ids
    on the driver (largest-first into least-loaded — the only chunks
    big enough to matter are exactly the ones the salt map enumerates),
    one broadcast attaches salt and packed parts, and light hosts hash
    uniformly: part_id = xxhash64(host, salt) mod num_parts. Packing
    removes the Poisson tail of several heavy chunks hashing into one
    partition, which measured as a 3× max/median task-time straggler on
    the encode stage. `loads`, when given, is filled with the packing's
    {part_id: packed bytes} for encode_footers. A legacy map without
    chunk_bytes is hash-only.
    """
    if salt is None:
        _, salt = plan_salt(df, cfg.salt_threshold_rows)
    if "chunk_bytes" in salt.column_names and salt.num_rows:
        parts, chunk_loads = _pack_heavy_chunks(salt, num_parts)
        if loads is not None:
            loads.update(chunk_loads)
        salt = salt.append_column(
            "_parts", pa.array(parts, pa.list_(pa.int32())))
    df = _apply_salt(with_host(df), salt)
    part_id = F.pmod(F.xxhash64("host", "salt"), F.lit(num_parts)) \
        .cast("int")
    if "_parts" in salt.column_names:
        part_id = F.coalesce(F.element_at("_parts", F.col("salt") + 1),
                             part_id)
    return df.withColumn("part_id", part_id).drop("_parts")


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


def encode_part(table: pa.Table, part_id: int, out_dir: str,
                cfg: EngineConfig, attempt: str, name_fmt: str) -> pa.Table:
    """THE footer builder: sort one partition's rows, write its part
    file and return its one footer row (FOOTER_DDL). `table` holds the
    data columns plus `host` (a planned frame's `part_id` and `salt` are
    dropped). The encode kernel calls it per part_id; on the driver,
    encode_increment calls it for a one-part increment and
    _rewrite_partitions with a zero-row table for each partition a
    rewrite emptied. `name_fmt` gives each writer its part-file
    namespace (streaming: part-e{epoch}-{pid}.skar)."""
    t0 = time.time()
    data_cols = [c for c in table.column_names
                 if c not in ("part_id", "salt", "host")]
    # lexsort by SORT_KEYS: keep host as _host for zone maps
    t = table.rename_columns(
        [("_host" if c == "host" else c) for c in table.column_names])
    t = t.sort_by([("_host" if k == "host" else k, "ascending")
                   for k in SORT_KEYS])
    body = t.select(data_cols + ["_host"])

    t_sorted = time.time()
    path = os.path.join(out_dir, "parts", name_fmt.format(pid=part_id))
    stats = write_part_file(path, body, cfg)
    t_written = time.time()

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
        "host_bloom": pa.array([partition_host_bloom(hosts)], pa.binary()),
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
        "encode_sec": pa.array([round(t_written - t_sorted, 3)],
                               pa.float64()),
        "meta_sec": pa.array([round(time.time() - t_written, 3)],
                             pa.float64()),
        "file": pa.array([path], pa.string()),
        "committed_at": pa.array([time.time()], pa.float64()),
        # merged into meta/schema.json at commit; NOT a lineage
        # column (_commit_footers strips it) so old lineage
        # parquet and new coexist schema-stable
        "schema_json": pa.array([stats["schema_json"]], pa.string()),
        # numeric zone maps for non-layout columns ({} when none)
        "col_stats": pa.array([stats["col_stats"]], pa.string()),
    })


def _encode_kernel(out_dir: str, cfg: EngineConfig, attempt: str,
                   name_fmt: str):
    """mapInArrow kernel over a planned exchange (see encode_footers):
    one footer row out per part_id in the task (encode_part). All
    columnar — no per-row Python. The exchange puts each part_id alone
    in its task; a local split keeps the kernel correct if a task ever
    holds several."""

    def kernel(batches):
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        pids = pc.unique(t["part_id"])
        for pid in pids:
            sub = t.filter(pc.equal(t["part_id"], pid)) \
                if len(pids) > 1 else t
            yield from encode_part(sub, pid.as_py(), out_dir, cfg, attempt,
                                   name_fmt).to_batches()

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
    """THE distributed encode dispatch: one row shuffle that puts each
    of `part_ids` alone in its task (planned_exchange), then the encode
    kernel per task. Every writer uses it but a one-part increment
    under the collect bound, which encode_increment encodes on the
    driver. Returns the lazy footer rows (FOOTER_DDL);
    append_lineage_rows runs and commits them. `repartition(n, col)`
    is a fixed-count exchange, so AQE never coalesces the CPU-bound
    kernel stage. Parts with no rows never reach a task and write no
    file; _rewrite_partitions builds an emptied partition's zero-row part
    on the driver through the same encode_part.

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


def save_salt_map(out_dir: str, salt: pa.Table) -> None:
    """Persist the heavy-host table (plan_salt) as one parquet object
    through the storage seam — metadata, one row per heavy host, so no
    Spark job."""
    import io

    import pyarrow.parquet as _pq

    buf = io.BytesIO()
    _pq.write_table(salt, buf)
    storage.remove_prefix(_salt_map_dir(out_dir))
    storage.put_bytes(os.path.join(_salt_map_dir(out_dir),
                                   "salt-map.parquet"), buf.getvalue())


def load_salt_map(out_dir: str) -> pa.Table | None:
    """The persisted salt map as a local table, or None. Every parquet
    object under the salt-map prefix is read, so maps an older version
    wrote as a Spark parquet directory load too."""
    import pyarrow.parquet as _pq

    keys = [k for k in storage.list_prefix(_salt_map_dir(out_dir))
            if k.endswith(".parquet")]
    if not keys:
        return None
    return pa.concat_tables(
        [_pq.read_table(pa.BufferReader(storage.get_bytes(k)))
         for k in keys])


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
    lin = lineage_table(out_dir, ["partition_id"])
    return set() if lin is None else set(lin["partition_id"].to_pylist())


def append_documents(spark: SparkSession, df: DataFrame, out_dir: str,
                     cfg: EngineConfig = DEFAULT) -> int:
    """One-shot COMMITTED append of new rows to an existing table — the
    batch mirror of one streaming epoch: both run encode_increment,
    which sizes the increment by ``cfg.target_partition_rows``, refuses
    day_hash tables and takes new part ids from the one lineage
    high-water allocator. Existing parts and lineage rows are
    untouched, so each append is a clean change-feed increment for
    ``decode.scan_changes``. Returns the number of parts appended.

    Unlike ``encode_documents(resume=True)`` (which FINISHES a planned
    table), append re-plans from the increment's own stats: one totals
    action over the new rows. At 10^12-doc table sizes the increment
    must never pay a planning pass over history. An empty increment
    commits nothing."""
    if lineage_row_groups(out_dir) is None:
        raise FileNotFoundError(
            f"{out_dir} has no lineage; append_documents requires an "
            "existing committed table (encode_documents does the first "
            "load)")
    tag = uuid.uuid4().hex[:8]
    return encode_increment(df, plan_totals(df), out_dir, cfg,
                            f"append-{tag}", f"part-x{tag}-{{pid:09d}}.skar")


def allocate_part_ids(out_dir: str, lin: pa.Table | None, n: int) -> int:
    """THE part-id allocator of appends, stream epochs and compaction:
    the first of `n` new ids, one past the larger of the largest
    ``partition_id`` in the caller's lineage read `lin` and the
    compaction marker's ``pid_high_water``; 0 without lineage. Raises
    OverflowError past the int32 ``partition_id``."""
    from skar_spark.engine.compact import compaction_high_water

    base = 0 if lin is None else max(
        pc.max(lin["partition_id"]).as_py() or 0,
        compaction_high_water(out_dir) or 0) + 1
    if base + n >= 2 ** 31:
        raise OverflowError(
            f"{n} new parts would exceed the int32 part-id namespace at "
            f"base {base}; rotate out_dir or widen partition_id to long")
    return base


def max_result_bytes(spark: SparkSession) -> float:
    """The bytes one collect may bring to the driver: the session's
    ``spark.driver.maxResultSize``, the bound Spark enforces on every
    collect (0 = unbounded)."""
    size = spark.sparkContext._jvm.org.apache.spark.network.util \
        .JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.driver.maxResultSize", "1g"))
    return size or float("inf")


def encode_increment(df: DataFrame, totals: dict, out_dir: str,
                     cfg: EngineConfig, attempt: str, name_fmt: str) -> int:
    """THE increment writer of append_documents and streaming epochs:
    encode `df` into parts_for(its rows) new part ids from the base one
    lineage read allocates (allocate_part_ids) and commit one lineage
    batch. Returns the parts committed: 0, writing nothing, for an
    empty `df` (its plan `totals`) or a replayed `attempt` (lineage
    holds it). Refuses a day_hash table before anything is written:
    delete_rows and reencode_late locate its partitions by (day(warc_ts),
    host bucket), which hash-planned increments would break.

    One part whose Arrow size (payload bytes plus 8 per row and column,
    for offsets and fixed-width values) fits the session's collect
    bound (max_result_bytes) is encoded on the driver from one Arrow
    collect: no salt map, no exchange, no kernel task (the reference
    writes each block range in-process, write_parquet.rs:160-221).
    Otherwise `df` is planned alone, heavy hosts salted at
    ``cfg.salt_threshold_rows``, and encode_footers runs."""
    meta = load_plan_meta(out_dir)
    if meta and meta.get("scheme") == "day_hash":
        raise ValueError(
            "appends and stream epochs support hash-scheme tables only; "
            "day_hash tables take late data via reencode_late")
    if not totals["n_rows"]:
        return 0
    lin = lineage_table(out_dir, ["partition_id", "attempt_id"])
    if lin is not None and pc.any(pc.equal(lin["attempt_id"],
                                           attempt)).as_py():
        return 0
    parts = parts_for(totals["n_rows"], cfg)
    base = allocate_part_ids(out_dir, lin, parts)
    arrow_bytes = (totals["n_bytes"] or 0) \
        + 8 * totals["n_rows"] * len(df.columns)
    if parts == 1 and arrow_bytes <= max_result_bytes(df.sparkSession):
        t = df.toArrow()
        t = t.append_column("host", _derive_host(t["url"]))
        return _commit_footers(
            encode_part(t, base, out_dir, cfg, attempt, name_fmt), out_dir)
    loads: dict[int, int] = {}
    _, salt = plan_salt(df, cfg.salt_threshold_rows, totals=totals)
    planned = plan_partitions(df, parts, cfg, salt, loads)
    planned = planned.withColumn(
        "part_id", (F.col("part_id") + F.lit(base)).cast("int"))
    footers = encode_footers(planned, list(range(base, base + parts)),
                             out_dir, cfg, attempt, name_fmt,
                             {p + base: b for p, b in loads.items()})
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

    Planning is one Spark action (plan_salt: totals and heavy hosts)
    when `n_rows` is given — a hint: a stale one costs one rerun, never
    a wrong map. The day_hash layout comes from the same totals.
    Without `n_rows`, the hash scheme counts first (plan_totals) unless
    `num_parts` is given, since its salt threshold tracks the average
    part size; otherwise plan_salt runs without a count and reruns once
    when its own count holds the threshold or more rows. A resume
    replans from the persisted salt map and plan metadata with no
    planning action.

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
    import dataclasses
    import sys
    t_plan0 = time.time()
    # the salt map + scheme parameters are PERSISTED so resume and
    # late-data rollback replan with identical partition membership even
    # if the input's host distribution has drifted; a resume that finds
    # both plans with no Spark job
    salt = load_salt_map(out_dir) if resume else None
    stored_meta = load_plan_meta(out_dir) if resume else None
    # the totals (rows, bytes, day range) serve partition count, day
    # layout and salt thresholds: counted first by plan_totals only when
    # the salt threshold needs a row count nobody gave, else taken from
    # plan_salt's one action
    totals = None
    if scheme == "day_hash":
        cfg = dataclasses.replace(
            cfg, salt_threshold_rows=min(
                cfg.salt_threshold_rows,
                max(500, cfg.target_partition_rows // 2)))
    elif salt is None or stored_meta is None:
        if num_parts is None:
            if n_rows is None:
                totals = plan_totals(df)
                n_rows = totals["n_rows"]
            num_parts = parts_for(n_rows, cfg)
        if n_rows is not None:
            # straggler control (measured on the 300k-doc bench): the
            # salt threshold must track the actual partition size — a
            # threshold far above rows/num_parts lets one salted
            # heavy-host chunk dominate a task (worst task 12.9s vs 3.6s
            # avg before). A QUARTER of the average partition size (r6;
            # was half): on a Zipf host distribution several hosts just
            # under a half-size threshold can clump into one partition
            # (measured 54 MB max vs 32 MB median part, a 3× encode-task
            # straggler); quarter-size chunks all enter the
            # deterministic bin-packing and the part profile flattens
            # (46 MB max, worst task 5.6 s → 3.7 s) for +0.15% encoded
            # bytes (split hosts lose cross-chunk locality)
            cfg = dataclasses.replace(cfg, salt_threshold_rows=min(
                cfg.salt_threshold_rows,
                max(500, n_rows // max(num_parts, 1) // 4)))
    if salt is None:
        totals, salt = plan_salt(df, cfg.salt_threshold_rows, n_rows, totals)
        save_salt_map(out_dir, salt)
    loads: dict[int, int] = {}
    if stored_meta is not None:
        # resume: the stored plan, as every partition rewrite replans
        planned, _ = _replan_with_stored(spark, df, out_dir, cfg, loads,
                                         (stored_meta, salt))
        num_parts = stored_meta["num_parts"]
    else:
        day_meta = {}
        if scheme == "day_hash":
            t = totals or plan_totals(df)
            n_days = (t["d1"] - t["d0"]).days + 1
            buckets = parts_for(-(-int(t["n_rows"]) // n_days), cfg)
            num_parts = n_days * buckets
            planned = plan_partitions_day_hash(
                df, salt, (t["d0"], buckets, num_parts))
            day_meta = {"d0": t["d0"].isoformat(), "buckets": buckets}
        else:
            planned = plan_partitions(df, num_parts, cfg, salt, loads)
        save_plan_meta(out_dir, {
            "scheme": scheme, "num_parts": num_parts,
            "salt_threshold_rows": cfg.salt_threshold_rows,
            "target_partition_rows": cfg.target_partition_rows,
            **day_meta})
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
                        cfg: EngineConfig, loads: dict | None = None,
                        stored: tuple[dict | None, pa.Table | None]
                        | None = None) -> tuple[DataFrame, dict]:
    """Replan `df` with the PERSISTED salt map + scheme parameters so
    partition membership is identical to the original encode; no Spark
    action runs. `loads` is filled as in plan_partitions. `stored` is
    the (plan metadata, salt map) pair a caller already loaded; only
    without it are they read here."""
    meta, salt = stored if stored is not None else (
        load_plan_meta(out_dir), load_salt_map(out_dir))
    if meta is None:
        raise FileNotFoundError(f"no plan metadata under {out_dir}")
    if salt is None:
        raise FileNotFoundError(f"no salt map under {out_dir}")
    if meta["scheme"] == "day_hash":
        import datetime as _dt
        planned = plan_partitions_day_hash(
            df, salt, (_dt.date.fromisoformat(meta["d0"]), meta["buckets"],
                       meta["num_parts"]))
    else:
        planned = plan_partitions(df, meta["num_parts"], cfg, salt, loads)
    return planned, meta


def _locate_partitions(spark: SparkSession, df: DataFrame, out_dir: str,
                       cfg: EngineConfig, op: str, guard: str,
                       url_located: str | None = None
                       ) -> tuple[DataFrame, list[int], tuple]:
    """THE guard-and-locate step of every partition rewrite
    (merge_updates, delete_rows, reencode_late): refuse compacted
    tables (`guard` names the op there) and tables with appended parts,
    replan `df` with the stored plan, and collect the distinct part ids
    it lands in — the one Spark job of locating. A url-located op
    (`url_located`: why it needs the hash scheme) also refuses tables
    without stored plan metadata (streamed: per-epoch plans) and
    day_hash tables. Returns (the replanned `df`, affected part ids,
    the stored (plan metadata, salt map) — read once here and handed
    to `_rewrite_partitions`)."""
    from skar_spark.engine.compact import assert_not_compacted

    assert_not_compacted(out_dir, guard)
    meta = load_plan_meta(out_dir)
    if url_located is not None:
        if meta is None:
            raise NotImplementedError(
                f"{op} requires a batch-encoded table with stored plan "
                "metadata; streamed tables have per-epoch plans — "
                "compact first, then re-encode, or use reencode_late")
        if meta.get("scheme") == "day_hash":
            raise NotImplementedError(
                f"{op} requires the hash partition scheme{url_located}")
    _assert_no_appended_parts(out_dir, op, meta)
    stored = (meta, load_salt_map(out_dir))
    planned, _ = _replan_with_stored(spark, df, out_dir, cfg,
                                     stored=stored)
    affected = [r.part_id for r in
                planned.select("part_id").distinct().collect()]
    return planned, affected, stored


def _rewrite_partitions(spark: SparkSession, out_dir: str,
                        cfg: EngineConfig, affected: list[int],
                        corrected: DataFrame, tag: str,
                        stored: tuple) -> DataFrame:
    """Copy-on-write rewrite of exactly `affected` partitions — the one
    rewrite of merge_updates, delete_rows and reencode_late.

    `corrected` is replanned with the `stored` plan (the
    `_locate_partitions` pair); its rows in
    `affected` are the partitions' full new content. Each affected
    partition is re-encoded under one fresh attempt id (``{tag}-…``)
    and its lineage row superseded by `committed_at`. A partition whose
    new content is EMPTY (all rows deleted) never reaches a kernel
    task; it gets a zero-row part (the format writes one empty row
    group) built on the driver by the same encode_part, so the
    supersede is uniform and readers never resurrect the old rows. The
    kernel's footers and the emptied partitions' footers commit in ONE
    lineage PUT: with ``cfg.retain_superseded`` a crash leaves the
    whole rewrite visible or none of it (the default mode overwrites
    part files in place before that commit)."""
    loads: dict[int, int] = {}
    planned, _ = _replan_with_stored(spark, corrected, out_dir, cfg, loads,
                                     stored)
    sub = planned.filter(F.col("part_id").isin(affected))
    attempt = f"{tag}-{uuid.uuid4().hex[:8]}"
    name_fmt = _kernel_name_fmt(cfg, attempt, out_dir)
    t = collect_footers(encode_footers(sub, affected, out_dir, cfg, attempt,
                                       name_fmt, loads))
    emptied = sorted(set(affected) - set(t["partition_id"].to_pylist()))
    if emptied:
        from skar_spark.codecs.framing import type_from_code
        from skar_spark.engine.schema_evo import table_schema

        tcols, ttypes = table_schema(out_dir)
        empty = pa.table(
            {c: pa.nulls(0, type_from_code(ttypes[c])) for c in tcols}
            | {"host": pa.nulls(0, pa.string())})
        t = pa.concat_tables(
            [t.cast(FOOTER_SCHEMA)]
            + [encode_part(empty, pid, out_dir, cfg, attempt, name_fmt)
               .cast(FOOTER_SCHEMA) for pid in emptied])
    _commit_footers(t, out_dir)
    return read_lineage(spark, out_dir, latest=True)


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

    planned_late, affected, stored = _locate_partitions(
        spark, late_df, out_dir, cfg, "reencode_late", "late-data rollback")
    meta = stored[0]
    if meta["scheme"] == "day_hash" and min(affected, default=0) < 0:
        n_before = planned_late.filter(F.col("part_id") < 0).count()
        raise ValueError(
            f"{n_before} late row(s) precede the table's day-range "
            f"start {meta['d0']} — beyond the rollback bound")
    if not affected:
        return read_lineage(spark, out_dir, latest=True)
    print(f"[reencode_late] rolling back {len(affected)} partition(s): "
          f"{sorted(affected)[:20]}", file=sys.stderr)
    return _rewrite_partitions(spark, out_dir, cfg, affected, full_df,
                               "late", stored)


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
    from skar_spark.engine.decode import scan

    if (updates_df.groupBy("url").count()
            .filter(F.col("count") > 1).limit(1).count()):
        raise ValueError("updates contain duplicate urls — resolve "
                         "latest-wins upstream (one row per url)")
    # day_hash partitions are a function of (day(warc_ts), host): an
    # update that moves a url's day would leave the OLD version alive in
    # a partition the update never plans into. Upsert-by-url needs the
    # hash scheme's url→partition pure function (or a url→partition
    # index, which the engine does not keep).
    _, affected, stored = _locate_partitions(
        spark, updates_df, out_dir, cfg, "merge_updates", "merge",
        "; on a day_hash table use reencode_late with the corrected "
        "full dataset")
    if not affected:
        return read_lineage(spark, out_dir, latest=True)
    existing = scan(spark, out_dir, part_ids=set(affected))
    keep = existing.join(updates_df.select("url").distinct(),
                         "url", "left_anti")
    corrected = keep.unionByName(updates_df, allowMissingColumns=True)
    return _rewrite_partitions(spark, out_dir, cfg, affected, corrected,
                               "merge", stored)


def delete_rows(spark: SparkSession, urls_df: DataFrame, out_dir: str,
                cfg: EngineConfig = DEFAULT) -> DataFrame:
    """DELETE by url set — the curation-pipeline primitive (drop
    policy-violating / deduplicated documents from an encoded table)
    as copy-on-write at partition granularity, same machinery as
    merge_updates. `urls_df` needs one column: url. Partitions that
    lose ALL rows are superseded by a zero-row part, so readers (scan,
    paged scan, DataSource) see the deletion without special cases.
    """
    from skar_spark.engine.decode import scan

    _, affected, stored = _locate_partitions(
        spark, urls_df.select("url"), out_dir, cfg, "delete_rows", "delete",
        " (day_hash partition membership depends on warc_ts, which a "
        "url set does not carry)")
    if not affected:
        return read_lineage(spark, out_dir, latest=True)
    existing = scan(spark, out_dir, part_ids=set(affected))
    keep = existing.join(urls_df.select("url").distinct(),
                         "url", "left_anti")
    return _rewrite_partitions(spark, out_dir, cfg, affected, keep,
                               "delete", stored)


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
    epochs (each takes fresh part ids), but NOT for default batch
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
