"""The Spark decode/scan path over encoded part files.

Mirror of the reference's query-side read pipeline: folder pruning via the
index (db/mod.rs:217-305) → row-group selection via zone maps + blooms
(data_provider.rs:185-333) → projected parallel column decode
(data_provider.rs:112-119). Here:

- partition pruning is DRIVER-LOCAL, the reference's single-node index
  SEEK (db/mod.rs:217-305): `_lineage_survivors` streams lineage
  through the one lineage reader (`encode.lineage_row_groups`) and
  tests zone maps, the host and lang blooms and the numeric col_stats
  per partition, skipping whole lineage row groups by their
  min/max_warc_ts stats on ts-filtered reads; membership follows the
  one latest-attempt rule (`encode.newest_attempts`). No Spark job is
  launched. Lineage fits on the driver because it holds one row per
  PARTITION, not per document — about 10^6 rows at 10^12 docs — and
  the pass keeps only {partition → file, verdict}, holding the blooms
  of one lineage row group at a time;
- per-disjunct pruning (`prune_selections`) mirrors prune_query
  (handler.rs:187-250): each (hosts, langs, ts_range) selection is
  tested against every partition's zone maps + blooms in the same pass,
  dropping partitions no disjunct can touch;
- row-group pruning + projection + EXACT predicate apply happen in
  `read_part_file` against the part-file footer: in the mapInArrow
  kernel for scans, on the driver (no Spark job) for bounded reads;
- decode is vectorized (numpy/pyarrow) per column chunk.

Storage: all path IO flows through `engine.storage` (the object-store
seam, VERDICT r04 item 2) — POSIX roots pass through to open/glob/
rename; non-POSIX roots route listing, part-file byte IO, and lineage
parquet through the storage primitives (tested end-to-end on the
dir-backed ``mock://`` fake); the lineage reader fetches object-store
lineage into a local cache. Every layer above works on opaque path
strings.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skar_spark.engine import storage
from skar_spark.engine.decode_schema import spark_ddl_for
from skar_spark.engine.encode import read_lineage
from skar_spark.engine.partfile import read_part_file


def list_part_files(out_dir: str) -> list[str]:
    if storage.is_posix(out_dir):
        return sorted(glob.glob(
            os.path.join(out_dir, "parts", "part-*.skar")))
    # object store: directory = key prefix, listing via the seam
    return [p for p in storage.list_prefix(f"{out_dir}/parts")
            if p.rsplit("/", 1)[1].startswith("part-")
            and p.endswith(".skar")]


def lineage_file_sets_local(out_dir: str
                            ) -> tuple[set[str], set[str]] | None:
    """(committed, all-recorded) file sets from lineage, read locally
    (encode.lineage_table, no Spark job — safe in DataSource planning
    workers). Returns None when the table has no lineage directory at
    all (a brand-new table or a static hand-built dir, where the listing
    IS the membership); a lineage that exists but can't be read raises —
    falling back to the raw listing would expose uncommitted files."""
    from skar_spark.engine.encode import lineage_table

    lin = lineage_table(out_dir, ["file", "status"])
    if lin is None:
        return None
    files = lin["file"].to_pylist()
    return ({f for f, st in zip(files, lin["status"].to_pylist())
             if st == "committed"}, set(files))


def committed_files_local(out_dir: str) -> set[str] | None:
    sets = lineage_file_sets_local(out_dir)
    return None if sets is None else sets[0]


def hot_tail_files(out_dir: str) -> list[str]:
    """The HOT TAIL: part files on disk with no lineage row at all —
    the in-progress (not yet committed) streaming epoch or batch. The
    mirror of the reference serving its uncommitted in-memory tail
    alongside cold folders (query/data_provider.rs:56-105,
    state.rs:82-107). Only meaningful on plain tables: retained /
    compacted tables delete files, so an unrecorded file there is a
    crash orphan, not fresh data — refused."""
    from skar_spark.engine.compact import is_compacted
    from skar_spark.engine.encode import is_retained

    if is_retained(out_dir) or is_compacted(out_dir):
        raise ValueError(
            f"include_hot refused on {out_dir}: retained/compacted "
            "tables delete files, so unrecorded on-disk files are crash "
            "orphans — the hot tail exists only on plain tables")
    sets = lineage_file_sets_local(out_dir)
    if sets is None:
        return []
    _committed, recorded = sets
    return [f for f in list_part_files(out_dir) if f not in recorded]


def _lineage_survivors(out_dir: str, disjuncts: list[dict],
                       as_of: float | None = None,
                       seek_stats: dict | None = None
                       ) -> dict[str, list[int]] | None:
    """THE pruning pass: one driver-local stream over the lineage
    (encode.lineage_row_groups), the analog of the reference's
    single-node index seek (db/mod.rs:217-305). Returns {file: [indices
    of the disjuncts the file's partition may satisfy]} for the files at
    least one disjunct keeps, or None when the table has no lineage
    directory (the caller applies the listing policy,
    `_listing_membership`).

    Each disjunct is conjunctive: ``ts_range`` (lo_us, hi_us) against
    the min/max_warc_ts zone maps; ``blooms``, a list of (lineage bloom
    column, values) pairs, each passing when the partition's bloom might
    contain ANY of its values; ``col_range`` (col, lo, hi) against the
    numeric ``col_stats`` zone maps. Unknown metadata (null zone map,
    null bloom, missing bloom column, no stats for the column) never
    prunes.

    Membership is resolved per ``partition_id`` by read_lineage's rule
    (encode.newest_attempts), folded one row group at a time over the
    attempts committed at or before `as_of` when given. Only
    {partition_id → (order key, file, kept disjuncts)} is kept, so
    memory stays O(#partitions) strings plus one lineage row group's
    blooms. ts-filtered passes on live tables also skip whole lineage
    row groups (the reader's seek)."""
    import json

    import numpy as np

    from skar_spark.engine.bloom import bloom_might_contain
    from skar_spark.engine.encode import (
        is_retained,
        lineage_row_groups,
        newest_attempts,
    )

    bloom_cols = sorted({c for d in disjuncts for c, _v in d["blooms"]})
    use_stats = any(d.get("col_range") for d in disjuncts)
    cols = ["partition_id", "file", "min_warc_ts", "max_warc_ts",
            "committed_at", "attempt_id", *bloom_cols,
            *(["col_stats"] if use_stats else [])]
    # ts-filtered planning on a live table SEEKS via the sorted
    # lineage's row-group stats when every disjunct bounds ts (their
    # union's envelope drives the skip — a safe over-approximation: a
    # skipped row group contains only rows every disjunct's zone-map
    # test rejects). Retained/as_of reads need every attempt row for
    # snapshot bookkeeping → full stream.
    #
    # INVARIANT the seek depends on (ADVICE r04): on a non-retained
    # table every attempt for a pid writes the SAME canonical file name
    # (`part-{pid:06d}.skar`, _kernel_name_fmt), so when the true-latest
    # attempt row sits in a skipped row group but an older attempt row
    # survives, `latest` resolving from the superseded row re-admits a
    # file name identical to the latest attempt's — an exact-filtered
    # over-read, never a double-read. If per-attempt file naming is ever
    # extended to non-retained tables, this seek must exclude pids whose
    # resolved row is not the true latest (or fall back to the full
    # stream).
    ranges = [d["ts_range"] for d in disjuncts]
    seek = None
    if ranges and all(r is not None for r in ranges) and as_of is None \
            and not is_retained(out_dir):
        seek = (min(r[0] for r in ranges), max(r[1] for r in ranges))

    def _ts_us(col):
        # normalize to microseconds regardless of the stored unit
        # (sub-µs truncation is exact against integer-µs query bounds)
        return col.cast(pa.timestamp("us"), safe=False).cast(
            pa.int64()).to_numpy(zero_copy_only=False).astype("float64")

    def _bloom_ok(blob, values):
        # one probe per PARTITION (metadata row); a null bloom (or a
        # bloom column older lineage files lack) can't prune
        return blob is None or any(bloom_might_contain(bytes(blob), v)
                                   for v in values)

    def _stats_ok(raw, col_range):
        c, lo, hi = col_range
        mm = json.loads(raw).get(c) if raw else None
        if not mm or mm[0] is None or mm[1] is None:
            return True  # no stats for the column: can't prune
        return float(mm[1]) >= lo and float(mm[0]) < hi

    rgs = lineage_row_groups(out_dir, cols, seek, seek_stats)
    if rgs is None:
        return None
    seen: dict[int, tuple] = {}
    latest: dict[int, tuple[str, list[int]]] = {}
    for batch in rgs:
        n = batch.num_rows
        if n == 0:
            continue
        lo, hi = _ts_us(batch.column("min_warc_ts")), \
            _ts_us(batch.column("max_warc_ts"))
        known = ~np.isnan(lo)
        ts_keep = [
            np.ones(n, dtype=bool) if d["ts_range"] is None
            else ~known | ~((lo >= d["ts_range"][1])
                            | (hi < d["ts_range"][0]))
            for d in disjuncts]
        files = batch.column("file").to_pylist()
        stats = batch.column("col_stats").to_pylist() if use_stats else None
        # per PARTITION metadata row, not per data row
        for pid, i in newest_attempts(batch, as_of, seen).items():
            kept = []
            for j, d in enumerate(disjuncts):
                if not ts_keep[j][i]:
                    continue
                if not all(_bloom_ok(batch.column(c)[i].as_py(), vals)
                           for c, vals in d["blooms"]):
                    continue
                if d.get("col_range") and not _stats_ok(
                        stats[i], d["col_range"]):
                    continue
                kept.append(j)
            latest[pid] = (files[i], kept)
    return {f: kept for f, kept in latest.values() if kept}


def _listing_membership(out_dir: str) -> list[str]:
    """Membership of a table without a lineage directory: the listing —
    except on a table where files may have been deleted (snapshot
    retention / compaction), which MUST resolve membership through
    lineage; a missing lineage there would otherwise over-approximate to every attempt of every
    partition. Fail loudly instead of duplicating rows."""
    from skar_spark.engine.compact import is_compacted
    from skar_spark.engine.encode import is_retained

    if is_retained(out_dir) or is_compacted(out_dir):
        raise FileNotFoundError(
            f"lineage unreadable under {out_dir} but the table is "
            "retained/compacted — membership requires lineage")
    return list_part_files(out_dir)


def prune_partitions(out_dir: str,
                     host_eq: str | None = None,
                     ts_range: tuple[int, int] | None = None,
                     lang_eq: str | None = None,
                     as_of: float | None = None,
                     include_hot: bool = False,
                     col_range: tuple[str, float, float] | None = None,
                     any_hosts: list[str] | None = None,
                     seek_stats: dict | None = None) -> list[str]:
    """Partition pruning via lineage zone maps, the host and lang bloom
    families and the numeric ``col_stats`` zone maps — the mirror of the
    folder index seek (db/mod.rs:217-305) + prune_query folder skipping
    (handler.rs:144-158). Runs driver-local (`_lineage_survivors`), so it
    launches no Spark job and is safe in DataSource planning workers.

    `host_eq` and `any_hosts` are ANDed: a partition survives when its
    host bloom might contain `host_eq` AND might contain ANY of
    `any_hosts` (url-equality and host-IN pruning). `col_range`
    ``(col, lo, hi)`` keeps partitions whose [min, max] overlaps
    [lo, hi) or that have no stats for the column.

    `as_of` selects the snapshot view (latest attempt committed at or
    before that unix time per partition — Iceberg time travel on tables
    encoded with ``retain_superseded``). On a snapshot-retaining table
    the surviving set always comes from lineage: superseded attempt
    files still on disk are never returned.

    `include_hot` additionally serves the HOT TAIL — part files whose
    lineage row has not committed yet (the in-progress streaming epoch)
    — alongside the committed cold set, the reference's hot-tier union
    (data_provider.rs:56-105). Hot files carry no pruning metadata, so
    they always survive pruning; exact predicates still apply inside
    the read kernel. Plain tables only.

    `seek_stats` is filled with the lineage row-group counters
    (`encode.lineage_row_groups`) whenever lineage is read."""
    from skar_spark.engine.compact import is_compacted
    from skar_spark.engine.encode import is_retained

    files = list_part_files(out_dir)
    hot = set(hot_tail_files(out_dir)) if include_hot else set()
    blooms = []
    if host_eq is not None:
        blooms.append(("host_bloom", [host_eq]))
    if any_hosts:
        blooms.append(("host_bloom", list(any_hosts)))
    if lang_eq is not None:
        blooms.append(("lang_bloom", [lang_eq]))
    # fast path: plain full scans resolve membership from the COMMITTED
    # lineage set read locally — the same set the stream reader tails.
    # The raw listing alone would over-approximate by uncommitted parts
    # (a crashed batch/epoch), making rows appear on a full scan that
    # vanish once a predicate triggers lineage-resolved pruning.
    # Lineage-less directories (static/hand-built) keep listing-only
    # membership; retained/compacted tables (file deletion possible)
    # always take the full lineage pass below.
    if not blooms and ts_range is None and col_range is None \
            and as_of is None and not is_retained(out_dir) \
            and not is_compacted(out_dir):
        committed = committed_files_local(out_dir)
        if committed is None:
            return files
        return [f for f in files if f in committed or f in hot]
    survived = _lineage_survivors(
        out_dir, [{"ts_range": ts_range, "blooms": blooms,
                   "col_range": col_range}], as_of, seek_stats)
    if survived is None:
        return _listing_membership(out_dir)
    # lineage is the SOURCE OF TRUTH for table membership: a part file
    # with no row in the selected view is either superseded (snapshot
    # retention), outside the as_of snapshot, not yet committed (its
    # writer re-encodes it on resume — atomic rename makes the eventual
    # commit idempotent), or orphaned by a crash between a vacuum/
    # compaction lineage swap and its file deletes. All four must not
    # be read; readers only ever see committed data exactly once.
    # (`include_hot` deliberately re-admits the not-yet-committed class
    # on plain tables — unprunable, exact-filtered in the kernel.)
    return [f for f in files if f in survived or f in hot]


def prune_selections(out_dir: str, selections: list[dict],
                     seek_stats: dict | None = None
                     ) -> dict[str, list[int]]:
    """Per-disjunct pruning — the prune_query analog (handler.rs:187-250).

    `selections` is a list of disjuncts, each `{"hosts": [...] | None,
    "langs": [...] | None, "ts_range": (lo_us, hi_us) | None}`
    (conjunctive within a disjunct, OR across; langs prune via the
    second bloom family). Returns {file: [surviving disjunct indices]}
    containing only files at least one disjunct can touch, evaluated in
    the same driver-local lineage pass as `prune_partitions` (latest
    view; superseded, uncommitted and crash-orphaned files are never
    returned).
    """
    if not selections:
        # no disjuncts → nothing can match any file (the OR of an empty
        # set is false)
        return {}
    disjuncts = [{
        "ts_range": s.get("ts_range"),
        "blooms": [(c, list(s[k])) for c, k in
                   (("host_bloom", "hosts"), ("lang_bloom", "langs"))
                   if s.get(k)],
    } for s in selections]
    survived = _lineage_survivors(out_dir, disjuncts, seek_stats=seek_stats)
    if survived is None:
        return {f: list(range(len(selections)))
                for f in _listing_membership(out_dir)}
    return {f: survived[f] for f in list_part_files(out_dir)
            if f in survived}


def scan(spark: SparkSession, out_dir: str,
         columns: list[str] | None = None,
         host_eq: str | None = None,
         ts_range: tuple[int, int] | None = None,
         lang_eq: str | None = None,
         as_of: float | None = None,
         include_hot: bool = False,
         part_ids: set[int] | None = None,
         col_range: tuple[str, float, float] | None = None) -> DataFrame:
    """Distributed decode: one task per part file, Arrow batches out.

    Predicates are EXACT: partitions and row groups that can't match are
    pruned via zone maps + blooms (host and lang families), and surviving
    row groups are post-filtered inside the kernel (read_part_file
    exact=True), so the returned DataFrame contains precisely the
    matching rows.

    `as_of` (unix seconds) time-travels to the snapshot committed at or
    before that instant — meaningful on tables encoded with
    ``EngineConfig.retain_superseded=True`` (superseded attempt files are
    kept until ``vacuum``); before the first commit the scan is empty.

    ``include_hot=True`` unions the hot tail (uncommitted in-progress
    epoch) with the committed cold set — see prune_partitions.

    ``part_ids`` restricts the scan to those partition ids (after the
    predicate pruning above) — the partition-targeted read used by
    merge_updates/delete_rows to decode only the partitions they will
    rewrite."""
    files = prune_partitions(out_dir, host_eq, ts_range, lang_eq,
                             as_of=as_of, include_hot=include_hot,
                             col_range=col_range)
    if part_ids is not None:
        files = [f for f in files if _file_part_index(f) in part_ids]
    # merged table schema (meta/schema.json — one driver-side GET, kept
    # current at every lineage commit; Iceberg add-column semantics).
    # Pre-evolution tables fall back to the first footer (fixed schema).
    from skar_spark.engine.schema_evo import table_schema
    tcols, ttypes = table_schema(out_dir, files)
    cols = columns or tcols
    # parts written before a column existed null-fill it kernel-side
    return decode_paths(spark, files, spark_ddl_for(ttypes, cols),
                        columns=cols, host_eq=host_eq, ts_range=ts_range,
                        lang_eq=lang_eq, col_range=col_range,
                        fill_missing={c: ttypes[c] for c in cols})


def decode_paths(spark: SparkSession, files: list[str], ddl: str,
                 **read_kw) -> DataFrame:
    """THE decode dispatch: one task per part file, each running
    read_part_file(path, **read_kw) in a mapInArrow kernel (row-group
    pruning, projection, exact predicates, null-fill all happen there).
    Shared by scan and compaction."""
    paths_df = spark.createDataFrame(
        [(f,) for f in files], "path string").repartition(
        max(1, len(files)))

    def decode_fn(batches):
        for batch in batches:
            for p in batch.column("path").to_pylist():
                yield from read_part_file(p, **read_kw).to_batches(
                    max_chunksize=16384)

    return paths_df.mapInArrow(decode_fn, schema=ddl)


def validate_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Post-write validation re-read — the mirror of the reference's
    validate_parquet pass before publish (validate_parquet.rs:17-66,
    invoked at skar_runner.rs:309-312).

    Re-reads every committed part file executor-side, recomputes the
    (url, text) content checksum, and compares it to the lineage's stored
    `text_checksum`. Returns one row per part:
    (partition_id, file, ok, error). A corrupt / truncated / missing file
    yields ok=false with the exception text instead of crashing the job.
    """
    lin = read_lineage(spark, out_dir, latest=True)
    if lin is None:
        raise FileNotFoundError(f"no lineage under {out_dir}")
    meta = (lin.filter(F.col("status") == "committed")
            .select("partition_id", "file", "text_checksum"))

    def check_fn(batches):
        from skar_spark.engine.partfile import partition_checksum
        for batch in batches:
            pids = batch.column("partition_id").to_pylist()
            paths = batch.column("file").to_pylist()
            sums = batch.column("text_checksum").to_pylist()
            for pid, p, want in zip(pids, paths, sums):
                try:
                    t = read_part_file(p, columns=["url", "text"])
                    got = partition_checksum(t)
                    ok = (want is not None and bytes(want) == got)
                    err = None if ok else "checksum mismatch"
                except Exception as e:  # corrupt/missing file
                    ok, err = False, f"{type(e).__name__}: {e}"
                yield pa.record_batch({
                    "partition_id": pa.array([pid], pa.int32()),
                    "file": pa.array([p], pa.string()),
                    "ok": pa.array([ok], pa.bool_()),
                    "error": pa.array([err], pa.string()),
                })

    n = max(1, meta.count())
    return (meta.repartition(min(n, 256))
            .mapInArrow(check_fn,
                        "partition_id int, file string, ok boolean, "
                        "error string"))


def scan_changes(spark: SparkSession, out_dir: str,
                 since: float | None = None,
                 until: float | None = None,
                 columns: list[str] | None = None,
                 host_eq: str | None = None,
                 ts_range: tuple[int, int] | None = None,
                 lang_eq: str | None = None,
                 _stats: dict | None = None) -> DataFrame:
    """Change data feed: the rows of every partition whose latest
    attempt as of `until` committed in (since, until] — the
    incremental-read primitive (Delta CDF / Iceberg incremental-scan
    analog) that lets a downstream pipeline pay for the INCREMENT, not
    the table: changed partitions are resolved from lineage alone, so
    no unchanged part file is ever opened (at 10^12 docs, re-scanning
    history per downstream run is the difference between minutes and
    days).

    Contract: on append-only history (encode_documents +
    append_documents / streaming epochs) each window returns exactly
    the appended rows. A partition RE-STATED inside the window —
    late-data rollback, compaction, merge/delete copy-on-write —
    re-emits its full new content (no row-level diff tracking; same as
    Delta CDF without deletion vectors), so consumers must treat a
    re-encoded partition as a replace, not a delta. Predicates compose
    with the normal exact pruning inside the changed set."""
    from skar_spark.engine.encode import latest_lineage, lineage_table

    lin = lineage_table(out_dir, ["partition_id", "status",
                                  "committed_at", "attempt_id"])
    if lin is None:
        raise FileNotFoundError(f"no lineage under {out_dir}; the "
                                "change feed requires a committed table")
    # driver-local, metadata-scale
    pids = {r["partition_id"] for r in latest_lineage(lin, until).to_pylist()
            if r["status"] == "committed" and (since is None or (
                r["committed_at"] is not None and r["committed_at"] > since))}
    if _stats is not None:
        _stats["n_changed_parts"] = len(pids)
    return scan(spark, out_dir, columns=columns, host_eq=host_eq,
                ts_range=ts_range, lang_eq=lang_eq, as_of=until,
                part_ids=pids)


def scan_paged(spark: SparkSession, out_dir: str,
               columns: list[str] | None = None,
               host_eq: str | None = None,
               ts_range: tuple[int, int] | None = None,
               lang_eq: str | None = None,
               cursor: int = 0,
               time_limit_ms: int | None = 5_000,
               page_files: int = 64):
    """Time-limited, cursor-resumable scan — the mirror of the
    reference's query loop: process folders in block order until the
    wall-clock budget is spent, then return partial results plus a
    `next_block` cursor (query/handler.rs:104-129, config.rs:22-29).

    Partitions are processed in file order starting at `cursor`
    (a partition index), `page_files` per driver-side page. Returns
    (rows, next_cursor): `next_cursor` is None when the scan completed,
    otherwise pass it back to continue. Rows are decoded on the driver
    with no Spark job — callers wanting a full-table DataFrame should
    use scan() instead; this API exists for bounded-latency reads.
    """
    from pyspark.sql import Row

    files = prune_partitions(out_dir, host_eq, ts_range, lang_eq)
    # cursor order must follow the numeric part index, not lexicographic
    # file order: streaming names (part-e{epoch}-{pid}) sort e10 < e2
    # textually while pids grow with epoch, which would make a resumed
    # cursor re-read returned partitions and skip unprocessed ones
    files = sorted((f for f in files if _file_part_index(f) >= cursor),
                   key=_file_part_index)
    if not files:
        return [], None
    from skar_spark.engine.schema_evo import table_schema
    tcols, ttypes = table_schema(out_dir, files)
    rows, nxt = paged_decode_loop(
        spark, files, columns or tcols, host_eq=host_eq, ts_range=ts_range,
        lang_eq=lang_eq, time_limit_ms=time_limit_ms,
        page_files=page_files, fill=ttypes)
    return [Row(**d) for d in rows], nxt


def read_part_table(path: str, columns: list[str] | None = None,
                    **read_kw) -> pa.Table:
    """read_part_file(path, **read_kw) projected to `columns` (default:
    every stored column + `host`), `host` derived from `url` Arrow-side —
    the per-file read of the DataSource tasks and paged_decode_loop."""
    from skar_spark.engine.partfile import _derive_host, read_footer

    want = columns or read_footer(path)["columns"] + ["host"]
    inner = [c for c in want if c != "host"]
    if "host" in want and "url" not in inner:
        inner.append("url")
    t = read_part_file(path, columns=inner, **read_kw)
    if "host" in want:
        t = t.append_column("host", _derive_host(t["url"]))
    return t.select(want)


def paged_decode_loop(spark: SparkSession, files: list[str],
                      columns: list[str], *,
                      host_eq: str | None = None,
                      ts_range: tuple[int, int] | None = None,
                      lang_eq: str | None = None,
                      time_limit_ms: int | None = None,
                      page_files: int = 64,
                      row_limit: int | None = None,
                      post=None,
                      fill: dict[str, str] | None = None
                      ) -> tuple[list[dict], int | None]:
    """THE page/cursor/budget loop — shared by scan_paged and the JSON
    query handler so the folder-granular truncation semantics exist in
    exactly one place. Decodes `files` (already pruned + part-index
    sorted) on the driver, page by page (no Spark job), optionally
    pipes each page's table through `post` (filter/projection), and
    stops when the wall-clock budget or row bound is reached — always
    at a page boundary, so the returned next_cursor never skips or
    re-reads rows. Returns (row dicts, next_cursor); timestamps are
    naive UTC, as a collect under the session's UTC zone returns them.
    `spark` is unused: perfbench/trace.py reads `files` as argument 1."""
    import time as _time

    t0 = _time.time()
    rows: list[dict] = []
    pos = 0
    while pos < len(files):
        page = files[pos:pos + page_files]
        t = pa.concat_tables([read_part_table(
            f, columns, host_eq=host_eq, ts_range=ts_range,
            lang_eq=lang_eq, fill_missing=fill) for f in page])
        if post is not None:
            t = post(t)
        rows.extend(t.cast(pa.schema(
            [(f.name, pa.timestamp("us")) if pa.types.is_timestamp(f.type)
             else f for f in t.schema]), safe=False).to_pylist())
        pos += len(page)
        if row_limit is not None and len(rows) >= row_limit:
            break
        if time_limit_ms is not None and \
                (_time.time() - t0) * 1000 >= time_limit_ms:
            break
    if pos >= len(files):
        return rows, None
    return rows, _file_part_index(files[pos])


def _file_part_index(path: str) -> int:
    """Order/cursor key of a part file: the trailing integer in its name
    (covers both batch `part-000007.skar` and streaming
    `part-e3-000000007.skar` namespaces)."""
    import re
    m = re.search(r"(\d+)\.skar$", os.path.basename(path))
    return int(m.group(1)) if m else 0
