"""The Spark decode/scan path over encoded part files.

Mirror of the reference's query-side read pipeline: folder pruning via the
index (db/mod.rs:217-305) → row-group selection via zone maps + blooms
(data_provider.rs:185-333) → projected parallel column decode
(data_provider.rs:112-119). Here:

- one read predicate: a *where*, an OR of conjuncts over hosts, langs,
  url prefixes, a ts range and a numeric column range (see
  `partfile.read_part_file`), is the only input of all three steps;
  the single-value kwargs of `scan`, `scan_paged`, `scan_changes` and
  `prune_partitions` build one `conjunct`;
- partition pruning is DRIVER-LOCAL, the reference's single-node index
  SEEK (db/mod.rs:217-305): `prune_selections` streams lineage
  through the one lineage reader (`encode.lineage_row_groups`) and
  tests each conjunct per partition with `partfile.may_match` (zone
  maps, host and lang blooms, numeric col_stats), the prune_query
  analog (handler.rs:187-250), skipping whole lineage row groups by
  their min/max_warc_ts stats on ts-bounded reads; membership follows
  the one latest-attempt rule (`encode.newest_attempts`). No Spark job
  is launched. Lineage fits on the driver because it holds one row per
  PARTITION, not per document — about 10^6 rows at 10^12 docs — and
  the pass keeps only {partition → file, verdict}, holding the blooms
  of one lineage row group at a time;
- row-group pruning (the same `may_match` on footer row groups) +
  projection + the EXACT predicate happen in `read_part_file`: in the
  skar DataSource's read tasks for scans (`scan` returns
  `spark.read.format("skar")`, whose planner prunes when the DataFrame
  runs), on the driver (no Spark job) for bounded reads;
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

from skar_spark.engine import storage
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


def refuse_hot_tail(out_dir: str) -> None:
    """Raise ValueError unless `out_dir` is a plain table, the only kind
    with a hot tail (see hot_tail_files)."""
    from skar_spark.engine.compact import is_compacted
    from skar_spark.engine.encode import is_retained

    if is_retained(out_dir) or is_compacted(out_dir):
        raise ValueError(
            f"include_hot refused on {out_dir}: retained/compacted "
            "tables delete files, so unrecorded on-disk files are crash "
            "orphans — the hot tail exists only on plain tables")


def hot_tail_files(out_dir: str,
                   listing: list[str] | None = None) -> list[str]:
    """The HOT TAIL: part files on disk with no lineage row at all —
    the in-progress (not yet committed) streaming epoch or batch. The
    mirror of the reference serving its uncommitted in-memory tail
    alongside cold folders (query/data_provider.rs:56-105,
    state.rs:82-107). Only meaningful on plain tables: retained /
    compacted tables delete files, so an unrecorded file there is a
    crash orphan, not fresh data — refused. `listing` is the caller's
    list_part_files, when it has one."""
    from skar_spark.engine.encode import lineage_table

    refuse_hot_tail(out_dir)
    lin = lineage_table(out_dir, ["file"])
    if lin is None:
        return []
    recorded = set(lin["file"].to_pylist())
    return [f for f in (list_part_files(out_dir) if listing is None
                        else listing) if f not in recorded]


def _lineage_survivors(out_dir: str, where: list[dict],
                       as_of: float | None = None,
                       seek_stats: dict | None = None
                       ) -> dict[str, list[int]] | None:
    """THE pruning pass: one driver-local stream over the lineage
    (encode.lineage_row_groups), the analog of the reference's
    single-node index seek (db/mod.rs:217-305). Returns {file: [indices
    of the conjuncts of `where` the file's partition may satisfy]} for
    the files at least one conjunct keeps, or None when the table has
    no lineage directory (the caller applies the listing policy,
    `_listing_membership`).

    Each conjunct is tested by `partfile.may_match`, the same test
    read_part_file applies to footer row groups: ``ts_range`` against
    the min/max_warc_ts zone maps, ``hosts`` (and the host a
    ``url_prefix`` implies) against ``host_bloom``, ``langs`` against
    ``lang_bloom``, ``col_range`` against the numeric ``col_stats``.
    Unknown metadata (null zone map, null bloom, missing bloom column,
    no stats for the column) never prunes.

    Membership is resolved per ``partition_id`` by read_lineage's rule
    (encode.newest_attempts), folded one row group at a time over the
    attempts committed at or before `as_of` when given. Only
    {partition_id → (file, kept conjuncts)} is kept, so memory stays
    O(#partitions) strings plus one lineage row group's blooms.
    ts-filtered passes on live tables also skip whole lineage row groups
    (the reader's seek)."""
    import json

    from skar_spark.engine.encode import (
        is_retained,
        lineage_row_groups,
        newest_attempts,
    )
    from skar_spark.engine.partfile import may_match

    def _uses(*keys):
        return any(c.get(k) is not None for c in where for k in keys)

    bloom_cols = [c for c, used in (
        ("host_bloom", _uses("hosts", "url_prefix")),
        ("lang_bloom", _uses("langs"))) if used]
    use_stats = _uses("col_range")
    cols = ["partition_id", "file", "min_warc_ts", "max_warc_ts",
            "committed_at", "attempt_id", *bloom_cols,
            *(["col_stats"] if use_stats else [])]
    # ts-filtered planning on a live table SEEKS via the sorted
    # lineage's row-group stats when every conjunct bounds ts (their
    # union's envelope drives the skip — a safe over-approximation: a
    # skipped row group contains only rows every conjunct's zone-map
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
    ranges = [c.get("ts_range") for c in where]
    seek = None
    if ranges and all(r is not None for r in ranges) and as_of is None \
            and not is_retained(out_dir):
        seek = (min(r[0] for r in ranges), max(r[1] for r in ranges))

    def _us(col):
        # epoch µs whatever the stored unit (sub-µs truncation is exact
        # against integer-µs bounds); None for an unknown zone
        return col.cast(pa.timestamp("us"), safe=False).cast(
            pa.int64()).to_pylist()

    rgs = lineage_row_groups(out_dir, cols, seek, seek_stats)
    if rgs is None:
        return None
    seen: dict[int, tuple] = {}
    latest: dict[int, tuple[str, list[int]]] = {}
    for batch in rgs:
        if batch.num_rows == 0:
            continue
        lo, hi = (_us(batch.column(c))
                  for c in ("min_warc_ts", "max_warc_ts"))
        files = batch.column("file").to_pylist()
        meta = {c: batch.column(c).to_pylist() for c in bloom_cols}
        stats = batch.column("col_stats").to_pylist() if use_stats else None
        # per PARTITION metadata row, not per data row
        for pid, i in newest_attempts(batch, as_of, seen).items():
            hb, lb = (meta[c][i] if c in meta else None
                      for c in ("host_bloom", "lang_bloom"))
            st = json.loads(stats[i]) if stats and stats[i] else None
            latest[pid] = (files[i], [
                j for j, c in enumerate(where) if may_match(
                    c, (lo[i], hi[i]), None, hb, lb, st)])
    return {f: kept for f, kept in latest.values() if kept}


def _listing_membership(out_dir: str, listing: list[str]) -> list[str]:
    """Membership of a table without a lineage directory: `listing` —
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
    return listing


def conjunct(host_eq: str | None = None,
             ts_range: tuple[int, int] | None = None,
             lang_eq: str | None = None,
             col_range: tuple[str, float, float] | None = None,
             any_hosts: list[str] | None = None) -> dict:
    """The one read conjunct (see partfile.read_part_file) of the
    single-value kwargs of prune_partitions and the scans. `host_eq`
    and `any_hosts` (host IN; empty or None = any) intersect."""
    hosts = None if host_eq is None else [host_eq]
    if any_hosts:
        hosts = [h for h in hosts or any_hosts if h in any_hosts]
    c = {"hosts": hosts, "ts_range": ts_range,
         "langs": None if lang_eq is None else [lang_eq],
         "col_range": col_range}
    return {k: v for k, v in c.items() if v is not None}


def prune_partitions(out_dir: str,
                     host_eq: str | None = None,
                     ts_range: tuple[int, int] | None = None,
                     lang_eq: str | None = None,
                     as_of: float | None = None,
                     include_hot: bool = False,
                     col_range: tuple[str, float, float] | None = None,
                     any_hosts: list[str] | None = None,
                     seek_stats: dict | None = None) -> list[str]:
    """The member files (listing order) that may hold rows of the one
    `conjunct` these kwargs build — prune_selections of that conjunct.

    `host_eq` and `any_hosts` are ANDed (url-equality and host-IN
    pruning). `col_range` ``(col, lo, hi)`` keeps partitions whose
    [min, max] overlaps [lo, hi) or that have no stats for the column.
    `as_of`, `include_hot` and `seek_stats` are prune_selections'."""
    return list(prune_selections(
        out_dir, [conjunct(host_eq, ts_range, lang_eq, col_range,
                           any_hosts)],
        seek_stats, as_of=as_of, include_hot=include_hot))


def prune_selections(out_dir: str, where: list[dict],
                     seek_stats: dict | None = None, *,
                     as_of: float | None = None,
                     include_hot: bool = False,
                     listing: list[str] | None = None
                     ) -> dict[str, list[int]]:
    """Partition pruning of a read predicate — the mirror of the folder
    index seek (db/mod.rs:217-305) and prune_query's per-selection
    folder skipping (handler.rs:144-158, 187-250).

    `where` is the OR of conjuncts read_part_file takes. Returns
    {file: [indices of the conjuncts that may match it]} for the member
    files at least one conjunct may match, in listing order, from one
    driver-local lineage pass (`_lineage_survivors`): no Spark job, so
    it is safe in DataSource planning workers. ``[]`` keeps nothing.

    Lineage is the SOURCE OF TRUTH for table membership: a part file
    with no row in the selected view is either superseded (snapshot
    retention), outside the as_of snapshot, not yet committed (its
    writer re-encodes it on resume — atomic rename makes the eventual
    commit idempotent), or orphaned by a crash between a vacuum/
    compaction lineage swap and its file deletes; none is returned.
    A table without a lineage directory (static, hand-built) is its
    listing.

    `as_of` selects the snapshot view (latest attempt committed at or
    before that unix time per partition — Iceberg time travel on tables
    encoded with ``retain_superseded``). `include_hot` also serves the
    HOT TAIL (`hot_tail_files`, plain tables only) — files carry no
    pruning metadata, so they survive for every conjunct and the exact
    filter applies in the read. `seek_stats` is filled with the lineage
    row-group counters (`encode.lineage_row_groups`). `listing` is the
    caller's list_part_files, so one query lists the table once."""
    if not where:
        return {}
    if listing is None:
        listing = list_part_files(out_dir)
    hot = set(hot_tail_files(out_dir, listing)) if include_hot else set()
    survived = _lineage_survivors(out_dir, where, as_of, seek_stats)
    every = list(range(len(where)))
    if survived is not None and not survived.keys() <= set(listing):
        # a commit landed after the caller listed: re-list, so no
        # committed increment is served partially
        listing = list_part_files(out_dir)
    if survived is None:
        survived = dict.fromkeys(_listing_membership(out_dir, listing),
                                 every)
    return {f: survived.get(f, every) for f in listing
            if f in survived or f in hot}


def scan(spark: SparkSession, out_dir: str,
         columns: list[str] | None = None,
         host_eq: str | None = None,
         ts_range: tuple[int, int] | None = None,
         lang_eq: str | None = None,
         as_of: float | None = None,
         include_hot: bool = False,
         part_ids: set[int] | None = None,
         col_range: tuple[str, float, float] | None = None) -> DataFrame:
    """Distributed decode: the skar DataSource (`sources`), one read task
    per part file, Arrow batches out. `columns` defaults to the table
    columns (no derived ``host``).

    Predicates are EXACT: the kwargs build one `conjunct`; partitions and
    row groups that can't match are pruned via zone maps + blooms (host
    and lang families), and surviving row groups are post-filtered inside
    the read task (read_part_file), so the returned DataFrame contains
    precisely the matching rows. The file set resolves when the
    DataFrame runs (the DataSource planner), not when scan is called.

    `as_of` (unix seconds) time-travels to the snapshot committed at or
    before that instant — meaningful on tables encoded with
    ``EngineConfig.retain_superseded=True`` (superseded attempt files are
    kept until ``vacuum``); before the first commit the scan is empty.

    ``include_hot=True`` unions the hot tail (uncommitted in-progress
    epoch) with the committed cold set — see prune_selections.

    ``part_ids`` restricts the scan to those partition ids (after the
    predicate pruning above; an empty set reads nothing) — the
    partition-targeted read of merge_updates/delete_rows and
    compaction."""
    import json

    from skar_spark.sources import register

    if include_hot:
        # here, not only in the planner worker, so the caller gets the
        # ValueError rather than Spark's wrapping AnalysisException
        refuse_hot_tail(out_dir)
    if columns is None:
        from skar_spark.engine.schema_evo import table_schema
        columns = table_schema(out_dir)[0]
    opts = {"columns": ",".join(columns),
            "where": json.dumps([conjunct(host_eq, ts_range, lang_eq,
                                          col_range)]),
            "include_hot": str(include_hot).lower()}
    if as_of is not None:
        opts["as_of"] = str(as_of)
    if part_ids is not None:
        opts["part_ids"] = ",".join(map(str, sorted(part_ids)))
    register(spark)
    return spark.read.format("skar").options(**opts).load(out_dir)


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
    meta = lin.select("partition_id", "file", "text_checksum")

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

    lin = lineage_table(out_dir, ["partition_id", "committed_at",
                                  "attempt_id"])
    if lin is None:
        raise FileNotFoundError(f"no lineage under {out_dir}; the "
                                "change feed requires a committed table")
    # driver-local, metadata-scale
    pids = {r["partition_id"] for r in latest_lineage(lin, until).to_pylist()
            if since is None or (r["committed_at"] is not None
                                 and r["committed_at"] > since)}
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

    files = page_slice(prune_partitions(out_dir, host_eq, ts_range,
                                        lang_eq), cursor)
    if not files:
        return [], None
    from skar_spark.engine.schema_evo import table_schema
    tcols, ttypes = table_schema(out_dir, files)
    rows, nxt = paged_decode_loop(
        spark, files, columns or tcols,
        where=[conjunct(host_eq, ts_range, lang_eq)],
        time_limit_ms=time_limit_ms, page_files=page_files, fill=ttypes)
    return [Row(**d) for d in rows], nxt


def paged_decode_loop(spark: SparkSession, files: list[str],
                      columns: list[str], *,
                      where: list[dict] | None = None,
                      time_limit_ms: int | None = None,
                      page_files: int = 64,
                      row_limit: int | None = None,
                      fill: dict[str, str] | None = None
                      ) -> tuple[list[dict], int | None]:
    """THE page/cursor/budget loop — shared by scan_paged and the JSON
    query handler so the folder-granular truncation semantics exist in
    exactly one place. Decodes `files` (already pruned + part-index
    sorted) on the driver, page by page (no Spark job): one
    read_part_file per file with the projection `columns` (``host``
    derived), the exact `where` and the null-fill types `fill`, and
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
        t = pa.concat_tables([read_part_file(f, columns, where, fill)
                              for f in page])
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


def page_slice(files: list[str], cursor: int) -> list[str]:
    """THE cursor slice of a pruned file list: the files at part index
    ≥ `cursor` in numeric part-index order; callers page from its head.
    The order must be numeric, not lexicographic: streaming names
    (part-e{epoch}-{pid}) sort e10 < e2 textually while pids grow with
    epoch, which would make a resumed cursor re-read returned
    partitions and skip unprocessed ones."""
    return sorted((f for f in files if _file_part_index(f) >= cursor),
                  key=_file_part_index)


def _file_part_index(path: str) -> int:
    """Order/cursor key of a part file: the trailing integer in its name
    (covers both batch `part-000007.skar` and streaming
    `part-e3-000000007.skar` namespaces)."""
    import re
    m = re.search(r"(\d+)\.skar$", os.path.basename(path))
    return int(m.group(1)) if m else 0
