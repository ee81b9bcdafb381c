"""`spark.read.format("skar")` — Python DataSource over encoded part files.

PySpark 4's Python Data Source API wraps the engine's decode path as a
first-class reader, so the encoded output is queryable like any other
format:

    from skar_spark.sources import register
    register(spark)
    df = spark.read.format("skar").load(out_dir)
    df.filter(F.col("host") == "www.example.com")        # pushed down
    df.filter(F.col("lang") == "de")                     # pushed down
    df.filter(F.col("warc_ts") >= "2024-03-01")          # pushed down
    df.filter(F.col("url") == "https://a.com/x")         # prunes via host

Filter pushdown is automatic (`pushFilters`): equality on the derived
`host` column, equality on `lang`, and range bounds on `warc_ts` are
absorbed by the engine into the reader's one conjunct (the read
predicate of engine.decode / partfile.read_part_file) — partition
pruning via the lineage index (zone maps + the host AND lang bloom
families, probed driver-side), row-group pruning + the EXACT filter
inside each read task. `host IN (...)` and equality on `url` narrow the
conjunct's hosts too (url via its host), but are also left for Spark to
evaluate. This is the mirror of the reference's automatic
constant pushdown through folder + row-group pruning with its address
and topic bloom families (skar/src/query/handler.rs:144-158,
data_provider.rs:185-333, build_parquet_idx.rs:89-171).

Explicit `.option("host_eq"/"lang_eq"/"ts_lo"/"ts_hi"/"columns", ...)`
seed that conjunct, with the same exact semantics. Bounded
pagination (the reference's `next_block` cursor, handler.rs:252-258):
`.option("cursor", k).option("page_files", m)`, or `read_paged(...)`
which also returns the resume cursor. Snapshot time travel on tables
encoded with ``EngineConfig.retain_superseded``:
`.option("as_of", unix_seconds)` resolves the file set to the snapshot
committed at or before that instant (Iceberg time-travel semantics,
native on the lineage table — see engine.encode.snapshots/vacuum).
Continuous tailing: `spark.readStream.format("skar").load(out)` emits
newly committed part files per micro-batch (`SkarStreamReader` — the
follow-mode pairing for tables written by `streaming.stream_encode`).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

TS_MIN = -(1 << 62)
TS_MAX = 1 << 62


def _to_us(v) -> int:
    """Literal timestamp → epoch microseconds (session tz is UTC)."""
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, _dt.date):
        return int(_dt.datetime(v.year, v.month, v.day,
                                tzinfo=_dt.timezone.utc).timestamp()
                   * 1_000_000)
    return int(v)


def _host_of_url(url: str) -> str | None:
    import re
    m = re.match(r"^[a-z][a-z0-9+.-]*://([^/?#]*)", url)
    return m.group(1) if m else None


class SkarPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class SkarDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "skar"

    def _cols(self):
        cols = self.options.get("columns")
        return [c.strip() for c in cols.split(",")] if cols else None

    def schema(self) -> str:
        from skar_spark.engine.decode_schema import spark_ddl_for
        from skar_spark.engine.schema_evo import table_schema

        # merged table schema if the table has evolved (Iceberg
        # add-column, engine/schema_evo.py); first footer otherwise
        tcols, ttypes = table_schema(self.options["path"])
        cols = self._cols() or tcols + ["host"]
        stored = [c for c in cols if c != "host"]
        ddl = spark_ddl_for(ttypes, stored)
        if "host" in cols:
            parts = ([p.strip() for p in ddl.split(",")] if ddl else [])
            parts.insert(cols.index("host"), "host string")
            ddl = ", ".join(parts)
        return ddl

    def reader(self, schema) -> "SkarReader":
        return SkarReader(self.options, self._cols())

    def streamReader(self, schema) -> "SkarStreamReader":
        return SkarStreamReader(self.options, self._cols())


def _options_conjunct(options) -> dict:
    """The read conjunct of the explicit `host_eq`/`lang_eq`/`ts_lo`/
    `ts_hi` options (the reader and read_paged share it)."""
    from skar_spark.engine.decode import conjunct

    lo, hi = options.get("ts_lo"), options.get("ts_hi")
    return conjunct(options.get("host_eq"),
                    (int(lo or TS_MIN), int(hi or TS_MAX))
                    if lo or hi else None, options.get("lang_eq"))


class SkarReader(DataSourceReader):
    def __init__(self, options, cols):
        self.path = options["path"]
        self.cols = cols
        self.conj = _options_conjunct(options)
        # paged read (the reference's next_block cursor analog,
        # query/handler.rs:252-258): cursor = numeric part index to start
        # at, page_files = max partitions this read returns. Use
        # read_paged() to also get the resume cursor.
        self.cursor = int(options.get("cursor", 0))
        pf = options.get("page_files")
        self.page_files = int(pf) if pf else None
        # snapshot time travel (unix seconds) — tables encoded with
        # EngineConfig.retain_superseded keep superseded attempt files,
        # so the planner can resolve any past snapshot from lineage
        ao = options.get("as_of")
        self.as_of = float(ao) if ao else None
        # hot-tier union (reference data_provider.rs:56-105): serve the
        # in-progress uncommitted epoch alongside committed parts
        self.include_hot = str(options.get("include_hot", "")).lower() \
            in ("1", "true")
        # evolved-table support: resolve the merged schema ONCE at plan
        # time; read tasks null-fill columns a part predates
        from skar_spark.engine.schema_evo import load_table_schema
        ts = load_table_schema(self.path)
        self.table_cols = (ts[0] + ["host"]) if ts else None
        self.fill = ts[1] if ts else None

    # -- filter pushdown (planning time, driver side) ------------------
    def _narrow_hosts(self, values) -> None:
        hosts = self.conj.get("hosts")
        self.conj["hosts"] = list(values) if hosts is None else [
            h for h in hosts if h in values]

    def _narrow_ts(self, lo: int, hi: int) -> None:
        cur = self.conj.get("ts_range", (TS_MIN, TS_MAX))
        self.conj["ts_range"] = (max(cur[0], lo), min(cur[1], hi))

    def pushFilters(self, filters):
        """Absorb host and lang equality and warc_ts bounds into the one
        conjunct; everything yielded back is still evaluated by Spark.
        The conjunct prunes partitions and row groups and is applied
        EXACTLY inside read tasks (read_part_file)."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("host",) \
                    and f.value in self.conj.get("hosts", [f.value]):
                self._narrow_hosts([f.value])
            elif isinstance(f, EqualTo) and f.attribute == ("lang",) \
                    and isinstance(f.value, str) \
                    and self.conj.get("langs") in (None, [f.value]):
                # absorbed: partition pruning via the lang bloom family +
                # row-group lbloom skip + exact filter in the read task
                self.conj["langs"] = [f.value]
            elif isinstance(f, In) and f.attribute == ("host",):
                if all(isinstance(v, str) for v in f.value):
                    self._narrow_hosts(f.value)
                yield f  # Spark applies the IN itself too
            elif isinstance(f, EqualTo) and f.attribute == ("url",) \
                    and isinstance(f.value, str):
                h = _host_of_url(f.value)
                if h:
                    self._narrow_hosts([h])
                yield f  # Spark still applies the url match
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)) \
                    and f.attribute == ("warc_ts",):
                self._narrow_ts(_to_us(f.value) + (
                    1 if isinstance(f, GreaterThan) else 0), TS_MAX)
            elif isinstance(f, (LessThan, LessThanOrEqual)) \
                    and f.attribute == ("warc_ts",):
                self._narrow_ts(TS_MIN, _to_us(f.value) + (
                    1 if isinstance(f, LessThanOrEqual) else 0))
            else:
                yield f

    def partitions(self):
        # planning runs in a Python worker with no SparkSession — the
        # engine's pruner is driver-local, so it runs here as well
        from skar_spark.engine.decode import page_slice, prune_selections

        files = prune_selections(self.path, [self.conj], as_of=self.as_of,
                                 include_hot=self.include_hot)
        files = page_slice(files, self.cursor, self.page_files)
        return [SkarPartition(f) for f in files]

    def read(self, partition: SkarPartition):
        if partition is None:  # Spark's placeholder when no partitions
            return
        yield from _read_part_batches(
            partition.path, self.cols, where=[self.conj],
            table_cols=self.table_cols, fill_missing=self.fill)


def _read_part_batches(path: str, cols, table_cols=None, **read_kw):
    """One part file as Arrow batches, by default every stored column
    plus the derived `host` (partfile.read_part_file) — the shared
    read-task body of the batch and stream readers. `table_cols`/
    `fill_missing` carry the merged schema of an evolved table so
    columns a part predates come back null-filled."""
    from skar_spark.engine.partfile import read_footer, read_part_file

    cols = cols or table_cols or read_footer(path)["columns"] + ["host"]
    yield from read_part_file(path, cols, **read_kw).to_batches(
        max_chunksize=16384)


class SkarStreamReader(DataSourceStreamReader):
    """`spark.readStream.format("skar")` — tail-follow over an encoded
    table: each micro-batch reads the part files COMMITTED since the
    last offset. The mirror of the reference's continuous follow mode
    (its ingest loop keeps serving queries while new block-range folders
    land, skar/src/skar_runner.rs:107-158).

    Offset model: COMMITTED part files (from lineage, intersected with
    the directory) sorted by numeric part index; `{"index": n}` = files
    emitted so far. Lineage is what makes this monotone under
    concurrent ingest: an epoch's part files are renamed into place in
    task-completion order (a raw directory listing could surface pid
    102 before 100 and a count-based offset would skip 100 forever),
    but the epoch's lineage rows land in ONE PUT AFTER every part
    landed — so the committed list only ever grows by whole
    increments, whose pids all exceed every id committed before: every
    writer that adds partitions (stream epochs of any checkpoint,
    appends, compaction) allocates above the lineage high-water
    (encode.allocate_part_ids). A COMPLETED batch table trivially
    satisfies this too.
    Not supported: snapshot-retaining tables (a superseding attempt
    inserts a new file at an existing pid) and compacted tables (files
    below the high-water mark were removed) — both rejected at stream
    start; tailing a batch table mid-resume (gap-filling re-encodes
    insert below the high-water mark) is likewise out of scope.
    """

    def __init__(self, options, cols):
        self.path = options["path"]
        self.cols = cols
        from skar_spark.engine.schema_evo import load_table_schema
        ts = load_table_schema(self.path)
        self.table_cols = (ts[0] + ["host"]) if ts else None
        self.fill = ts[1] if ts else None
        from skar_spark.engine.compact import is_compacted
        from skar_spark.engine.encode import is_retained
        if is_retained(self.path):
            raise ValueError(
                "streaming read of a retain_superseded table is not "
                "supported: superseded attempts break the monotone "
                "file-index offset model (vacuum first)")
        if is_compacted(self.path):
            raise ValueError(
                "streaming read of a compacted table is not supported: "
                "compaction removed files below the high-water mark, so "
                "a resumed offset would mis-slice — export the archival "
                "table with a batch read instead")

    def _files(self):
        from skar_spark.engine.decode import (
            _file_part_index,
            prune_partitions,
        )

        # the table's members: lineage when it exists (the only valid
        # offset source — a transient read error propagates, since the
        # raw listing would reintroduce the intra-epoch publish-order
        # race), else the listing (a brand-new empty table or a static
        # hand-built directory; no writer races a lineage-less dir)
        return sorted(prune_partitions(self.path), key=_file_part_index)

    def initialOffset(self) -> dict:
        return {"index": 0}

    def latestOffset(self) -> dict:
        return {"index": len(self._files())}

    def partitions(self, start: dict, end: dict):
        files = self._files()[start["index"]:end["index"]]
        return [SkarPartition(f) for f in files]

    def read(self, partition: SkarPartition):
        if partition is None:
            return
        yield from _read_part_batches(partition.path, self.cols,
                                      table_cols=self.table_cols,
                                      fill_missing=self.fill)

    def commit(self, end: dict) -> None:
        pass  # progress is tracked by Spark's streaming checkpoint


def read_paged(spark, path: str, cursor: int = 0, page_files: int = 64,
               **options) -> tuple:
    """Bounded partial read through the skar DataSource with a resume
    cursor — the `next_block` pagination analog
    (/root/reference/skar/src/query/handler.rs:252-258) for batch
    callers. Returns (DataFrame over at most `page_files` partitions,
    next_cursor); next_cursor is None when this page completes the scan,
    else pass it back to continue. The page membership is derived with
    the SAME pruning + ordering the reader's planner uses, so the
    DataFrame and the cursor always agree. Wall-clock budgeting
    (time_limit_ms) lives in engine.decode.scan_paged, which collects
    incrementally; a DataFrame-returning API can only bound volume."""
    from skar_spark.engine.decode import (
        _file_part_index,
        page_slice,
        prune_selections,
    )

    # every reader-honored pruning option must reach this call too: the
    # cursor arithmetic and the DataFrame must be derived from the SAME
    # file list (e.g. an as_of snapshot read on a retain_superseded
    # table — pruning the latest view here while the reader resolves the
    # snapshot view would make resumed pagination skip/repeat partitions)
    pruned = prune_selections(
        path, [_options_conjunct(options)],
        as_of=float(options["as_of"]) if options.get("as_of") else None)
    remaining = page_slice(pruned, cursor)
    page = remaining[:page_files]
    nxt = (_file_part_index(remaining[len(page)])
           if len(remaining) > len(page) else None)
    reader = spark.read.format("skar").option("cursor", str(cursor)) \
        .option("page_files", str(page_files))
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load(path), nxt


def register(spark) -> None:
    # pushFilters() requires the (default-off) Python-source pushdown flag
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SkarDataSource)
