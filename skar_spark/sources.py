"""`spark.read.format("skar")` — Python DataSource over encoded part files.

PySpark 4's Python Data Source API wraps the engine's decode path as a
first-class reader, so the encoded output is queryable like any other
format. It is the engine's one distributed read: `decode.scan` and
compaction return it too.

    from skar_spark.sources import register
    register(spark)
    df = spark.read.format("skar").load(out_dir)
    df.filter(F.col("host") == "www.example.com")        # pushed down
    df.filter(F.col("lang") == "de")                     # pushed down
    df.filter(F.col("warc_ts") >= "2024-03-01")          # pushed down
    df.filter(F.col("url") == "https://a.com/x")         # prunes via host

Options (all strings):

- ``columns``: comma list of the columns to read (default: every table
  column plus the derived ``host``);
- ``where``: the read predicate as JSON, the OR of conjuncts
  `partfile.read_part_file` takes (default ``[{}]``, every row). It
  drives partition pruning via the lineage index (zone maps + the host
  AND lang bloom families, probed at planning), row-group pruning and
  the EXACT filter inside each read task;
- ``part_ids``: comma list of partition ids; the pruned files are
  restricted to them (an empty list reads nothing; an id compaction
  retired raises). `read_paged(...)` pins a cursor page with it (the
  reference's `next_block` cursor, handler.rs:252-258) and returns the
  resume cursor;
- ``as_of``: unix seconds; snapshot time travel on tables encoded with
  ``EngineConfig.retain_superseded`` resolves the file set to the
  snapshot committed at or before that instant (Iceberg time-travel
  semantics, native on the lineage table — see
  engine.encode.snapshots/vacuum);
- ``include_hot``: ``true`` also serves the uncommitted hot tail.

Filter pushdown is automatic (`pushFilters`): equality on the derived
`host` column, equality on `lang`, and range bounds on `warc_ts` are
ANDed into every conjunct of `where` and left to the engine. `host IN
(...)` and equality on `url` narrow the conjuncts' hosts too (url via
its host), but are also left for Spark to evaluate. This is the mirror
of the reference's automatic constant pushdown through folder +
row-group pruning with its address and topic bloom families
(skar/src/query/handler.rs:144-158, data_provider.rs:185-333,
build_parquet_idx.rs:89-171).

Continuous tailing: `spark.readStream.format("skar").load(out)` emits
newly committed part files per micro-batch (`SkarStreamReader` — the
follow-mode pairing for tables written by `streaming.stream_encode`);
of the options it honors ``columns`` only.
"""

from __future__ import annotations

import datetime as _dt
import json

import pyarrow as pa
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

_SPARK = {
    "i8": "byte", "i16": "short", "i32": "int", "i64": "long",
    "u8": "short", "u16": "int", "u32": "long", "u64": "long",
    "f32": "float", "f64": "double", "bool": "boolean",
    "date32": "date",
    "str": "string", "lstr": "string", "bin": "binary", "lbin": "binary",
}


def spark_type_for(code: str) -> str:
    if code in _SPARK:
        return _SPARK[code]
    if code.startswith("ts:"):
        return "timestamp"
    raise TypeError(f"no spark type for {code}")


def spark_ddl_for(types: dict[str, str], columns: list[str]) -> str:
    """Spark DDL of `columns` under the typecodes `types`; the derived
    ``host`` is a string."""
    return ", ".join(
        f"{c} {'string' if c == 'host' else spark_type_for(types[c])}"
        for c in columns)


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


def _where(options) -> list[dict]:
    """The read predicate of the `where` option (absent: every row)."""
    w = options.get("where")
    return [{}] if w is None else json.loads(w)


def _member_files(path: str, where: list[dict], options) -> list[str]:
    """The files a read of `where` under `options` may touch: the pruned
    members (``as_of``, ``include_hot``) restricted to ``part_ids`` (an
    id compaction retired raises: its rows moved to new ids). The
    reader's planner and read_paged's page both take it, so they agree."""
    from skar_spark.engine.compact import is_compacted
    from skar_spark.engine.decode import _file_part_index, prune_selections

    ao = options.get("as_of")
    view = {"as_of": float(ao) if ao else None,
            "include_hot": str(options.get("include_hot", "")).lower()
            in ("1", "true")}
    files = prune_selections(path, where, **view)
    ids = options.get("part_ids")
    if ids is None:
        return list(files)
    keep = {int(p) for p in ids.split(",") if p.strip()}
    gone = keep - {_file_part_index(f) for f in files}
    if gone and is_compacted(path):
        gone -= {_file_part_index(f)
                 for f in prune_selections(path, [{}], **view)}
        if gone:
            raise LookupError(
                f"partitions {sorted(gone)} of {path} were compacted "
                "after this read was planned; restart the read")
    return [f for f in files if _file_part_index(f) in keep]


class SkarPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class SkarDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "skar"

    def _columns(self) -> list[str]:
        cols = self.options.get("columns")
        return ([c.strip() for c in cols.split(",")] if cols
                else self._table_schema()[0] + ["host"])

    def _table_schema(self) -> tuple[list[str], dict[str, str]]:
        """The merged table schema (meta/schema.json, else the first
        footer; schema_evo.table_schema), loaded once: schema() keeps it
        on the instance, which PySpark pickles to reader(). Only a
        user-supplied schema skips schema() and loads it there."""
        if not hasattr(self, "_table"):
            from skar_spark.engine.schema_evo import table_schema
            self._table = table_schema(self.options["path"])
        return self._table

    def schema(self) -> str:
        return spark_ddl_for(self._table_schema()[1], self._columns())

    def reader(self, schema) -> "SkarReader":
        return SkarReader(self.options, self._columns(),
                          self._table_schema()[1])

    def streamReader(self, schema) -> "SkarStreamReader":
        return SkarStreamReader(self.options, self._columns(),
                                self._table_schema()[1])


def _read_part_batches(path: str, cols: list[str], types: dict[str, str],
                       where: list[dict] | None = None):
    """One part file as Arrow batches — the read-task body of the batch
    and stream readers. `types` is the merged table schema, so columns
    a part predates come back null-filled (schema_evo)."""
    from skar_spark.engine.partfile import read_part_file

    yield from read_part_file(path, cols, where, types).to_batches(
        max_chunksize=16384)


class SkarReader(DataSourceReader):
    def __init__(self, options, cols: list[str], types: dict[str, str]):
        self.path = options["path"]
        self.options = options
        self.cols = cols
        self.types = types
        self.where = _where(options)

    # -- filter pushdown (planning time, in the planner worker) --------
    def _narrow(self, key: str, values) -> None:
        """AND `key IN values` into every conjunct."""
        for c in self.where:
            c[key] = list(values) if c.get(key) is None else [
                v for v in c[key] if v in values]

    def _narrow_ts(self, lo: int, hi: int) -> None:
        for c in self.where:
            cur = c.get("ts_range") or (TS_MIN, TS_MAX)
            c["ts_range"] = (max(cur[0], lo), min(cur[1], hi))

    def pushFilters(self, filters):
        """AND host and lang equality and warc_ts bounds into every
        conjunct of `where`; everything yielded back is still evaluated
        by Spark. `where` prunes partitions and row groups and is
        applied EXACTLY inside read tasks (read_part_file)."""
        for f in filters:
            if isinstance(f, EqualTo) and isinstance(f.value, str) \
                    and f.attribute in (("host",), ("lang",)):
                self._narrow(f.attribute[0] + "s", [f.value])
            elif isinstance(f, In) and f.attribute == ("host",):
                if all(isinstance(v, str) for v in f.value):
                    self._narrow("hosts", f.value)
                yield f  # Spark applies the IN itself too
            elif isinstance(f, EqualTo) and f.attribute == ("url",) \
                    and isinstance(f.value, str):
                from skar_spark.engine.partfile import _derive_host

                h = _derive_host(pa.array([f.value]))[0].as_py()
                if h:
                    self._narrow("hosts", [h])
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
        return [SkarPartition(f) for f in
                _member_files(self.path, self.where, self.options)]

    def read(self, partition: SkarPartition):
        if partition is None:  # Spark's placeholder when no partitions
            return
        yield from _read_part_batches(partition.path, self.cols,
                                      self.types, self.where)


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

    def __init__(self, options, cols: list[str], types: dict[str, str]):
        self.path = options["path"]
        self.cols = cols
        self.types = types
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
                                      self.types)

    def commit(self, end: dict) -> None:
        pass  # progress is tracked by Spark's streaming checkpoint


def read_paged(spark, path: str, cursor: int = 0, page_files: int = 64,
               **options) -> tuple:
    """Bounded partial read through the skar DataSource with a resume
    cursor — the `next_block` pagination analog
    (skar/src/query/handler.rs:252-258) for batch callers. Returns
    (DataFrame over at most `page_files` partitions, next_cursor);
    next_cursor is None when this page completes the scan, else pass it
    back to continue. The page is computed here with the reader's own
    pruning and pinned by its ``part_ids``, so every action on the
    DataFrame reads the same partitions; a part committed later joins
    a later page, and compacting a page's partitions makes its actions
    raise. Wall-clock budgeting (time_limit_ms) lives in
    engine.decode.scan_paged, which collects incrementally; a
    DataFrame-returning API can only bound volume. `options` are the
    reader's other options (`where`, `part_ids`, `as_of`, ...)."""
    from skar_spark.engine.decode import _file_part_index, page_slice

    register(spark)
    opts = {k: str(v) for k, v in options.items()}
    remaining = page_slice(_member_files(path, _where(opts), opts), cursor)
    page = remaining[:page_files]
    nxt = (_file_part_index(remaining[len(page)])
           if len(remaining) > len(page) else None)
    opts["part_ids"] = ",".join(str(_file_part_index(f)) for f in page)
    return spark.read.format("skar").options(**opts).load(path), nxt


def register(spark) -> None:
    """Register the skar source on `spark`, once per session."""
    # pushFilters() requires the (default-off) Python-source pushdown flag
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    if not spark._jsparkSession.sessionState().dataSourceManager() \
            .dataSourceExists(SkarDataSource.name()):
        spark.dataSource.register(SkarDataSource)
