"""Encoded partition file format (the engine's storage unit).

One file per logical partition — the analog of the reference's
`{from_block}-{to_block}/` parquet folder (skar/src/skar_runner.rs:298-321).
Layout:

    MAGIC(8) | chunk blobs ... | footer JSON | u32 footer_len | MAGIC(8)

The footer carries, per row group: row count, per-column {offset, length,
codec}, and zone maps (min/max warc_ts, first/last host — valid because
rows are lexsorted by (host, warc_ts, url) before slicing, the mirror of
skar's sort-then-slice write path, write_parquet.rs:83-153). Partition-
level: host split-block bloom + content checksum (mirror of the folder
index + validation, build_parquet_idx.rs:19-199, validate_parquet.rs).

Readers seek the footer, prune row groups against zone maps / bloom
*before* any I/O on chunk data — the mirror of the reference's row-group
selection (skar/src/query/data_provider.rs:185-333).
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa

from skar_spark.codecs import decode_array, encode_auto
from skar_spark.codecs.framing import typecode, type_from_code
from skar_spark.config import DEFAULT, EngineConfig
from skar_spark.engine import storage
from skar_spark.engine.bloom import SplitBlockBloom, bloom_from_keys, xxh64

MAGIC = b"SKARSP01"

# the row order inside every part (the encode kernel's lexsort, which
# the zone maps rely on); recorded in each footer as "sort_keys"
SORT_KEYS = ("host", "warc_ts", "url")


def content_bytes(arr) -> int:
    """Exact logical content size of a (chunked) array: value bytes +
    offsets + validity. Unlike buffer sizes, unaffected by slicing or
    shared buffers."""
    import pyarrow as _pa
    total = 0
    chunks = arr.chunks if isinstance(arr, _pa.ChunkedArray) else [arr]
    for c in chunks:
        n = len(c)
        t = c.type
        if (_pa.types.is_string(t) or _pa.types.is_large_string(t)
                or _pa.types.is_binary(t) or _pa.types.is_large_binary(t)):
            import numpy as _np
            large = _pa.types.is_large_string(t) or _pa.types.is_large_binary(t)
            w = 8 if large else 4
            odt = _np.int64 if large else _np.int32
            offs = _np.frombuffer(c.buffers()[1], dtype=odt, count=n + 1,
                                  offset=c.offset * w)
            total += int(offs[-1] - offs[0]) + (n + 1) * w
        elif _pa.types.is_boolean(t):
            total += (n + 7) // 8
        else:
            total += n * t.bit_width // 8
        if c.null_count:
            total += (n + 7) // 8
    return total


def write_part_file(path: str, table: pa.Table,
                    cfg: EngineConfig = DEFAULT) -> dict:
    """Encode a (pre-sorted) table into a part file; atomic via temp+rename
    (mirror of the temp-dir + rename publish, skar_runner.rs:296-321).

    Returns summary stats for the lineage footer row.
    """
    import time as _time
    t_start = _time.time()
    n = table.num_rows
    cols = [c for c in table.column_names if not c.startswith("_")]
    rowgroups = []
    codec_counts: dict[str, dict[str, int]] = {c: {} for c in cols}
    bytes_in = 0

    # posix: temp file + rename; object store: whole-file buffer + one
    # atomic PUT (the reference's own publish shape, write_parquet.rs:63-77)
    with storage.spooled_part_writer(path) as w:
        f = w.f
        f.write(MAGIC)
        pos = len(MAGIC)
        for start in range(0, max(n, 1), cfg.max_row_group_size):
            if n == 0 and start > 0:
                break
            sl = table.slice(start, cfg.max_row_group_size)
            if sl.num_rows == 0 and n > 0:
                break
            rg: dict = {"rows": sl.num_rows, "chunks": {}}
            for c in cols:
                arr = sl[c]
                bytes_in += content_bytes(arr)
                codec, blob = encode_auto(arr, cfg)
                f.write(blob)
                rg["chunks"][c] = [pos, len(blob), codec]
                pos += len(blob)
                codec_counts[c][codec] = codec_counts[c].get(codec, 0) + 1
            if "warc_ts" in cols and sl.num_rows:
                zc = sl["warc_ts"]
                import pyarrow.compute as pc
                rg["zmin"] = pc.min(zc).cast(pa.int64()).as_py()
                rg["zmax"] = pc.max(zc).cast(pa.int64()).as_py()
            hname = "_host" if "_host" in sl.column_names else (
                "host" if "host" in sl.column_names else None)
            if hname and sl.num_rows:
                # sorted by host → first/last are the row-group's host range
                hsl = sl[hname]
                rg["hmin"] = hsl[0].as_py()
                rg["hmax"] = hsl[-1].as_py()
                if rg["hmin"] != rg["hmax"]:
                    # host-mixed row group: min/max alone can't skip a
                    # probe between them — add a per-row-group host bloom
                    # (mirror of the reference's per-row-group blooms,
                    # build_parquet_idx.rs:96-115,149-152). Single-host
                    # groups skip the bloom: min==max is exact already.
                    import base64
                    rg["hbloom"] = base64.b64encode(
                        partition_host_bloom(hsl)).decode()
            extra_num = [c for c in cols
                         if c not in ("warc_ts", "host")
                         and (pa.types.is_integer(table[c].type)
                              or pa.types.is_floating(table[c].type))]
            if extra_num and sl.num_rows:
                # numeric zone maps for non-layout columns (evolved
                # columns like quality scores): per-row-group min/max,
                # aggregated part-level into the lineage col_stats —
                # the Iceberg column-stats analog, so range predicates
                # prune partitions without opening files
                import pyarrow.compute as pc
                ns = {}
                for c in extra_num:
                    mn, mx = pc.min(sl[c]).as_py(), pc.max(sl[c]).as_py()
                    if mn is not None:
                        ns[c] = [mn, mx]
                if ns:
                    rg["nstats"] = ns
            if "lang" in sl.column_names and sl.num_rows:
                # second bloom family: lang (skewed low-card column, not
                # in the sort key so no zone maps — bloom over the row
                # group's distinct values instead; mirror of the
                # reference's address AND topic0..3 bloom families,
                # build_parquet_idx.rs:89-171)
                import base64
                rg["lbloom"] = base64.b64encode(
                    partition_host_bloom(sl["lang"])).decode()
            rowgroups.append(rg)
            if n == 0:
                break

        footer = {
            "rows": n,
            "columns": cols,
            "schema": {c: typecode(table[c].type) for c in cols},
            "sort_keys": list(SORT_KEYS),
            "rowgroups": rowgroups,
        }
        fj = json.dumps(footer, separators=(",", ":")).encode()
        f.write(fj)
        f.write(len(fj).to_bytes(4, "little"))
        f.write(MAGIC)
        bytes_out = w.publish()  # atomic publish (rename / single PUT)

    return {
        "bytes_in": bytes_in,
        "bytes_out": bytes_out,
        "n_row_groups": len(rowgroups),
        "encode_sec": round(_time.time() - t_start, 3),
        "codec_choices": json.dumps(
            {c: max(v, key=v.get) for c, v in codec_counts.items() if v},
            separators=(",", ":")),
        # this part's own schema, merged into the table-level schema at
        # lineage-commit time (engine/schema_evo.py — Iceberg add-column)
        "schema_json": json.dumps(
            {"cols": cols, "types": footer["schema"]},
            separators=(",", ":")),
        # part-level numeric zone maps for non-layout columns (union of
        # the per-row-group nstats above) — lands in lineage so range
        # predicates prune partitions from metadata alone
        "col_stats": json.dumps(_merge_nstats(rowgroups),
                                separators=(",", ":")),
    }


def _merge_nstats(rowgroups: list[dict]) -> dict:
    """Union the per-row-group numeric zone maps into part-level
    {col: [min, max]} (columns all-null in every group are absent)."""
    out: dict = {}
    for rg in rowgroups:
        for c, (mn, mx) in rg.get("nstats", {}).items():
            if c in out:
                out[c] = [min(out[c][0], mn), max(out[c][1], mx)]
            else:
                out[c] = [mn, mx]
    return out


def read_footer(path: str) -> dict:
    size = storage.getsize(path)
    with storage.open_read(path) as f:
        f.seek(size - 12)
        tail = f.read(12)
        if tail[4:] != MAGIC:
            raise ValueError(f"bad trailing magic in {path}")
        flen = int.from_bytes(tail[:4], "little")
        f.seek(size - 12 - flen)
        return json.loads(f.read(flen))


HOST_RE_ARROW = r"^[a-z][a-z0-9+.-]*://(?P<host>[^/?#]*)"


def _derive_host(urls: pa.ChunkedArray | pa.Array) -> pa.Array:
    """Vectorized host extraction from url (Arrow kernel, no per-row
    Python) — the read-side twin of encode.with_host."""
    import pyarrow.compute as pc
    st = pc.extract_regex(urls, HOST_RE_ARROW)
    comb = st.combine_chunks() if isinstance(st, pa.ChunkedArray) else st
    # non-matching urls: Spark's regexp_extract (encode.with_host) yields
    # '' while extract_regex yields NULL — coalesce so host semantics are
    # identical between DataSource reads and encode-side derivation
    return pc.fill_null(comb.field("host"), "")


def read_part_file(path: str, columns: list[str] | None = None,
                   host_eq: str | None = None,
                   ts_range: tuple[int, int] | None = None,
                   lang_eq: str | None = None,
                   fill_missing: dict[str, str] | None = None,
                   col_range: tuple[str, float, float] | None = None
                   ) -> pa.Table:
    """Decode a part file with projection + row-group pruning + EXACT
    predicate semantics.

    ts_range is [lo, hi) in epoch microseconds against the zone column.
    Row groups are skipped via zone maps (min/max warc_ts, host range) and
    per-row-group host blooms; surviving row groups are then post-filtered
    exactly (host derived from url Arrow-side, ts compared as int64), so
    callers get precisely the rows matching the predicate — not a
    row-group superset.

    `fill_missing` maps column name → typecode for requested columns this
    part may PREDATE (Iceberg-style schema evolution, engine/schema_evo):
    such columns come back as all-null arrays of the mapped type instead
    of a KeyError, so readers see the table's merged schema uniformly.
    Mirror of the reference's projected, row-group-selective parquet scan
    (data_provider.rs:121-183, skip logic :250-333).
    """
    import base64

    import pyarrow.compute as pc

    from skar_spark.engine.bloom import bloom_might_contain

    footer = read_footer(path)
    cols = columns or footer["columns"]
    has_lang = "lang" in footer["columns"]
    need_host = host_eq is not None
    need_ts = ts_range is not None
    need_lang = lang_eq is not None and has_lang
    need_cr = col_range is not None and col_range[0] in footer["columns"]
    read_cols = list(cols)
    if need_host and "url" not in read_cols:
        read_cols.append("url")
    if need_ts and "warc_ts" not in read_cols:
        read_cols.append("warc_ts")
    if need_lang and "lang" not in read_cols:
        read_cols.append("lang")
    if need_cr and col_range[0] not in read_cols:
        read_cols.append(col_range[0])
    tables = []
    with storage.open_read(path) as f:
        for rg in footer["rowgroups"]:
            if ts_range is not None and "zmin" in rg:
                if rg["zmin"] >= ts_range[1] or rg["zmax"] < ts_range[0]:
                    continue
            if host_eq is not None and "hmin" in rg:
                if not (rg["hmin"] <= host_eq <= rg["hmax"]):
                    continue
                if "hbloom" in rg and not bloom_might_contain(
                        base64.b64decode(rg["hbloom"]), host_eq):
                    continue
            if lang_eq is not None and "lbloom" in rg and \
                    not bloom_might_contain(
                        base64.b64decode(rg["lbloom"]), lang_eq):
                continue
            if col_range is not None:
                # numeric zone maps (nstats) for non-layout columns: a
                # row group whose [min,max] cannot overlap [lo,hi) is
                # skipped; a part/row group that PREDATES the column
                # holds only nulls, which a range predicate never
                # matches — skip it outright (keeps the EXACT contract
                # for pre-evolution parts, where the post-filter below
                # cannot run). Stats compare as float64 (same cast the
                # kernel filter applies) so int64 columns beyond 2^53
                # stay consistent with the row-level comparison.
                _c, _lo, _hi = col_range
                if _c not in footer["columns"] or _c not in rg["chunks"]:
                    continue
                ns = rg.get("nstats", {}).get(_c)
                if ns is not None and (float(ns[0]) >= _hi
                                       or float(ns[1]) < _lo):
                    continue
            arrays, names = [], []
            for c in read_cols:
                if c not in rg["chunks"] and fill_missing and \
                        c in fill_missing:
                    # column added after this part was written: null-fill
                    arrays.append(pa.nulls(
                        rg["rows"], type_from_code(fill_missing[c])))
                    names.append(c)
                    continue
                off, ln, _codec = rg["chunks"][c]
                f.seek(off)
                arr = decode_array(f.read(ln))
                want = (fill_missing or {}).get(c)
                if want is not None and \
                        footer["schema"].get(c) not in (None, want):
                    # type-widening schema evolution (ADVICE r05,
                    # medium): this part stored the column at its
                    # pre-widening type — cast to the merged type so
                    # every reader sees the table schema uniformly
                    # (pa.compute.cast is lossless for the promotions
                    # merge_schema permits: i32→i64, f32→f64)
                    arr = arr.cast(type_from_code(want))
                arrays.append(arr)
                names.append(c)
            tables.append(pa.table(dict(zip(names, arrays))))
    if not tables:
        def _code(c):
            # prefer the caller's merged-schema type (fill_missing) so
            # widened columns come back widened even from an all-pruned
            # part; fall back to the stored footer type
            if fill_missing and c in fill_missing:
                return fill_missing[c]
            return footer["schema"][c]
        schema = pa.schema([(c, type_from_code(_code(c))) for c in cols])
        return pa.table({c: pa.array([], schema.field(c).type) for c in cols})
    t = pa.concat_tables(tables)
    mask = None
    if need_host:
        mask = pc.equal(_derive_host(t["url"]), pa.scalar(host_eq))
    if need_ts:
        ts = t["warc_ts"].cast(pa.int64())
        m2 = pc.and_(
            pc.greater_equal(ts, pa.scalar(ts_range[0], pa.int64())),
            pc.less(ts, pa.scalar(ts_range[1], pa.int64())))
        mask = m2 if mask is None else pc.and_(mask, m2)
    if need_lang:
        m3 = pc.equal(t["lang"], pa.scalar(lang_eq))
        mask = m3 if mask is None else pc.and_(mask, m3)
    if need_cr:
        _c, _lo, _hi = col_range
        cv = pc.cast(t[_c], pa.float64())
        m4 = pc.and_(pc.greater_equal(cv, pa.scalar(_lo, pa.float64())),
                     pc.less(cv, pa.scalar(_hi, pa.float64())))
        # null values (pre-evolution rows) never match a range
        mask = m4 if mask is None else pc.and_(mask, m4)
    if mask is not None:
        t = t.filter(mask)
    return t.select(cols)


def partition_checksum(table: pa.Table) -> bytes:
    """sha256 over the (url, text) content of a sorted partition — the
    self-validation analog of the logs_bloom reconstruction check
    (reference: ingest/src/validate.rs:15-43)."""
    from skar_spark.engine.golden import column_checksum
    h = hashlib.sha256()
    for c in ("url", "text"):
        if c in table.column_names:
            h.update(column_checksum(table[c]).encode())
    return h.digest()


def partition_host_bloom(hosts: pa.Array | pa.ChunkedArray) -> bytes:
    import pyarrow.compute as pc
    # nulls carry no key (lang is nullable per DOCS_DDL): a null-bearing
    # row group simply can't be pruned by an equality probe, which is
    # correct — equality with null is never true
    uniq = pc.unique(hosts if isinstance(hosts, pa.Array)
                     else hosts.combine_chunks()).drop_null()
    return bloom_from_keys([u.as_py().encode() for u in uniq])
