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


# THE host rule: the authority of a url with a lowercase scheme, ''
# for any other url, null for a null url. encode.with_host applies it
# in the JVM, _derive_host in Arrow. No `.*$` tail: Java's `.` stops at
# a line terminator, so a tail would fail a url with a newline past
# its authority.
HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/?#]*)"


def _derive_host(urls: pa.ChunkedArray | pa.Array) -> pa.Array:
    """HOST_RE per url, vectorized in Arrow (no per-row Python); equal
    to encode.with_host row for row."""
    import pyarrow.compute as pc
    if isinstance(urls, pa.ChunkedArray):
        urls = urls.combine_chunks()
    host = pc.struct_field(pc.extract_regex(
        urls, HOST_RE.replace("(", "(?P<host>", 1)), "host")
    return pc.if_else(pc.is_valid(urls), pc.fill_null(host, ""),
                      pa.scalar(None, host.type))


def _host_of_prefix(prefix: str) -> str | None:
    """The host a url prefix implies, or None when the prefix stops
    inside the authority (then the host is only partly known)."""
    import re
    m = re.match(r"^[a-z][a-z0-9+.-]*://([^/?#]+)/", prefix)
    return m.group(1) if m else None


def _keys_may_match(keys, key_range, bloom) -> bool:
    """Whether ANY of `keys` (a null key matches nothing) may occur in a
    unit whose keys lie in `key_range` (first, last) and in `bloom`;
    None = unknown."""
    from skar_spark.engine.bloom import bloom_might_contain

    return any((key_range is None or key_range[0] <= k <= key_range[1])
               and (bloom is None or bloom_might_contain(bloom, k))
               for k in keys if k is not None)


def _overlaps(zone, lo, hi) -> bool:
    """Whether the closed zone [min, max] meets [lo, hi); an unknown
    zone (None or a None end) always may."""
    return zone is None or None in zone or (zone[1] >= lo and zone[0] < hi)


def may_match(conj: dict, zone=None, host_range=None, host_bloom=None,
              lang_bloom=None, stats=None) -> bool:
    """THE per-term metadata test of a read predicate, shared by the
    lineage pass (one partition) and read_part_file (one row group).

    `conj` is one conjunct of a *where* (see read_part_file). The unit is
    described by its warc_ts `zone` (min, max) in epoch µs, its
    `host_range` (first, last host), its host and lang blooms and its
    numeric `stats` {col: [min, max]}. Unknown metadata (None) never
    prunes. A url prefix prunes by its host when every prefix of the
    conjunct extends past the authority. Numeric stats compare as
    float64, the cast of the exact filter."""
    ts = conj.get("ts_range")
    if ts is not None and not _overlaps(zone, *ts):
        return False
    prefixes = conj.get("url_prefix")
    implied = None if prefixes is None else [
        _host_of_prefix(p) for p in prefixes]
    if None in (implied or []):
        implied = None  # a prefix inside the authority: host unknown
    for keys, key_range, bloom in (
            (conj.get("hosts"), host_range, host_bloom),
            (implied, host_range, host_bloom),
            (conj.get("langs"), None, lang_bloom)):
        if keys is not None and not _keys_may_match(keys, key_range, bloom):
            return False
    cr = conj.get("col_range")
    mm = None if cr is None or stats is None else stats.get(cr[0])
    return not mm or None in mm or _overlaps(
        (float(mm[0]), float(mm[1])), cr[1], cr[2])


def _pred_columns(conj: dict) -> list[str]:
    """The stored columns the exact filter of `conj` reads."""
    cols = []
    if conj.get("hosts") is not None or conj.get("url_prefix") is not None:
        cols.append("url")
    if conj.get("langs") is not None:
        cols.append("lang")
    if conj.get("ts_range") is not None:
        cols.append("warc_ts")
    if conj.get("col_range") is not None:
        cols.append(conj["col_range"][0])
    return cols


def _where_mask(t: pa.Table, where: list[dict], host):
    """The exact Kleene OR of ANDs of `where` over the decoded rows `t`
    and their derived `host` array (None when some conjunct is
    unconstrained: every row matches)."""
    import functools

    import pyarrow.compute as pc

    def _in(col, values):
        return pc.is_in(col, value_set=pa.array(values, col.type),
                        skip_nulls=True)

    keep = pa.scalar(False)
    for c in where:
        terms = []
        if c.get("hosts") is not None:
            terms.append(_in(host, c["hosts"]))
        if c.get("langs") is not None:
            terms.append(_in(t["lang"], c["langs"]))
        if c.get("url_prefix") is not None:
            terms.append(functools.reduce(pc.or_kleene, [
                pc.starts_with(t["url"], pattern=p)
                for p in c["url_prefix"]], pa.scalar(False)))
        if c.get("ts_range") is not None:
            lo, hi = c["ts_range"]
            ts = t["warc_ts"].cast(pa.int64())
            terms += [pc.greater_equal(ts, pa.scalar(lo, pa.int64())),
                      pc.less(ts, pa.scalar(hi, pa.int64()))]
        if c.get("col_range") is not None:
            col, lo, hi = c["col_range"]
            v = pc.cast(t[col], pa.float64())
            terms += [pc.greater_equal(v, pa.scalar(lo, pa.float64())),
                      pc.less(v, pa.scalar(hi, pa.float64()))]
        if not terms:
            return None
        keep = pc.or_kleene(keep, functools.reduce(pc.and_kleene, terms))
    return keep


def read_part_file(path: str, columns: list[str] | None = None,
                   where: list[dict] | None = None,
                   fill_missing: dict[str, str] | None = None
                   ) -> pa.Table:
    """Decode a part file with projection, row-group pruning and an EXACT
    predicate.

    `where` is a list of conjuncts, ORed; a conjunct is a dict with the
    optional keys ``hosts`` (host IN), ``langs`` (lang IN),
    ``url_prefix`` (url starts with any), ``ts_range`` ((lo, hi) epoch
    µs, half-open) and ``col_range`` ((col, lo, hi), half-open, compared
    as float64), ANDed. A missing key or None is unconstrained; an empty
    list matches nothing, so ``[]`` matches no row and ``[{}]`` (or
    None) every row. The logic is Kleene: a null value is unknown, so
    a row another conjunct matches is kept.

    A row group is read only when some conjunct `may_match` its footer
    zone maps (warc_ts, host range, numeric nstats) and blooms (host,
    lang); a conjunct on a column the row group lacks cannot match it.
    The surviving rows are then filtered exactly, so callers get
    precisely the matching rows, not a row-group superset. The extra
    columns the predicate needs are read and dropped again.

    `columns` may name ``host``, derived from ``url`` Arrow-side (at
    most once per file) unless the part stores such a column.
    `fill_missing` maps column name → typecode for requested columns
    this part may PREDATE (Iceberg-style schema evolution,
    engine/schema_evo): such columns come back as all-null arrays of the
    mapped type instead of a KeyError, and columns stored at a narrower
    type are cast to the mapped one. Mirror of the reference's
    projected, row-group-selective parquet scan
    (data_provider.rs:121-183, skip logic :250-333).
    """
    import base64

    footer = read_footer(path)
    stored = footer["columns"]
    cols = columns or stored
    where = [{}] if where is None else where
    derive = "host" in cols and "host" not in stored
    read_cols = list(dict.fromkeys(
        [c for c in cols if not (derive and c == "host")]
        + (["url"] if derive else [])
        + [c for w in where for c in _pred_columns(w)]))
    probes = any(w.get(k) is not None for w in where
                 for k in ("hosts", "url_prefix", "langs"))
    tables = []
    with storage.open_read(path) as f:
        for rg in footer["rowgroups"]:
            hb, lb = (base64.b64decode(rg[k]) if probes and k in rg
                      else None for k in ("hbloom", "lbloom"))
            hr = (rg["hmin"], rg["hmax"]) if "hmin" in rg else None
            if not any(all(c in rg["chunks"] for c in _pred_columns(w))
                       and may_match(w, (rg.get("zmin"), rg.get("zmax")),
                                     hr, hb, lb, rg.get("nstats", {}))
                       for w in where):
                continue
            arrays = []
            for c in read_cols:
                if c not in rg["chunks"] and fill_missing and \
                        c in fill_missing:
                    # column added after this part was written: null-fill
                    arrays.append(pa.nulls(
                        rg["rows"], type_from_code(fill_missing[c])))
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
            tables.append(pa.table(dict(zip(read_cols, arrays))))
    if not tables:
        def _type(c):
            # prefer the caller's merged-schema type (fill_missing) so
            # widened columns come back widened even from an all-pruned
            # part; fall back to the stored footer type
            if derive and c == "host":
                return pa.string()
            return type_from_code((fill_missing or {}).get(c)
                                  or footer["schema"][c])
        return pa.table({c: pa.array([], _type(c)) for c in cols})
    t = pa.concat_tables(tables)
    host = _derive_host(t["url"]) if derive or any(
        w.get("hosts") is not None for w in where) else None
    mask = _where_mask(t, where, host)
    if mask is not None:
        import pyarrow.compute as pc

        t = t.filter(mask)
        host = None if host is None else pc.filter(host, mask)
    if derive:
        t = t.append_column("host", host)
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
