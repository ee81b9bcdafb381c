"""JSON query handler — the engine's primary user-facing API.

The webtext analog of the reference's HTTP query handler
(/root/reference/skar/src/query/handler.rs, query format documented in
/root/reference/README.md:200-280): a query is a time range plus an OR
of conjunctive *selections*, a field projection, and bounded-response
knobs; the response is rows plus `next_cursor` (the `next_block`
analog) and `archive_height` so clients sync by re-querying from the
cursor.

Query dict (every field optional):

    {
      "from_ts": "2024-01-01T00:00:00" | epoch_us,   # inclusive
      "to_ts":   "2024-02-01T00:00:00" | epoch_us,   # exclusive
      "selections": [            # OR across entries, AND within one;
        {                        # [] / missing list = match any
          "hosts":      ["www.example.com", ...],
          "langs":      ["en", ...],
          "url_prefix": ["https://www.example.com/a/", ...]
        }
      ],
      "field_selection": ["url", "warc_ts", "lang", "text", "host"],
      "max_rows": 50000,         # response row bound (folder-granular)
      "time_limit_ms": 5000,     # wall-clock budget (handler.rs:104-107)
      "cursor": 0                # resume part index (next_block analog)
    }

Execution mirrors the reference's pipeline stage for stage:
partition pruning per selection via lineage zone maps + the host AND
lang bloom families (prune_query, handler.rs:187-250) — a driver-local
seek over the lineage parquet (engine.decode.prune_selections), so
planning a query launches no Spark job — short-circuit when everything
prunes (handler.rs:150-158), then a time-limited driver-side decode
(no Spark job) in part-index order with the EXACT residual OR filter
and the projection applied column-pruned (only the needed column
chunks are decoded). The row limit, like the reference's
response_num_*_limit, truncates at folder (part-file) granularity so
`next_cursor` never skips or re-reads rows.
"""

from __future__ import annotations

import datetime as _dt
import functools

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession

from skar_spark.engine.decode import (
    _file_part_index,
    list_part_files,
    prune_selections,
)

DEFAULT_MAX_ROWS = 50_000      # reference response_num_*_limit default
DEFAULT_TIME_LIMIT_MS = 5_000  # reference query.time_limit_ms default


def _to_us(v) -> int:
    if isinstance(v, (int, float)):
        return int(v)
    d = _dt.datetime.fromisoformat(str(v))
    if d.tzinfo is None:
        d = d.replace(tzinfo=_dt.timezone.utc)
    return int(d.timestamp() * 1_000_000)


def _host_of_prefix(prefix: str) -> str | None:
    """Host implied by a url prefix, for bloom pruning — only when the
    prefix extends past the authority (otherwise the host is partial)."""
    import re
    m = re.match(r"^[a-z][a-z0-9+.-]*://([^/?#]+)/", prefix)
    return m.group(1) if m else None


def _residual_filter(t: pa.Table, selections: list[dict]) -> pa.Table:
    """EXACT OR-of-conjuncts filter over decoded rows. Kleene AND/OR
    (a null term is unknown, not false), so `true OR null` keeps its
    row like Spark's Column logic; the ts range is already exact in
    read_part_file."""
    keep = None
    for s in selections:
        terms = [pc.is_in(t[c], value_set=pa.array(list(s[k])))
                 for c, k in (("host", "hosts"), ("lang", "langs"))
                 if s.get(k)]
        if s.get("url_prefix"):
            pre = [pc.starts_with(t["url"], pattern=p)
                   for p in s["url_prefix"]]
            terms.append(functools.reduce(pc.or_kleene, pre))
        if not terms:
            return t  # an unconstrained selection matches every row
        e = functools.reduce(pc.and_kleene, terms)
        keep = e if keep is None else pc.or_kleene(keep, e)
    return t if keep is None else t.filter(keep)


def _json_safe(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def run_query(spark: SparkSession, out_dir: str, query: dict) -> dict:
    """Execute a reference-shaped JSON query against an encoded table.

    Returns {"rows": [...], "num_rows", "truncated", "next_cursor",
    "archive_height"}: `next_cursor` is None when the query completed
    its range, else the part index to resume from (`next_block`);
    `archive_height` is the table's current high-water part index + 1
    so clients can tail a growing table exactly like the reference's
    block-sync loop.
    """
    ts_range = None
    if query.get("from_ts") is not None or query.get("to_ts") is not None:
        lo = _to_us(query["from_ts"]) if query.get("from_ts") is not None \
            else -(1 << 62)
        hi = _to_us(query["to_ts"]) if query.get("to_ts") is not None \
            else (1 << 62)
        ts_range = (lo, hi)
    selections = list(query.get("selections") or [])
    max_rows = int(query.get("max_rows", DEFAULT_MAX_ROWS))
    time_limit_ms = query.get("time_limit_ms", DEFAULT_TIME_LIMIT_MS)
    cursor = int(query.get("cursor", 0))

    all_files = list_part_files(out_dir)
    height = (max(_file_part_index(f) for f in all_files) + 1
              if all_files else 0)

    # --- per-selection partition pruning (prune_query analog) ---------
    prune_sels = []
    for s in selections or [{}]:
        hosts = list(s.get("hosts") or [])
        for p in s.get("url_prefix") or []:
            h = _host_of_prefix(p)
            if h is None:
                hosts = None  # un-derivable host: can't host-prune OR arm
                break
            hosts.append(h)
        prune_sels.append({"hosts": hosts or None, "ts_range": ts_range,
                           "langs": list(s.get("langs") or []) or None})
    surviving = prune_selections(out_dir, prune_sels)
    members = set(surviving)
    if query.get("include_hot"):
        # hot-tier union (reference data_provider.rs:56-105 /
        # state.rs:82-107): also serve the in-progress epoch's files —
        # no pruning metadata exists for them, so they always survive;
        # the exact residual below still applies
        from skar_spark.engine.decode import hot_tail_files
        members |= set(hot_tail_files(out_dir))
    files = sorted((f for f in members if _file_part_index(f) >= cursor),
                   key=_file_part_index)

    empty = {"rows": [], "num_rows": 0, "truncated": False,
             "next_cursor": None, "archive_height": height}
    if not files:  # short-circuit: everything pruned (handler.rs:150-158)
        return empty

    # --- columns: requested fields + whatever the residual needs ------
    # merged table schema on evolved tables (engine/schema_evo.py);
    # first footer otherwise
    from skar_spark.engine.schema_evo import table_schema
    tcols, ttypes = table_schema(out_dir, files)
    fields = list(query.get("field_selection") or tcols + ["host"])
    need = set(fields)
    for c, k in (("host", "hosts"), ("lang", "langs"),
                 ("url", "url_prefix")):
        if any(s.get(k) for s in selections):
            need.add(c)
    # `host` is derived from url per file (decode.read_part_table)
    read_cols = [c for c in tcols if c in need and c != "host"] + \
        (["host"] if "host" in need else [])

    # --- time-limited decode in part-index order, exact residual ------
    # (the page/cursor/budget mechanics live in decode.paged_decode_loop,
    # shared with scan_paged; only the residual + projection differ)
    from skar_spark.engine.decode import paged_decode_loop

    rows, next_cursor = paged_decode_loop(
        spark, files, read_cols, ts_range=ts_range,
        time_limit_ms=time_limit_ms,
        page_files=int(query.get("page_files", 64)),
        row_limit=max_rows,
        post=lambda t: _residual_filter(t, selections).select(fields),
        fill=ttypes)
    return {
        "rows": [{k: _json_safe(v) for k, v in r.items()} for r in rows],
        "num_rows": len(rows),
        "truncated": next_cursor is not None,
        "next_cursor": next_cursor,
        "archive_height": height,
    }
