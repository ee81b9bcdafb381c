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

Execution mirrors the reference's pipeline stage for stage. The
selections become one read predicate, an OR of conjuncts (each
selection with the query's ts range; an empty or missing list means
"any"), and that predicate is the only input of every step: partition
pruning per conjunct via lineage zone maps + the host AND lang bloom
families (prune_query, handler.rs:187-250) — a driver-local seek over
the lineage parquet (engine.decode.prune_selections), so planning a
query launches no Spark job — short-circuit when everything prunes
(handler.rs:150-158), then a time-limited driver-side decode (no Spark
job) in part-index order, where read_part_file skips row groups with
the same predicate and applies it exactly, decoding only the projected
and predicate columns. The row limit, like the reference's
response_num_*_limit, truncates at folder (part-file) granularity so
`next_cursor` never skips or re-reads rows.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import SparkSession

from skar_spark.engine.decode import (
    _file_part_index,
    list_part_files,
    page_slice,
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


def _json_safe(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def archive_height(files: list[str]) -> int:
    """The table's high-water part index + 1 over its part listing
    `files` (0 for an empty table) — the reference's archive height."""
    return max((_file_part_index(f) for f in files), default=-1) + 1


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
    # the query API's "[] means any" becomes an absent key
    where = [{k: list(s[k]) for k in ("hosts", "langs", "url_prefix")
              if s.get(k)} | {"ts_range": ts_range}
             for s in query.get("selections") or [{}]]
    max_rows = int(query.get("max_rows", DEFAULT_MAX_ROWS))
    time_limit_ms = query.get("time_limit_ms", DEFAULT_TIME_LIMIT_MS)
    cursor = int(query.get("cursor", 0))

    # one listing per query: it gives the height, and pruning filters it
    listing = list_part_files(out_dir)
    height = archive_height(listing)

    # per-selection partition pruning (prune_query analog), plus the
    # hot tier's in-progress files on request (reference
    # data_provider.rs:56-105 / state.rs:82-107)
    files = page_slice(prune_selections(
        out_dir, where, include_hot=bool(query.get("include_hot")),
        listing=listing), cursor)
    if not files:  # short-circuit: everything pruned (handler.rs:150-158)
        return {"rows": [], "num_rows": 0, "truncated": False,
                "next_cursor": None, "archive_height": height}

    # merged table schema on evolved tables (engine/schema_evo.py);
    # first footer otherwise
    from skar_spark.engine.decode import paged_decode_loop
    from skar_spark.engine.schema_evo import table_schema

    tcols, ttypes = table_schema(out_dir, files)
    rows, next_cursor = paged_decode_loop(
        spark, files, list(query.get("field_selection") or tcols + ["host"]),
        where=where, time_limit_ms=time_limit_ms,
        page_files=int(query.get("page_files", 64)), row_limit=max_rows,
        fill=ttypes)
    return {
        "rows": [{k: _json_safe(v) for k, v in r.items()} for r in rows],
        "num_rows": len(rows),
        "truncated": next_cursor is not None,
        "next_cursor": next_cursor,
        "archive_height": height,
    }
