"""Seeded inputs and the output checks every run makes.

- `digest`: an order-independent hash of the (url, text) bytes of a
  table: the row count plus the sum mod 2^64 of a per-row blake2b. The
  decoded output of an encode or scan must hash to the generated input
  (the engine's north rule: byte-identical text per url).
- `serve_ops`: the seeded request sequence of the serve workload.
- `expected_answer` / `answer_key`: the pyarrow oracle for each request,
  computed on the generated input plus the appended increments.

Nothing here starts a Spark session; `table_digests` runs one job on the
caller's and hashes executor-side, inside `mapInArrow`, where this module
is imported by path.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

MASK64 = (1 << 64) - 1
EPOCH = _dt.datetime(1970, 1, 1)


def _row_hash(url: str | None, text: str | None) -> int:
    h = hashlib.blake2b(digest_size=8)
    h.update((url or "").encode())
    h.update(b"\0" if text is not None else b"\1")
    h.update((text or "").encode())
    return int.from_bytes(h.digest(), "little")


def digest(table) -> tuple[int, int]:
    """(rows, hash) of the (url, text) columns of an Arrow table/batch."""
    s = 0
    for u, t in zip(table.column("url").to_pylist(),
                    table.column("text").to_pylist()):
        s = (s + _row_hash(u, t)) & MASK64
    return table.num_rows, s


def combine(parts) -> tuple[int, int]:
    n = s = 0
    for pn, ps in parts:
        n += pn
        s = (s + ps) & MASK64
    return n, s


def digest_parts(batches):
    """mapInArrow body over (tag, path): decodes each part file's (url,
    text) with `partfile.read_part_file` and yields (tag, rows, hash)."""
    from skar_spark.engine.partfile import read_part_file
    for b in batches:
        for tag, path in zip(b.column("tag").to_pylist(),
                             b.column("path").to_pylist()):
            n, s = digest(read_part_file(path, columns=["url", "text"]))
            yield pa.record_batch({"tag": pa.array([tag], pa.int32()),
                                   "n": pa.array([n], pa.int64()),
                                   "h": pa.array([f"{s:016x}"], pa.string())})


def table_digests(spark, table_dirs: list[str]) -> list[tuple[int, int]]:
    """Decode-side (rows, hash) of each table, in one Spark job: one task
    per part file, hashed executor-side."""
    from skar_spark.engine.decode import list_part_files
    files = [(i, f) for i, d in enumerate(table_dirs)
             for f in list_part_files(d)]
    rows = spark.createDataFrame(files, "tag int, path string") \
        .repartition(len(files)) \
        .mapInArrow(digest_parts, "tag int, n long, h string").collect()
    return [combine((r.n, int(r.h, 16)) for r in rows if r.tag == i)
            for i in range(len(table_dirs))]


# --- generated input ---------------------------------------------------------

def corpus(n_docs: int, seed: int, first_id: int = 0) -> pa.Table:
    """The rows `synth.synth_documents` generates for ids
    [first_id, first_id + n_docs), computed in-process (the oracle's copy)."""
    from skar_spark.synth import synth_batch
    ids = np.arange(first_id, first_id + n_docs, dtype=np.uint64)
    parts = [synth_batch(ids[i:i + 4096], seed)
             for i in range(0, len(ids), 4096)]
    return pa.concat_tables(parts)


def synth_range(seed: int, batches):
    """mapInArrow body over `spark.range`: synth rows for those ids (the
    serve increments, whose ids start above the corpus)."""
    from skar_spark.synth import synth_batch
    for b in batches:
        yield from synth_batch(b.column("id").to_numpy(), seed).to_batches(
            max_chunksize=8192)


def quarter_mask(table: pa.Table) -> np.ndarray:
    """The fixed hash-quarter the ARCHIVE ingest leg encodes: crc32(url)
    % 4 == 0, the same rule as Spark's `crc32(url) % 4 == 0`."""
    import zlib
    return np.array([zlib.crc32(u.encode()) % 4 == 0
                     for u in table.column("url").to_pylist()])


def with_host(table: pa.Table) -> pa.Table:
    host = pc.fill_null(pc.extract_regex(
        table["url"], r"^[a-z][a-z0-9+.-]*://(?P<host>[^/?#]*)")
        .combine_chunks().field("host"), "")
    return table.append_column("host", host)


# --- serve: request sequence and oracle --------------------------------------

READS_PER_CYCLE = ("host", "prefix", "window", "text", "height", "height")
APPEND_DOCS = 64
B36 = "0123456789abcdefghijklmnopqrstuvwxyz"


def serve_ops(seed: int, table: pa.Table, n_cycles: int) -> list[tuple]:
    """`n_cycles` cycles of the serve mix: each cycle is the reads of
    READS_PER_CYCLE in a seeded order, then one append. An operation is
    (kind, query dict) for the four query kinds, ("height", None) or
    ("append", cycle). Point-lookup hosts
    are drawn from the corpus's rows, so they follow its Zipf host
    distribution; text lookups draw a host uniformly, so responses stay
    small."""
    rng = random.Random(seed)
    hosts = with_host(table)["host"].to_pylist()
    distinct = sorted(set(hosts))
    langs = table["lang"].to_pylist()
    ts = pc.cast(table["warc_ts"], pa.int64())
    lo, hi = pc.min(ts).as_py(), pc.max(ts).as_py() + 1
    span = max(1, (hi - lo) // 10)
    fields = ["url", "warc_ts", "lang"]
    ops = []
    for cycle in range(n_cycles):
        reads = list(READS_PER_CYCLE)
        rng.shuffle(reads)
        for kind in reads:
            if kind == "host":
                q = {"selections": [{"hosts": [rng.choice(hosts)]}],
                     "field_selection": fields}
            elif kind == "prefix":
                p = f"https://{rng.choice(hosts)}/{rng.choice(B36)}"
                q = {"selections": [{"url_prefix": [p]}],
                     "field_selection": ["url", "lang"]}
            elif kind == "window":
                start = rng.randrange(lo, hi - span)
                q = {"from_ts": start, "to_ts": start + span,
                     "selections": [{"langs": [rng.choice(langs)]}],
                     "field_selection": fields,
                     "max_rows": 64, "page_files": 8}
            elif kind == "text":
                q = {"selections": [{"hosts": [rng.choice(distinct)]}],
                     "field_selection": ["url", "text"]}
            else:
                ops.append(("height", None))
                continue
            # answers must never depend on speed
            q["time_limit_ms"] = None
            ops.append((kind, q))
        ops.append(("append", cycle))
    return ops


def _iso(us: int) -> str:
    return (EPOCH + _dt.timedelta(microseconds=us)).isoformat()


def answer_key(rows: list[dict], fields: list[str]) -> list[tuple]:
    return sorted(tuple(r[f] for f in fields) for r in rows)


def expected_answer(table: pa.Table, query: dict) -> list[tuple]:
    """The rows `query` must return from `table` (which carries a `host`
    column), as an `answer_key`."""
    keep = None
    for s in query.get("selections") or [{}]:
        m = pa.scalar(True)
        if s.get("hosts"):
            m = pc.and_(m, pc.is_in(table["host"],
                                    pa.array(s["hosts"], pa.string())))
        if s.get("langs"):
            m = pc.and_(m, pc.is_in(table["lang"],
                                    pa.array(s["langs"], pa.string())))
        if s.get("url_prefix"):
            pre = None
            for p in s["url_prefix"]:
                t = pc.starts_with(table["url"], p)
                pre = t if pre is None else pc.or_(pre, t)
            m = pc.and_(m, pre)
        keep = m if keep is None else pc.or_(keep, m)
    if query.get("from_ts") is not None:
        ts = pc.cast(table["warc_ts"], pa.int64())
        keep = pc.and_(keep, pc.and_(
            pc.greater_equal(ts, query["from_ts"]),
            pc.less(ts, query["to_ts"])))
    fields = query["field_selection"]
    sub = table.filter(keep).select(fields)
    cols = {f: sub[f].to_pylist() for f in fields}
    if "warc_ts" in cols:
        cols["warc_ts"] = [_iso(v) for v in
                           pc.cast(sub["warc_ts"], pa.int64()).to_pylist()]
    return sorted(zip(*(cols[f] for f in fields)))
