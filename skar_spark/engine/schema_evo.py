"""Iceberg-style schema evolution for encoded tables.

The reference's tables are fixed-schema (skar/src/schema.rs pins the
column set at compile time); a long-lived 100 TB crawl table is not — the
upstream starts emitting a quality score, a language-confidence column,
a new extractor version's field. This module gives the engine Iceberg's
add-column semantics with NAME-based column mapping plus safe type
widening, without rewriting any committed part:

- every part file already records its own schema in the footer
  (`partfile.write_part_file`, footer["schema"]);
- the TABLE-level schema lives in ``{out}/meta/schema.json`` (through the
  storage seam, so it works on object stores) and is updated atomically
  at lineage-commit time by ``encode.append_lineage_rows`` — schema
  changes become visible exactly when the data that introduced them
  commits, never earlier;
- readers (the skar DataSource behind ``decode.scan``) resolve the
  merged schema once at planning (one small GET — NOT one footer read
  per part, which would be 10^6 reads at corpus scale) and have each
  read task null-fill the columns a given part predates
  (``read_part_file(fill_missing=...)``).

Widening follows Iceberg's promotion rules: int32 -> int64,
float32 -> float64; the small/large Arrow string & binary encodings are
the same logical type, as are a naive and a UTC timestamp of one unit.
Anything else is a loud TypeError — silent coercion on a petabyte table
is how you corrupt it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from skar_spark.engine import storage

# logical widening lattice: code -> (rank, family). Codes sharing a
# family merge to the higher rank; distinct families conflict.
_FAMILY = {
    "i32": (0, "int"), "i64": (1, "int"),
    "f32": (0, "float"), "f64": (1, "float"),
    "str": (0, "str"), "lstr": (1, "str"),
    "bin": (0, "bin"), "lbin": (1, "bin"),
}


def _widen(a: str, b: str) -> str:
    """Merged typecode for two observed codes of one column name."""
    if a.removesuffix("UTC") == b.removesuffix("UTC"):
        # equal, or a naive and a UTC timestamp of one unit: one logical
        # type (sessions run in UTC). Keep the table's code; read_part_file
        # casts a part stored at the other
        return a
    fa, fb = _FAMILY.get(a), _FAMILY.get(b)
    if fa and fb and fa[1] == fb[1]:
        return a if fa[0] >= fb[0] else b
    raise TypeError(
        f"incompatible schema evolution for column: {a} vs {b} "
        "(only int32->int64, float32->float64 and small<->large "
        "string/binary widening are allowed)")


def merge_schema(cols: list[str], types: dict[str, str],
                 new_cols: list[str], new_types: dict[str, str]
                 ) -> tuple[list[str], dict[str, str]]:
    """Union of an existing table schema and a newly-observed part
    schema: existing column order is preserved, genuinely new columns
    append at the end (Iceberg add-column), shared names widen."""
    out_cols = list(cols)
    out_types = dict(types)
    for c in new_cols:
        if c in out_types:
            out_types[c] = _widen(out_types[c], new_types[c])
        else:
            out_cols.append(c)
            out_types[c] = new_types[c]
    return out_cols, out_types


def _schema_path(out_dir: str) -> str:
    return os.path.join(out_dir, "meta", "schema.json")


@contextlib.contextmanager
def _schema_lock(out_dir: str):
    """Advisory per-table lock for the schema read-merge-write (POSIX
    only; held for microseconds — one small file rewrite). Object-store
    roots fall through to the lock-free convergence loop."""
    if not storage.is_posix(out_dir):
        yield
        return
    import fcntl
    storage.makedirs(os.path.join(out_dir, "meta"))
    fd = os.open(os.path.join(out_dir, "meta", "schema.lock"),
                 os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _load_doc(out_dir: str) -> dict | None:
    """``meta/schema.json`` from one GET, or None when it is missing."""
    try:
        return json.loads(storage.get_bytes(_schema_path(out_dir)))
    except FileNotFoundError:
        return None


def _put_next(out_dir: str, doc: dict | None, cols: list[str],
              types: dict[str, str], **extra) -> None:
    """PUT the schema document that replaces `doc` (None: the first),
    moving `doc` into the version history."""
    version, history = (1, []) if doc is None else (
        doc.get("version", 1) + 1, doc.get("history", []) + [
            {"version": doc.get("version", 1), "cols": doc["cols"],
             "types": doc["types"]}])
    storage.makedirs(os.path.join(out_dir, "meta"))
    storage.put_bytes(_schema_path(out_dir), json.dumps({
        "version": version, "cols": list(cols), "types": dict(types),
        "history": history, "committed_at": time.time(), **extra,
    }).encode())


def load_table_schema(out_dir: str) -> tuple[list[str], dict[str, str]] | None:
    """Authoritative merged schema, or None for pre-evolution tables
    (callers fall back to the first part footer, the fixed-schema
    behavior)."""
    doc = _load_doc(out_dir)
    return None if doc is None else (doc["cols"], doc["types"])


def table_schema(out_dir: str, files: list[str] | None = None
                 ) -> tuple[list[str], dict[str, str]]:
    """The schema a reader decodes with: the merged table schema, else
    (pre-evolution tables) the fixed schema of the first part's footer.
    `files` supplies that part; empty or None lists the table's parts."""
    ts = load_table_schema(out_dir)
    if ts is not None:
        return ts
    from skar_spark.engine.decode import list_part_files
    from skar_spark.engine.partfile import read_footer
    files = files or list_part_files(out_dir)
    if not files:
        raise FileNotFoundError(f"no part files under {out_dir}")
    footer = read_footer(files[0])
    return footer["columns"], footer["schema"]


def update_table_schema(out_dir: str, cols: list[str],
                        types: dict[str, str]) -> tuple[list[str],
                                                        dict[str, str]]:
    """Merge a newly-committed part schema into the table schema.

    Called by ``append_lineage_rows`` with the batch's observed schema;
    a no-change merge writes nothing. The version history stays in the
    file so `describe`-style tooling can show when each column appeared.

    Concurrency: the PUT is atomic (temp+rename / object PUT) but
    read-merge-write of two simultaneous commits can race. On POSIX
    roots the whole merge runs under an advisory ``flock`` on
    ``meta/schema.lock``, so concurrent committers serialize and no
    column can be lost. On object-store roots there is nothing to lock;
    there the loop re-reads after writing and re-merges if another
    writer landed in between — merges are commutative and idempotent
    (set union with widening), so repeated folding converges, with the
    residual caveat (documented, same as Iceberg without a catalog's
    atomic swap) that two writers racing within one round-trip can
    briefly publish a schema missing the other's column until either
    commits again.
    """
    with _schema_lock(out_dir):
        return _update_locked(out_dir, cols, types)


def _update_locked(out_dir: str, cols: list[str],
                   types: dict[str, str]) -> tuple[list[str],
                                                   dict[str, str]]:
    for _ in range(8):
        doc = _load_doc(out_dir)
        if doc is None:
            merged_cols, merged_types = list(cols), dict(types)
        else:
            cur = doc["cols"], doc["types"]
            merged_cols, merged_types = merge_schema(*cur, cols, types)
            if (merged_cols, merged_types) == cur:
                return cur
        _put_next(out_dir, doc, merged_cols, merged_types)
        # convergence check: our columns must all be present in what is
        # now on disk (ours, or a later writer's merge that includes us)
        after = load_table_schema(out_dir)
        if after and all(c in after[1] for c in merged_types):
            return after
        # another writer overwrote us without our columns — fold ours in
        # again; pass OUR merged view so nothing regresses
        cols, types = merged_cols, merged_types
    raise RuntimeError(
        f"schema update did not converge after 8 rounds for {out_dir}")


def replace_table_schema(out_dir: str, cols: list[str],
                         types: dict[str, str]) -> None:
    """Overwrite (not merge) the table schema — the admin-op variant for
    operations that legitimately SHRINK it (snapshot rollback: columns
    introduced after the rollback point must disappear from reads).
    Versioned like updates: the replaced schema lands in the history, so
    `describe`-style tooling still shows the full evolution."""
    with _schema_lock(out_dir):
        doc = _load_doc(out_dir)
        if doc is not None and (doc["cols"], doc["types"]) == (
                list(cols), dict(types)):
            return
        _put_next(out_dir, doc, cols, types, note="rollback")
