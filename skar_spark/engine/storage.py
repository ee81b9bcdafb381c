"""Storage seam — every table/stage path flows through this module.

The engine's default deployment is POSIX paths visible to the driver and
every executor (local disk on local[..], NFS/fuse on a cluster) — the
same assumption the reference's local data-dir layout makes
(skar/src/config.rs data_path). This module isolates that assumption so
a non-POSIX root is a ROUTING decision, not a rewrite (VERDICT r04
item 2):

- **part-file byte IO** (`open_read`, `put_bytes`): object stores have
  no rename, so the atomic temp+rename publish becomes "whole-file
  buffer, then one atomic PUT" — exactly the reference's own pattern
  (write_parquet.rs:63-77 buffers the full parquet file before a single
  write);
- **listing** (`list_prefix`, `dir_exists`): directory = key prefix;
- **parquet bridges** (`localize_dir`, `spark_read_parquet`,
  `spark_write_parquet`): metadata tables are spooled locally and
  up/downloaded object by object — lineage into a local cache for the
  driver-side lineage reader (`localize_dir`), ann staging through the
  Spark bridges. Lineage is metadata-sized by design, so the spool is
  bounded by #partitions, never data rows.

Schemes:

- no scheme → POSIX passthrough (open/glob/rename as before);
- ``mock://`` → a dir-backed fake object store under
  ``$SKAR_MOCK_ROOT`` (default /tmp/skar_mock_store) exposing ONLY the
  object API above: tests drive the full encode→scan→query path through
  it without a network. Executors resolve the same backing dir (local
  mode / single node), which is all a fake needs;
- anything else (s3://, gs://, …) → NotImplementedError naming this
  seam. Wiring a real store means implementing the six primitives with
  its SDK; Spark-side parquet IO can instead use the cluster's native
  Hadoop filesystem (s3a://) by treating the scheme as posix-capable
  here.

Out of scope for non-POSIX roots (explicitly refused, not silently
wrong): vacuum / compaction (their lineage swap is two renames — an
object-store port needs conditional-PUT lineage commits instead) and
streaming checkpoints (Spark-managed paths).
"""

from __future__ import annotations

import glob as _glob
import io
import os
import re
import shutil
import tempfile
import uuid

_SCHEME_RE = re.compile(r"^([a-z][a-z0-9+.\-]*)://")

# backing dir for the mock:// fake object store; a module constant so
# driver and (same-machine) executor workers resolve identically
MOCK_BACKING_ROOT = os.environ.get("SKAR_MOCK_ROOT",
                                   "/tmp/skar_mock_store")


def scheme_of(path: str) -> str | None:
    m = _SCHEME_RE.match(path)
    return m.group(1) if m else None


def is_posix(path: str) -> bool:
    return scheme_of(path) is None


def _local(path: str) -> str:
    """The POSIX path behind `path`: itself, or the backing file of a
    mock:// object key."""
    if is_posix(path):
        return path
    s = scheme_of(path)
    if s != "mock":
        raise NotImplementedError(
            f"storage scheme '{s}://' is not wired — implement the "
            "storage primitives for it (engine/storage.py) or mount it "
            "as a POSIX/Hadoop filesystem")
    return os.path.join(MOCK_BACKING_ROOT, path[len("mock://"):])


def open_read(path: str):
    """Readable, seekable byte stream (object stores: ranged GETs)."""
    return open(_local(path), "rb")


def get_bytes(path: str) -> bytes:
    with open_read(path) as f:
        return f.read()


def put_bytes(path: str, data: bytes) -> None:
    """Single atomic object PUT (posix: temp + rename in-directory; the
    mock store's PUT is atomic the same way, like a real one)."""
    lp = _local(path)
    os.makedirs(os.path.dirname(lp), exist_ok=True)
    tmp = f"{lp}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, lp)


def getsize(path: str) -> int:
    return os.path.getsize(_local(path))


def exists(path: str) -> bool:
    return os.path.exists(_local(path))


def dir_exists(path: str) -> bool:
    """Posix: isdir. Object store: any object under the prefix."""
    lp = _local(path)
    return os.path.isdir(lp) and (is_posix(path) or bool(os.listdir(lp)))


def makedirs(path: str) -> None:
    """No-op on object stores (prefixes need no creation)."""
    if is_posix(path):
        os.makedirs(path, exist_ok=True)


def remove(path: str) -> None:
    os.remove(_local(path))


def remove_prefix(path: str) -> None:
    """Delete every object under the prefix (posix: rmtree)."""
    shutil.rmtree(_local(path), ignore_errors=True)


def list_prefix(path: str) -> list[str]:
    """Immediate children of a directory/prefix, as full paths/URIs,
    sorted. Missing prefix → []."""
    try:
        names = os.listdir(_local(path))
    except OSError:
        return []
    if is_posix(path):
        return sorted(os.path.join(path, n) for n in names)
    return sorted(f"{path.rstrip('/')}/{n}" for n in names)


# localize_dir memo: prefix → (listing fingerprint, cache dir),
# invalidated when the object listing or sizes change. Repeated
# lineage reads stop re-downloading. Superseded dirs are NOT deleted:
# lineage reads are eager pyarrow passes, but a lazy DataFrame from
# spark_read_parquet (ann staging) may still reference one — so growth
# is bounded by listing CHANGES (one dir per committed batch), not by
# read count.
_LOCALIZE_CACHE: dict[str, tuple[tuple, str]] = {}


def localize_dir(path: str) -> str:
    """A local directory with this prefix's objects, for pyarrow/Spark
    readers. Posix roots pass through; object-store prefixes are
    fetched object-by-object into a memoized temp cache (metadata
    tables only — bounded by #partitions)."""
    if is_posix(path):
        return path
    keys = list_prefix(path)
    fp = tuple((k, getsize(k)) for k in keys)
    ent = _LOCALIZE_CACHE.get(path)
    if ent is not None and ent[0] == fp and os.path.isdir(ent[1]):
        return ent[1]
    d = tempfile.mkdtemp(prefix="skar_fetch_")
    for key in keys:
        name = key.rsplit("/", 1)[1]
        with open(os.path.join(d, name), "wb") as f:
            f.write(get_bytes(key))
    _LOCALIZE_CACHE[path] = (fp, d)
    return d


def spark_read_parquet(spark, path: str):
    """spark.read.parquet through the seam. Raises (like Spark does on
    a missing path) when an object-store prefix holds no objects."""
    if is_posix(path):
        return spark.read.parquet(path)
    files = [k for k in list_prefix(path) if k.endswith(".parquet")]
    if not files:
        raise FileNotFoundError(f"no parquet objects under {path}")
    return spark.read.parquet(localize_dir(path))


def spark_write_parquet(df, path: str, mode: str = "overwrite") -> None:
    """df.write.parquet through the seam. Object stores: spool the
    write locally, then one PUT per file — append uses fresh uuid keys
    so concurrent/successive appends never clobber."""
    if is_posix(path):
        df.write.mode(mode).parquet(path)
        return
    spool = tempfile.mkdtemp(prefix="skar_spool_")
    try:
        df.write.mode("overwrite").parquet(spool)
        if mode == "overwrite":
            remove_prefix(path)
        for i, f in enumerate(
                sorted(_glob.glob(os.path.join(spool, "*.parquet")))):
            with open(f, "rb") as fh:
                put_bytes(f"{path.rstrip('/')}/"
                          f"part-{uuid.uuid4().hex[:12]}-{i:04d}.parquet",
                          fh.read())
    finally:
        shutil.rmtree(spool, ignore_errors=True)


def require_posix(path: str, op: str) -> None:
    """Guard for operations whose crash protocol needs rename (vacuum /
    compaction lineage swap). Object-store ports need conditional-PUT
    lineage commits instead — refuse loudly, never corrupt silently."""
    if not is_posix(path):
        raise NotImplementedError(
            f"{op} requires a POSIX table root (its atomicity comes "
            f"from rename); got {path}. Object-store tables are "
            "write-once + scan/query — re-encode instead.")


class spooled_part_writer:
    """File-like target for one part file: posix → temp file published
    by rename; object store → in-memory buffer published by one PUT
    (the reference's whole-file buffer + single write,
    write_parquet.rs:63-77). Use as a context manager; `publish()`
    inside the block finalizes and returns bytes written."""

    def __init__(self, path: str):
        self.path = path
        self._posix = is_posix(path)
        if self._posix:
            self._tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
            self.f = open(self._tmp, "wb")
        else:
            self.f = io.BytesIO()
        self._published = False

    def publish(self) -> int:
        if self._posix:
            self.f.close()
            os.replace(self._tmp, self.path)
            self._published = True
            return os.path.getsize(self.path)
        data = self.f.getvalue()
        put_bytes(self.path, data)
        self._published = True
        return len(data)

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb):
        if not self._published:
            # abandoned (exception): drop the temp, never the target
            try:
                self.f.close()
            except Exception:
                pass
            if self._posix:
                try:
                    os.remove(self._tmp)
                except OSError:
                    pass
        return False
