"""Compaction — consolidate small part files into full-size ones.

Streaming ingest commits one batch of parts per micro-batch epoch
(streaming.stream_encode), which at scale accumulates the classic
small-files problem: pruning metadata grows per part, scan tasks go
launch-bound, and row groups stay under-filled. `compact_parts` is the
cold-tier consolidation step — the batch analog of the reference's
hot→cold flush building FULL block-range folders out of the in-memory
tail (skar/src/skar_runner.rs:285-353), and of Iceberg's
rewrite_data_files.

Semantics:

- parts whose committed `row_count` is below `small_rows` are decoded
  (vectorized, one task per part), host-planned into parts_for(their
  rows) NEW part ids with heavy-host salting exactly like an append
  (encode.plan_increment: each host in one part unless salted, so the
  lineage host bloom keeps pruning) and re-encoded through the same
  codec-auto-selected kernel — blooms, zone maps, and checksums are
  rebuilt per compacted part. The new ids start at the lineage
  high-water (encode.allocate_part_ids over the lineage compaction
  reads anyway): one past the larger of lineage's largest
  ``partition_id`` and the previous marker's ``pid_high_water``. The
  marker records one past the last new id;
- the lineage table is read driver-side (encode.lineage_table) and
  rewritten in one atomic swap (encode._swap_lineage, the vacuum
  protocol with its own suffix pair) to {untouched latest rows} ∪
  {compacted rows}, then the superseded small files are deleted;
- the table is marked ARCHIVAL (`meta/compacted`) BEFORE any new file
  is written: the marker flips every reader to lineage-resolved
  membership (no directory-listing fast path), making the whole
  operation crash-safe — at any interruption point lineage still
  describes a consistent table and orphaned files are ignored. Resume
  and late-data rollback refuse the marker, because partition
  membership no longer matches the persisted salt-map/plan (a
  replanned pid could collide with a compacted id and silently
  supersede it); appends and stream epochs continue above the
  high-water. STOP in-flight writers before compacting — a
  concurrent lineage append between the snapshot read and the swap
  below would be lost.
- snapshot-retaining tables are rejected: pid-level supersede of a
  retained attempt set has no meaningful time-travel semantics.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession

from skar_spark.config import ARCHIVE, DEFAULT, EngineConfig
from skar_spark.engine.encode import (
    _SWAP_SUFFIXES,
    LINEAGE_SCHEMA,
    _conform,
    _meta_dir,
    _swap_lineage,
    allocate_part_ids,
    collect_footers,
    encode_footers,
    is_retained,
    latest_lineage,
    lineage_table,
    parts_for,
    plan_increment,
)


def _compact_marker(out_dir: str) -> str:
    return os.path.join(_meta_dir(out_dir), "compacted")


def is_compacted(out_dir: str) -> bool:
    from skar_spark.engine import storage
    return storage.exists(_compact_marker(out_dir))


def compaction_high_water(out_dir: str) -> int | None:
    """First part id ABOVE every id a compaction may have allocated, or
    None when the table isn't compacted / the marker predates high-water
    recording (its compacted ids are then covered by lineage's largest
    ``partition_id``). One input of encode.allocate_part_ids."""
    import json

    from skar_spark.engine import storage

    try:
        meta = json.loads(storage.get_bytes(_compact_marker(out_dir)))
        return int(meta["pid_high_water"])
    except FileNotFoundError:
        return None
    except (ValueError, KeyError, TypeError):
        return None  # legacy plain-text marker: high water unknown


def assert_not_compacted(out_dir: str, op: str) -> None:
    if is_compacted(out_dir):
        raise ValueError(
            f"{op} refused: {out_dir} was compacted — partition "
            "membership no longer matches the persisted plan, so "
            "further writes could collide with compacted part ids")


def compact_parts(spark: SparkSession, out_dir: str,
                  cfg: EngineConfig = DEFAULT,
                  small_rows: int | None = None,
                  min_parts: int = 2,
                  profile: EngineConfig | None = None) -> dict:
    """Compact all committed parts smaller than `small_rows` (default:
    cfg.target_partition_rows // 2) into ~target_partition_rows parts.
    Returns {"compacted_parts", "new_parts", "rows"}; no-op (and no
    archival marker) when fewer than `min_parts` parts qualify.

    The candidates are placed as an append places its rows
    (encode.plan_increment: each host in one new part unless salted),
    into parts_for(their lineage ``row_count`` total) parts. Host
    placement does not even out part sizes, so a compacted part can
    land under `small_rows` and be a candidate of the next compaction.
    One new part, or fewer than ``cfg.salt_threshold_rows`` rows, run
    no planning job; otherwise one heavy-host rollup over the
    candidates runs, before the archival marker. The one-part driver
    route of appends is not taken: it writes its part file while
    planning, before the marker could.

    Compaction IS the hot→cold tiering step (VERDICT r04 item 5): the
    re-encode takes its CODEC knobs (symbol budget, zstd level, fsst
    margins) from `profile` — default ``config.ARCHIVE``, the
    size-optimized cold profile (0.775× the plain+zstd9 golden vs
    DEFAULT's 0.972×) — while layout and partition sizing stay on the
    caller's `cfg`. The consolidated cold set is write-once, so paying
    the deeper symbol table once at compaction is the same trade the
    reference makes flushing its hot tail to Zstd(9) full folders
    (skar_runner.rs:285-353, write_parquet.rs:232-244). Pass
    ``profile=cfg`` to keep the ingest codec unchanged."""
    from skar_spark.engine import storage
    from skar_spark.engine.decode import scan
    from skar_spark.engine.partfile import read_footer

    storage.require_posix(out_dir, "compact_parts")
    if is_retained(out_dir):
        raise ValueError("compact_parts does not support "
                         "retain_superseded tables")
    small_rows = small_rows or cfg.target_partition_rows // 2
    # the lineage read casts every row to LINEAGE_SCHEMA, so a lineage
    # of an incompatible older layout fails here, before the marker
    every = lineage_table(out_dir)
    if every is None:
        raise FileNotFoundError(f"no lineage under {out_dir}")
    lin = latest_lineage(every)
    cand = lin.filter(pc.less(lin["row_count"], small_rows))
    if cand.num_rows < min_parts:
        return {"compacted_parts": 0, "new_parts": 0, "rows": 0}
    files = cand["file"].to_pylist()
    total_rows = pc.sum(cand["row_count"]).as_py()
    n_new = parts_for(total_rows, cfg)
    hw = allocate_part_ids(out_dir, every, n_new)
    attempt = "compact-" + uuid.uuid4().hex[:8]

    # build the ENTIRE lazy plan (and run its planning action, if any)
    # BEFORE the irreversible archival marker below: a table whose parts
    # or lineage this version cannot read must fail pre-flight while the
    # table is still writable, not after the marker is durable (older
    # lineage merely lacking a column, e.g. lang_bloom, reads
    # null-backfilled)
    # merged table schema: an evolved table (engine/schema_evo.py) has
    # parts written before a column existed — the read null-fills them so
    # the compacted parts all carry the CURRENT schema (Iceberg rewrite
    # materializes evolution, same here)
    from skar_spark.engine.schema_evo import table_schema
    # the footer read is the pre-flight storage probe: it must run (and
    # be allowed to fail) BEFORE the irreversible archival marker, since
    # the DataSource read below opens part files only when it runs
    read_footer(files[0])
    tcols = table_schema(out_dir, files)[0]
    # the candidates' partitions through the one distributed read; it
    # resolves them from lineage when the encode below runs, which is
    # still the pre-compaction lineage (the swap comes after)
    df = scan(spark, out_dir, columns=tcols,
              part_ids=set(cand["partition_id"].to_pylist()))
    planned, part_ids, loads = plan_increment(
        df, {"n_rows": total_rows}, hw, n_new, cfg)

    from dataclasses import replace as _dc_replace
    p = profile if profile is not None else ARCHIVE
    enc_cfg = _dc_replace(
        cfg, fsst_max_symbols=p.fsst_max_symbols, zstd_level=p.zstd_level)
    new_footers = encode_footers(planned, part_ids, out_dir, enc_cfg,
                                 attempt, "part-{pid:06d}.skar", loads)

    keep = lin.filter(pc.invert(pc.is_in(lin["file"],
                                         value_set=pa.array(files))))

    # archival marker BEFORE any new part file exists (part files are
    # written only when `new_footers` is collected below): from this
    # point every reader resolves membership through lineage (the
    # hot tail is refused), so in-progress compacted files and
    # not-yet-deleted small files can never be double-read — including
    # after a mid-compaction crash, where lineage still describes the
    # pre-compaction table exactly and a re-run allocates fresh pids
    # above the recorded high-water. Resume and rollback are refused
    # from here on; writers ALREADY in flight are the caller's
    # responsibility (their lineage appends after the swap below would
    # be lost) — stop ingest first.
    os.makedirs(_meta_dir(out_dir), exist_ok=True)
    import json
    with open(_compact_marker(out_dir), "w") as fh:
        # pid_high_water = first id above everything this compaction may
        # allocate — recorded so later writers allocate above it
        fh.write(json.dumps({"attempt": attempt,
                             "pid_high_water": hw + n_new}) + "\n")
    # one atomic lineage swap: untouched latest rows + compacted rows.
    # schema_json is NOT a lineage column (ADVICE r05): the compacted
    # parts re-encode the table's already-merged schema (tcols above),
    # so _conform drops it and the lineage schema stays
    # identical across write paths
    new = _conform(collect_footers(new_footers), LINEAGE_SCHEMA.names)
    _swap_lineage(out_dir, pa.concat_tables([keep, new]),
                  _SWAP_SUFFIXES[1])

    for f in files:
        try:
            os.remove(f)
        except FileNotFoundError:
            pass

    return {"compacted_parts": len(files), "new_parts": n_new,
            "rows": total_rows}
