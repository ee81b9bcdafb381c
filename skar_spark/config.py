"""Engine configuration.

Mirror of the reference's TOML config surface (reference:
skar/src/config.rs:6-87 — compression codec, max_row_group_size,
max_file_size, rollback depth). Here it is a plain dataclass passed to the
Spark jobs; every knob that shaped skar's write path has an analog.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # --- layout (mirror of parquet.*.max_row_group_size / max_file_size,
    #     reference skar/src/config.rs:62-74, README.md:185-199) ---
    max_row_group_size: int = 10_000          # rows per encoded chunk
    target_partition_rows: int = 200_000      # rows per output partition file

    # --- compression (mirror of skar's Lz4Raw / Zstd(9) writer options,
    #     reference skar/src/write_parquet.rs:232-244) ---
    # level 5 is the r4 default: after FSST structural compression zstd
    # gains little from deeper search (16sym: zstd5 = 0.972× golden vs
    # zstd9 = 0.952×) but costs ~2× the CPU; the ARCHIVE profile keeps a
    # deeper level where size wins over throughput
    zstd_level: int = 5

    # --- FSST-style string codec ---
    # 16 symbols / zstd5 is the r4 throughput operating point (best-of-3
    # single-core race on 210 MB sorted webtext, vs the plain+zstd9
    # golden): 28.8 MB/s/core at 0.972× golden, vs r3's 12sym+zstd9 =
    # 18.3 MB/s at 0.937× and 24sym+zstd5 = 16.8 MB/s at 0.921×. Encode
    # GB/s is the north rule's first criterion; the ARCHIVE profile
    # below serves the size axis (0.78× at r3-like speed).
    # (the table's sample size and merge stop rule are constants in
    # codecs/fsst.py; the codec selector's sample caps and margins are
    # constants in codecs/selector.py)
    fsst_max_symbols: int = 16                # codes drawn from unused byte values

    # --- partitioning & skew (mirror of block-range folders + the
    #     address/topic0 skew noted in SURVEY §1.3) ---
    salt_threshold_rows: int = 100_000        # hosts above this get salted

    # --- resume / lineage (mirror of db.next_block_num resume,
    #     reference skar/src/db/mod.rs:68-86) ---
    batch_partitions: int = 64                # partitions committed per job batch

    # --- snapshots (Iceberg-style time travel, implemented natively on
    #     the lineage table; no analog in the reference — its reorg
    #     walk-back deletes superseded folders, skar_runner.rs:160-232) ---
    # When True, a superseding attempt (resume-verify re-encode,
    # reencode_late) writes a NEW attempt-tagged part file instead of
    # overwriting in place, so every committed attempt remains readable:
    # scan(..., as_of=ts) reads the table as of any past commit time and
    # vacuum() expires superseded snapshots. When False (default) the
    # write path overwrites atomically and only the latest snapshot
    # exists on disk.
    retain_superseded: bool = False


DEFAULT = EngineConfig()

# size-optimized profile for cold/archival tiers: a deeper symbol table
# (the encoder makes one compiled greedy pass per merge level, so its
# cost scales with merge DEPTH, not symbol count: 56 learned symbols cost
# ~4-5 level passes) + zstd6 →
# 0.775× the plain+zstd9 golden size at ~15 MB/s/core (r3's default
# speed). Use for write-once data where bytes/doc dominates $ at 100 TB.
ARCHIVE = EngineConfig(fsst_max_symbols=64, zstd_level=6)
