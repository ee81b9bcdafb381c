"""skar_spark — a PySpark-native per-column lightweight-compression engine.

A from-scratch rebuild (NOT a port) of the capabilities of the reference
engine `omahs/skar` (Rust, arrow2/Parquet archive indexer — see
/root/reference) on idiomatic PySpark:

- columnar codecs (dictionary, RLE, bit-pack, frame-of-reference + delta,
  FSST-style sampled-symbol-table string compression, plain+zstd) as pure
  numpy/pyarrow kernels — the analog of skar's arrow2 compute kernels
  (reference: skar/src/write_parquet.rs, skar/src/query/execution/mod.rs)
- per-column-chunk codec auto-selection by sampling (the key delta vs the
  reference, whose codec is static config — skar/src/config.rs:82-86)
- a Spark encode job: explicit hash/range partitioning with salting for
  skewed hosts, sortWithinPartitions-style clustering (mirror of the
  lexsort at skar/src/write_parquet.rs:22-35,131-153), Arrow-batch
  kernels via mapInArrow (never per-row Python)
- per-partition footer + lineage table with zone maps, split-block bloom
  filters and content checksums (mirror of skar/src/build_parquet_idx.rs
  and skar/src/db/mod.rs) enabling checkpoint-resume (mirror of
  db.next_block_num resume, skar/src/db/mod.rs:68-86)
"""

__version__ = "0.1.0"

from skar_spark import zipcache
from skar_spark.config import EngineConfig  # noqa: F401

__all__ = ["EngineConfig"]

# every process that unpickles engine code imports this package first
zipcache.install()

# Public API map (import from the submodules; they lazy-import Spark):
#   engine.encode:  encode_documents, reencode_late, read_lineage,
#                   merge_updates, delete_rows       (row-level upsert/delete,
#                                                     partition copy-on-write)
#                   snapshots, vacuum, rollback      (write path + snapshots
#                                                     + revert-to-timestamp)
#   engine.decode:  scan, scan_paged, validate_output (read path)
#   engine.compact: compact_parts                     (cold-tier consolidation)
#   query:          run_query                         (JSON query handler)
#   server:         serve                             (HTTP query server)
#   sources:        register, read_paged              (spark.read/readStream
#                                                      .format("skar"))
#   streaming:      stream_encode, stream_sessionize, windowed_rate
#   codecs:         encode_auto, decode_array         (pure columnar kernels)
