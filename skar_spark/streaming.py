"""Structured-Streaming ingest — the continuous analog of the batch encoder.

The reference's ingest loop is a continuous stateful stream: tail-follow
with parent-hash verification, hot-tier appends, threshold-triggered
flushes to parquet + index, and checkpoint-resume
(skar/src/skar_runner.rs:107-158, 285-353; T1-T5 in SURVEY §2.7).

Spark realization: `readStream` over the landing directory →
`foreachBatch` running the increment writer of batch appends
(`encode.encode_increment`) per micro-batch (the analog of the hot→cold
flush), so an epoch is sized like an append (one part per
``target_partition_rows`` rows, the reference's max_file_size), with

- exactly-once at the sink via Spark's streaming checkpoint (epoch ids)
  *plus* our per-partition lineage — double bookkeeping exactly like the
  reference's mdbx txn + folder rename (a replayed epoch is recognized
  by its attempt id and writes nothing);
- part ids from the lineage high-water allocator shared with appends
  and compaction (`encode.allocate_part_ids`; the analog of skar's
  next block-range folder starting where its index says the last ended);
- a windowed watermark aggregation helper for late-data monitoring
  (the closest analog of the reference's rollback-depth bound on
  late/contradictory data, config.rs:8-9);
- a CUSTOM STATEFUL operator (`stream_sessionize`): per-host crawl
  sessions via applyInPandasWithState with event-time timeout —
  arbitrary per-group state, the shape Spark's built-in windowed
  aggregations cannot express.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skar_spark.config import DEFAULT, EngineConfig
from skar_spark.engine import storage
from skar_spark.engine.encode import encode_increment, plan_totals


def _quarantine_poison(exc: Exception, input_dir: str,
                       out_dir: str) -> str | None:
    """If `exc` names an unreadable landing file, move it to
    `out_dir/quarantine/` and return its path; else None (transient).

    A corrupt parquet file in the landing dir would otherwise fail the
    SAME micro-batch on every retry AND every restart — the classic
    poison message. Verification is positive: the file must exist under
    input_dir and actually fail a pyarrow open (a readable file named in
    a transient error is never quarantined).
    """
    import pyarrow.parquet as pq

    root = os.path.realpath(input_dir)
    for m in re.finditer(r"(/[^\s'\"]+?\.parquet)", str(exc)):
        path = os.path.realpath(m.group(1))
        if not (path.startswith(root + os.sep) and os.path.isfile(path)):
            continue
        try:
            pq.ParquetFile(path)
            continue  # opens fine → not the poison
        except Exception:
            pass
        qdir = os.path.join(out_dir, "quarantine")
        os.makedirs(qdir, exist_ok=True)
        dest = os.path.join(qdir, os.path.basename(path))
        os.replace(path, dest)
        return dest
    return None


def stream_encode(spark: SparkSession, input_dir: str, out_dir: str,
                  cfg: EngineConfig = DEFAULT,
                  checkpoint_dir: str | None = None,
                  max_files_per_trigger: int = 16,
                  max_bytes_per_trigger: int | None = None,
                  max_retries: int = 3,
                  backoff_base_sec: float = 0.5,
                  max_bytes_per_sec: float | None = None,
                  schema_ddl: str | None = None,
                  auto_compact_every: int | None = None,
                  compact_profile: EngineConfig | None = None):
    """Continuously encode documents landing as parquet in `input_dir`.

    Returns the StreamingQuery. Use `.trigger(availableNow)` semantics:
    the query drains what is present and stops (good for tests/cron);
    a long-running deployment would drop availableNow. Each epoch is
    one encode_increment: an epoch below ``cfg.target_partition_rows``
    is one part encoded on the driver, in one thread (a smaller target
    spreads a large epoch over parallel parts), and a day_hash table
    refuses it.

    Resilience (mirror of the reference source's exponential-backoff
    retry + endpoint rate limiting, rpc-client/src/rpc_client.rs:66-84,
    endpoint.rs:191-245): a failed micro-batch is retried in-place with
    exponential backoff (a refusal, ValueError, is not); an unreadable
    landing file (poison) is moved to `out_dir/quarantine/` with a loud
    log and the batch re-runs without it (`ignoreMissingFiles` lets the
    fixed file list skip the moved file) — quarantining is not counted
    against the retry budget, and every quarantined file is visible on
    disk, never silently dropped.

    `max_bytes_per_sec` is the RATE-limit analog of the reference's
    per-endpoint req/s governor (endpoint.rs:191-245): where
    maxBytes/FilesPerTrigger bound each micro-batch's VOLUME, this
    paces SUSTAINED intake — after each committed batch the driver
    sleeps until elapsed ≥ admitted_bytes / rate (a token bucket with
    one-batch burst). Use it to keep a backfill from starving the
    upstream source or saturating the cluster's ingest share.

    Exactly-once: an epoch commits under the attempt id
    ``epoch-{stream id}-{epoch}`` (the stream id is Spark's persistent
    query id in ``{checkpoint}/metadata``, fresh per checkpoint), so an
    epoch Spark replays after its lineage commit writes nothing.

    `auto_compact_every=K` turns the stream into a self-maintaining
    table (continuous hot→cold tiering — the reference's flush-to-cold,
    skar_runner.rs:285-353, run as part of ingest instead of as an
    offline admin step): every K committed epochs the driver runs
    ``compact_parts`` (cold codec knobs from `compact_profile`, default
    ``config.ARCHIVE``), consolidating the small per-epoch parts so
    their count stays bounded by K instead of growing with stream
    lifetime — at 10^12 docs an uncompacted epoch-per-file table is
    unreadable. Compaction runs between micro-batches on the driver's
    foreachBatch thread (no concurrent writer by construction); later
    epochs allocate their ids above its high-water mark like any other
    writer. Compaction failures are NOT retried into a re-encode
    (re-running a batch whose parts were already consolidated would
    duplicate rows); compact_parts is crash-safe.
    """
    from skar_spark.synth import DOCS_DDL

    os.makedirs(os.path.join(out_dir, "parts"), exist_ok=True)
    checkpoint = checkpoint_dir or os.path.join(out_dir, "_checkpoint")

    # backpressure (T5): maxFilesPerTrigger bounds every micro-batch's
    # input volume — the analog of the reference's bounded ingest channel
    # (ingest/src/ingest.rs:18, 4-batch mpsc depth). maxBytesPerTrigger
    # additionally bounds it in BYTES (the per-endpoint rate-limit
    # analog, rpc-client/src/endpoint.rs:191-245): web docs skew in
    # size, so a file-count bound alone admits arbitrarily heavy
    # batches. Spark's file source treats it as a soft cap (it always
    # admits at least one file so progress is guaranteed).
    # `schema_ddl` widens the landing schema mid-table (Iceberg-style
    # add-column, engine/schema_evo.py): restart the stream with the
    # extended DDL once the upstream starts emitting the new column —
    # already-processed files stay processed (checkpoint), new epochs
    # encode the extra column, the table schema merges at commit, and
    # scan() null-fills it for pre-evolution parts.
    reader = (spark.readStream.schema(schema_ddl or DOCS_DDL)
              # quarantined poison files are moved out from under an
              # already-planned batch; skip them instead of failing
              .option("ignoreMissingFiles", "true"))
    if max_bytes_per_trigger is not None:
        # Spark's file source rejects both bounds at once — the byte
        # bound (the tighter statement of intake capacity) wins
        reader = reader.option("maxBytesPerTrigger",
                               str(int(max_bytes_per_trigger)))
    else:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    stream = reader.parquet(input_dir)

    def process_batch(bdf: DataFrame, epoch_id: int) -> None:
        t_batch0 = time.time()
        attempts = 0
        while True:
            try:
                totals = plan_totals(bdf)
                # Spark writes the query's persistent id at its start
                stream_id = json.loads(storage.get_bytes(
                    os.path.join(checkpoint, "metadata")))["id"]
                encode_increment(bdf, totals, out_dir, cfg,
                                 f"epoch-{stream_id}-{epoch_id}",
                                 f"part-e{int(epoch_id)}-{{pid:09d}}.skar")
                admitted = float(totals["n_bytes"] or 0)
                if max_bytes_per_sec:
                    # token-bucket pacing (see docstring): sleep off any
                    # rate excess before the next trigger is planned
                    min_elapsed = admitted / float(max_bytes_per_sec)
                    excess = min_elapsed - (time.time() - t_batch0)
                    if excess > 0:
                        print(f"[stream_encode] epoch {epoch_id}: rate "
                              f"limit {max_bytes_per_sec:.0f} B/s — "
                              f"pacing {excess:.2f}s "
                              f"({admitted:.0f} B admitted)",
                              file=sys.stderr)
                        time.sleep(excess)
                break
            except Exception as e:
                # retrying an interrupted/stopped query is wrong — bail
                if isinstance(e, (KeyboardInterrupt, SystemExit)):
                    raise
                poison = _quarantine_poison(e, input_dir, out_dir)
                if poison is not None:
                    # terminates: each pass removes one file from disk
                    print(f"[stream_encode] epoch {epoch_id}: quarantined "
                          f"poison file → {poison}", file=sys.stderr)
                    continue
                attempts += 1
                # a ValueError is a refusal no retry can change
                if attempts > max_retries or isinstance(e, ValueError):
                    raise
                delay = backoff_base_sec * 2 ** (attempts - 1)
                print(f"[stream_encode] epoch {epoch_id}: transient "
                      f"failure ({type(e).__name__}), retry "
                      f"{attempts}/{max_retries} in {delay:.1f}s",
                      file=sys.stderr)
                time.sleep(delay)
        # maintenance AFTER the commit, outside the retry loop: a retry
        # that re-encoded an already-compacted batch would resurrect its
        # rows under fresh lineage rows (duplicates). compact_parts is
        # itself crash-safe (marker + atomic swap).
        if auto_compact_every and (int(epoch_id) + 1) % auto_compact_every == 0:
            from skar_spark.engine.compact import compact_parts
            res = compact_parts(spark, out_dir, cfg,
                                profile=compact_profile)
            if res["new_parts"]:
                print(f"[stream_encode] epoch {epoch_id}: auto-compacted "
                      f"{res['compacted_parts']} parts → "
                      f"{res['new_parts']}", file=sys.stderr)

    return (stream.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def stream_sessionize(spark: SparkSession, input_dir: str,
                      gap_sec: int = 1800,
                      watermark: str = "10 seconds",
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """Custom STATEFUL streaming operator: per-host crawl sessions via
    ``applyInPandasWithState`` (arbitrary per-group state + event-time
    timeout — the pattern for operators Spark's built-in windowed aggs
    can't express). The streaming analog of the reference ingest loop's
    per-stream continuity tracking (skar/src/skar_runner.rs:107-158).

    A session is one host's burst of documents with no gap > `gap_sec`
    between consecutive arrivals (by event time `warc_ts`). Sessions
    separated by a gap WITHIN the data seen so far are closed and
    emitted immediately (vectorized split on the sorted event times);
    the trailing open session lives in state — (start_us, last_us,
    n_docs), O(#active hosts) regardless of volume — and closes when
    the event-time watermark passes last_ts + gap. Late data within the
    watermark extends or bridges the OPEN session; a late row older
    than an already-emitted session starts a new session rather than
    reopening it (the standard micro-batch sessionization trade — the
    same semantics as Spark's own sessionization example).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from skar_spark.engine.encode import with_host
    from skar_spark.synth import DOCS_DDL

    reader = spark.readStream.schema(DOCS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    stream = reader.parquet(input_dir)
    stream = with_host(stream).withWatermark("warc_ts", watermark)
    gap_us = gap_sec * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        import numpy as np

        def out(sessions):
            return pd.DataFrame({
                "host": [key[0]] * len(sessions),
                "session_start": [pd.to_datetime(s, unit="us")
                                  for s, _e, _n in sessions],
                "session_end": [pd.to_datetime(e, unit="us")
                                for _s, e, _n in sessions],
                "n_docs": [n for _s, _e, n in sessions],
            })

        if state.hasTimedOut:
            seg = tuple(state.get)
            state.remove()
            yield out([seg])
            return

        parts = []
        for pdf in pdf_iter:  # pandas BATCHES of this host's rows
            if len(pdf):
                parts.append(pdf["warc_ts"].astype("datetime64[us]")
                             .astype("int64").to_numpy())
        if not parts:
            return
        ts = np.sort(np.concatenate(parts))
        # vectorized burst split: one segment per gap-separated burst
        brk = np.nonzero(np.diff(ts) > gap_us)[0]
        starts = np.concatenate(([0], brk + 1))
        ends = np.concatenate((brk, [len(ts) - 1]))
        segs = [(int(ts[a]), int(ts[b]), int(b - a + 1))
                for a, b in zip(starts, ends)]  # per BURST, not per row
        if state.exists:
            segs.append(tuple(state.get))
        segs.sort()
        merged = [segs[0]]
        for s, e, n in segs[1:]:  # per burst-segment, not per data row
            ps, pe, pn = merged[-1]
            if s - pe <= gap_us:
                merged[-1] = (ps, max(pe, e), pn + n)
            else:
                merged.append((s, e, n))
        closed, open_seg = merged[:-1], merged[-1]
        if closed:
            yield out(closed)
        state.update(open_seg)
        # close the open session when the watermark passes last + gap
        state.setTimeoutTimestamp(open_seg[1] // 1000 + gap_sec * 1000)

    return stream.groupBy("host").applyInPandasWithState(
        fn,
        outputStructType="host string, session_start timestamp, "
                         "session_end timestamp, n_docs long",
        stateStructType="start_us long, last_us long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout)


def windowed_rate(spark: SparkSession, input_dir: str,
                  window: str = "10 minutes",
                  watermark: str = "30 minutes") -> DataFrame:
    """Streaming windowed ingest-rate monitor with late-data watermark —
    the T-operator coverage demo (tumbling window + watermark)."""
    from skar_spark.synth import DOCS_DDL
    stream = spark.readStream.schema(DOCS_DDL).parquet(input_dir)
    return (stream
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window), F.col("lang"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.octet_length("html")).alias("html_bytes")))


def stream_dedup(spark: SparkSession, input_dir: str,
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup ahead of the encoder: drop re-crawled
    duplicate documents ACROSS micro-batches with watermark-bounded
    state.

    `dropDuplicatesWithinWatermark` keeps one state row per content
    hash and expires it once the event-time watermark passes its
    timestamp + delay — so state size tracks the crawl's re-visit
    horizon (the watermark), NOT corpus size. That is the only shape
    that survives a 10^12-doc continuous ingest; an unbounded
    `dropDuplicates` would accrete a corpus-sized state store. First
    arrival wins (emitted immediately in append mode), matching the
    batch `q_dedup_exact` min-id survivor rule under arrival order.
    """
    from skar_spark.synth import DOCS_DDL
    stream = spark.readStream.schema(DOCS_DDL).parquet(input_dir)
    keyed = stream.withColumn("text_sha", F.sha2(F.col("text"), 256))
    return (keyed.withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["text_sha"]))
