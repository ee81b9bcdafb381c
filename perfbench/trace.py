"""The traced run: spans from outside the engine, Spark's stage metrics,
an in-process kernel replay, and the per-layer numbers built from them.

Spans carry name, start, end and parent; they are kept in memory and
written out at exit. A wrapped function is a module attribute the engine
looks up at call time, so the wrapper sees every driver-side call. Some
wrappers also tag the Spark jobs their call launches with a job group,
so the status REST API can split stage metrics by layer:

    encode   encode_documents / append_documents
    kernel   append_lineage_rows (its collect runs the encode kernel)
    decode   the traced engine scan (ingest) and paged_decode_loop
    prune    prune_partitions / prune_selections
    query    run_query
    check    the benchmark's own output check, kept out of every layer
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
import urllib.request

import numpy as np

from perfbench.metrics import DECODED_CODECS, PART_COLUMNS

GROUP_PREFIX = "perfbench:"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.sc = None            # SparkContext, for job groups
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    # --- spans -----------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, group: str | None = None) -> dict | None:
        if not self.enabled:
            return None
        stack = self._stack()
        span = {"name": name, "parent": stack[-1]["id"] if stack else None,
                "start": time.perf_counter(), "end": None, "attrs": {}}
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span)
        if group is not None and self.sc is not None:
            # "<prefix><group>/<span id>": stage metrics split by layer
            # and, within a layer, by call
            span["prev_group"] = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty(
                "spark.jobGroup.id", f"{GROUP_PREFIX}{group}/{span['id']}")
        return span

    def end(self, span: dict | None) -> None:
        if span is None:
            return
        span["end"] = time.perf_counter()
        self._stack().pop()
        if "prev_group" in span:
            self.sc.setLocalProperty("spark.jobGroup.id",
                                     span.pop("prev_group"))

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        s = self.begin(name, group)
        try:
            yield s
        finally:
            self.end(s)

    # --- wrapping --------------------------------------------------------

    def wrap(self, module, attr: str, name: str, group: str | None = None,
             record=None) -> None:
        """Replace `module.attr` by a span-recording wrapper. `record(span,
        args, result)` may add attributes after the call ends."""
        orig = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            s = tracer.begin(name, group)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.end(s)
            if s is not None and record is not None:
                record(s, args, out)
            return out

        wrapper.__wrapped__ = orig
        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unwrap_all(self, keep: int = 0) -> None:
        """Undo the wraps made after the first `keep`."""
        for module, attr, orig in reversed(self._patched[keep:]):
            setattr(module, attr, orig)
        del self._patched[keep:]

    def install_engine(self) -> None:
        """Driver-side spans around the engine's layer boundaries."""
        from skar_spark import query, server
        from skar_spark.engine import decode, encode, storage
        for attr in ("encode_documents", "append_documents"):
            self.wrap(encode, attr, f"engine.encode.{attr}", "encode")
        self.wrap(encode, "append_lineage_rows",
                  "engine.encode.append_lineage_rows", "kernel")
        for attr in ("plan_partitions", "save_salt_map", "save_plan_meta",
                     "read_lineage"):
            self.wrap(encode, attr, f"engine.encode.{attr}")
        self.wrap(storage, "put_bytes", "engine.storage.put_bytes")
        self.wrap(decode, "prune_partitions", "engine.decode.prune_partitions",
                  "prune")
        self.wrap(query, "prune_selections", "query.prune_selections",
                  "prune")
        self.wrap(decode, "paged_decode_loop",
                  "engine.decode.paged_decode_loop", "decode",
                  record=lambda s, a, out: s["attrs"].update(files=len(a[1])))
        self.wrap(query, "list_part_files", "query.list_part_files",
                  record=lambda s, a, out: s["attrs"].update(files=len(out)))
        self.wrap(server, "run_query", "query.run_query", "query")

    def install_codecs(self) -> None:
        """In-process spans inside one part file's write and read."""
        from skar_spark.codecs import framing, fsst, selector
        from skar_spark.engine import partfile

        def raw_bytes(s, a, out):
            s["attrs"]["bytes"] = len(a[1])

        def out_len(s, a, out):
            s["attrs"]["n"] = len(out)

        self.wrap(fsst, "encode", "codecs.fsst.encode", record=raw_bytes)
        self.wrap(fsst, "free_byte_values", "codecs.fsst.free_byte_values")
        self.wrap(fsst, "build_symbol_table", "codecs.fsst.build_symbol_table",
                  record=out_len)
        self.wrap(fsst, "merge_levels", "codecs.fsst.merge_levels",
                  record=out_len)
        self.wrap(fsst, "fsst_compress", "codecs.fsst.compress")
        self.wrap(fsst, "fsst_compress_rows", "codecs.fsst.compress")
        self.wrap(fsst, "fsst_decompress", "codecs.fsst.decompress",
                  record=out_len)
        self.wrap(framing, "pack_section", "codecs.framing.pack_section")
        self.wrap(framing, "unpack_section", "codecs.framing.unpack_section")
        self.wrap(selector, "choose_codec", "codecs.selector.choose_codec",
                  record=lambda s, a, out: s["attrs"].update(codec=out))

        def blob_codec(s, a, out):
            blob = a[0]
            hlen = int.from_bytes(blob[4:8], "little")
            s["attrs"]["codec"] = json.loads(blob[8:8 + hlen])["codec"]

        self.wrap(partfile, "decode_array", "codecs.core.decode_array",
                  record=blob_codec)
        self.wrap(partfile, "read_footer", "engine.partfile.read_footer")
        self.wrap(partfile, "write_part_file",
                  "engine.partfile.write_part_file",
                  record=lambda s, a, out: s["attrs"].update(
                      bytes=out["bytes_in"]))
        self.wrap(partfile, "read_part_file", "engine.partfile.read_part_file",
                  record=lambda s, a, out: s["attrs"].update(
                      bytes=sum(partfile.content_bytes(out[c])
                                for c in out.column_names)))

    # --- queries over the recorded spans -----------------------------------

    def named(self, *names: str) -> list[dict]:
        return [s for s in self.spans
                if s["name"] in names and s["end"] is not None]

    def total(self, *names: str) -> float:
        return dur(self.named(*names))

    def ancestors(self, span: dict):
        p = span["parent"]
        while p is not None:
            yield self.spans[p]
            p = self.spans[p]["parent"]

    def has_ancestor(self, span: dict, *names: str) -> bool:
        return any(a["name"] in names for a in self.ancestors(span))

    def self_time(self, span: dict, *child_names: str) -> float:
        """`span`'s duration minus the part its named descendants cover."""
        ivs = [(s["start"], s["end"]) for s in self.named(*child_names)
               if any(a is span for a in self.ancestors(s))]
        return (span["end"] - span["start"]) - _union(ivs)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{k: s[k] for k in
                        ("id", "name", "parent", "start", "end", "attrs")}
                       for s in self.spans], f)


def dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- Spark's own stage and task metrics --------------------------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _spark_ts(s: str | None) -> float | None:
    if not s:
        return None
    import datetime as _dt
    d = _dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=_dt.timezone.utc).timestamp()


def spark_stages(sc) -> dict[str, dict]:
    """Per job group (without GROUP_PREFIX and call id): its jobs, each
    tagged with the `call` (span id) that launched it, and its completed
    stages with task durations, from the status REST API."""
    base = sc.uiWebUrl
    app = _get(f"{base}/api/v1/applications")[0]["id"]
    api = f"{base}/api/v1/applications/{app}"
    for _ in range(50):  # the status store trails the scheduler
        jobs = _get(f"{api}/jobs")
        if all(j["status"] != "RUNNING" for j in jobs):
            break
        time.sleep(0.1)
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for j in jobs:
        g = j.get("jobGroup") or ""
        if not g.startswith(GROUP_PREFIX):
            continue
        g, j["call"] = g[len(GROUP_PREFIX):].split("/")
        grp = groups.setdefault(g, {"jobs": [], "stages": []})
        grp["jobs"].append(j)
        for sid in j["stageIds"]:
            stage_group[sid] = g
    for st in _get(f"{api}/stages?status=complete&details=true"):
        g = stage_group.get(st["stageId"])
        if g is None:
            continue
        st["task_s"] = [t["duration"] / 1000.0
                        for t in (st.get("tasks") or {}).values()
                        if t.get("duration") is not None]
        st.pop("tasks", None)
        groups[g]["stages"].append(st)
    return groups


def job_wall_s(jobs: list[dict]) -> float:
    return _union((_spark_ts(j["submissionTime"]),
                   _spark_ts(j["completionTime"])) for j in jobs
                  if j.get("completionTime"))


def _stage_wall(st: dict) -> float:
    return (_spark_ts(st["completionTime"])
            - _spark_ts(st.get("firstTaskLaunchedTime")
                        or st["submissionTime"]))


def main_stages(group: dict) -> list[dict]:
    """The stages doing a decode's work: those reading a shuffle (a
    decode reads the repartitioned file list)."""
    return [s for s in group["stages"] if s["shuffleReadBytes"] > 0]


def last_stages(group: dict) -> list[dict]:
    """The last stage each call ran. For an encode kernel call that is
    the kernel stage: the planned exchange's map side, and any other job
    the call runs first, run earlier stages."""
    by_id = {s["stageId"]: s for s in group["stages"]}
    calls: dict[str, set] = {}
    for j in group["jobs"]:
        calls.setdefault(j["call"], set()).update(
            i for i in j["stageIds"] if i in by_id)
    return [by_id[max(ids)] for ids in calls.values() if ids]


# --- in-process kernel replay ------------------------------------------------

REPLAY_PARTS = 2
REPLAY_DOCS = 2500


def replay_tables(seed: int) -> list:
    """Part-shaped tables regenerated from the seed and sorted the way the
    encode kernel sorts them: (host, warc_ts, url), host kept as `_host`."""
    from perfbench.checks import corpus, with_host
    out = []
    for k in range(REPLAY_PARTS):
        # ids far above any workload's corpus: other rows, same generator
        t = with_host(corpus(REPLAY_DOCS, seed, first_id=10_000_000 * (k + 1)))
        t = t.rename_columns(["_host" if c == "host" else c
                              for c in t.column_names])
        t = t.sort_by([("_host", "ascending"), ("warc_ts", "ascending"),
                       ("url", "ascending")])
        out.append(t.select(list(PART_COLUMNS) + ["_host"]).combine_chunks())
    return out


def kernel_replay(tracer: Tracer, seed: int, work: str) -> tuple[dict, dict]:
    """Write and read the replay tables with both profiles through
    `partfile`, codec layers wrapped. Returns the codec/partfile metrics
    and, as extra detail, the codec each column chose."""
    from skar_spark.config import ARCHIVE, DEFAULT
    from skar_spark.engine import partfile

    tables = replay_tables(seed)
    os.makedirs(work, exist_ok=True)
    paths: list[str] = []
    keep = len(tracer._patched)
    tracer.install_codecs()
    try:
        for name, cfg in (("default", DEFAULT), ("archive", ARCHIVE)):
            for k, t in enumerate(tables):
                p = os.path.join(work, f"replay-{name}-{k}.skar")
                partfile.write_part_file(p, t, cfg)
                paths.append(p)
        for p in paths:
            partfile.read_part_file(p)
        footers = [partfile.read_footer.__wrapped__(p) for p in paths]
    finally:
        tracer.unwrap_all(keep)
        for p in paths:
            os.remove(p)

    def outside_trials(*names):
        return [s for s in tracer.named(*names)
                if not tracer.has_ancestor(s, "codecs.selector.choose_codec")]

    enc = outside_trials("codecs.fsst.encode")
    compress = outside_trials("codecs.fsst.compress")
    decomp = tracer.named("codecs.fsst.decompress")
    tables_built = [s for s in outside_trials("codecs.fsst.build_symbol_table")
                    if tracer.has_ancestor(s, "codecs.fsst.encode")]
    levels = [s for s in outside_trials("codecs.fsst.merge_levels")
              if tracer.has_ancestor(s, "codecs.fsst.encode")]
    writes = tracer.named("engine.partfile.write_part_file")
    reads = tracer.named("engine.partfile.read_part_file")
    m = {
        "codecs.fsst.free_bytes_s": dur(outside_trials(
            "codecs.fsst.free_byte_values")),
        "codecs.fsst.table_build_s": dur(tables_built),
        "codecs.fsst.compress_s": dur(compress),
        "codecs.fsst.compress_mb_s": sum(s["attrs"]["bytes"] for s in enc)
        / 1e6 / max(dur(compress), 1e-9),
        "codecs.fsst.decompress_s": dur(decomp),
        "codecs.fsst.decompress_mb_s": sum(s["attrs"]["n"] for s in decomp)
        / 1e6 / max(dur(decomp), 1e-9),
        "codecs.fsst.symbols": float(np.mean(
            [s["attrs"]["n"] for s in tables_built])),
        "codecs.fsst.levels": float(np.mean(
            [s["attrs"]["n"] for s in levels])),
        "codecs.framing.zstd_pack_s": dur(outside_trials(
            "codecs.framing.pack_section")),
        "codecs.framing.zstd_unpack_s": dur(tracer.named(
            "codecs.framing.unpack_section")),
        "codecs.selector.trial_s": tracer.total(
            "codecs.selector.choose_codec"),
        "engine.partfile.write_mb_s": sum(s["attrs"]["bytes"] for s in writes)
        / 1e6 / dur(writes),
        "engine.partfile.read_mb_s": sum(s["attrs"]["bytes"] for s in reads)
        / 1e6 / dur(reads),
        "engine.partfile.footer_s": tracer.total(
            "engine.partfile.read_footer"),
    }
    # where one part's write goes, as shares of write_part_file time
    write_s = dur(writes)
    split = {"fsst": dur(enc) / write_s,
             "zstd": m["codecs.framing.zstd_pack_s"] / write_s,
             "selector": m["codecs.selector.trial_s"] / write_s}
    split["other"] = 1.0 - sum(split.values())
    # the part footers: chosen codec and stored bytes per column
    extra = {"codecs.part_write_split": split}
    for c in PART_COLUMNS:
        chunks = [rg["chunks"][c] for f in footers for rg in f["rowgroups"]]
        extra[f"codecs.selector.choice.{c}"] = statistics.mode(
            ch[2] for ch in chunks)
        m[f"codecs.core.bytes_out.{c}"] = sum(ch[1] for ch in chunks)
    decodes = tracer.named("codecs.core.decode_array")
    for codec in DECODED_CODECS:
        m[f"codecs.core.decode_s.{codec}"] = dur(
            s for s in decodes if s["attrs"].get("codec") == codec)
    return m, extra


# --- per-layer numbers from spans, stage metrics and lineage -----------------

EMPTY_GROUP = {"jobs": [], "stages": []}


def _median_max(xs: list[float]) -> tuple[float, float]:
    return (statistics.median(xs), max(xs)) if xs else (0.0, 0.0)


def engine_metrics(tracer: Tracer, groups: dict, parts: list[dict]
                   ) -> tuple[dict, dict]:
    """(per-layer metrics, extra detail) of the encode and decode layers.

    `parts` are the lineage rows the traced window committed: their
    sort/encode/meta seconds are the time the encode kernel records."""
    enc, ker, dec = (groups.get(g, EMPTY_GROUP)
                     for g in ("encode", "kernel", "decode"))
    call_names = ("engine.encode.encode_documents",
                  "engine.encode.append_documents")
    calls = tracer.named(*call_names)
    n_decode_ops = len(tracer.named("perfbench.scan",
                                    "engine.decode.paged_decode_loop"))
    # pruning outside encode calls: the traced scan's prune_partitions,
    # the query's prune_selections
    prunes = [(s["start"], s["end"]) for s in tracer.named(
        "engine.decode.prune_partitions", "query.prune_selections")
        if not tracer.has_ancestor(s, *call_names)]
    kstages = last_stages(ker)
    ktask_p50, ktask_max = _median_max(
        [t for s in kstages for t in s["task_s"]])
    dtask_p50, dtask_max = _median_max(
        [t for s in main_stages(dec) for t in s["task_s"]])
    part_s = {k: sum(p[k] for p in parts)
              for k in ("sort_sec", "encode_sec", "meta_sec")}
    kexec = sum(s["executorRunTime"] for s in kstages) / 1000.0
    enc_stages = enc["stages"] + ker["stages"]
    m = {
        "engine.encode.plan_s": sum(
            tracer.self_time(s, "engine.encode.append_lineage_rows",
                             "engine.encode.read_lineage") for s in calls),
        "engine.encode.kernel_stage_s": sum(_stage_wall(s) for s in kstages),
        "engine.encode.task_s.p50": ktask_p50,
        "engine.encode.task_s.max": ktask_max,
        "engine.encode.task_skew": ktask_max / ktask_p50 if ktask_p50 else 0.0,
        "engine.encode.part_sort_s": part_s["sort_sec"],
        "engine.encode.part_encode_s": part_s["encode_sec"],
        "engine.encode.part_meta_s": part_s["meta_sec"],
        # stage executor time the kernel itself does not record: the
        # JVM<->Python Arrow boundary and worker overhead
        "engine.encode.boundary_s": kexec - sum(part_s.values()),
        "engine.encode.shuffle_write_mb": sum(
            s["shuffleWriteBytes"] for s in enc_stages) / 1e6,
        "engine.encode.commit_s": tracer.total(
            "engine.encode.append_lineage_rows") - job_wall_s(ker["jobs"]),
        "engine.encode.jobs": (len(enc["jobs"]) + len(ker["jobs"]))
        / max(len(calls), 1),
        "engine.decode.task_s.p50": dtask_p50,
        "engine.decode.task_s.max": dtask_max,
        "engine.decode.jobs": len(dec["jobs"]) / max(n_decode_ops, 1),
        "engine.decode.prune_s": _union(prunes) / max(n_decode_ops, 1),
    }
    wall = dur(calls)
    lineage_reads = [s for s in tracer.named("engine.encode.read_lineage")
                     if tracer.has_ancestor(s, *call_names)]
    split = {}
    if wall and kexec:
        kstage = m["engine.encode.kernel_stage_s"]
        split = {
            "wall_s": wall,
            # the driver's view of an encode call; sums to 1
            "of_wall": {
                "plan": m["engine.encode.plan_s"] / wall,
                "read_lineage": dur(lineage_reads) / wall,
                # the kernel jobs' time outside the kernel stage: the map
                # side of the planned exchange, other jobs, scheduling
                "exchange": (job_wall_s(ker["jobs"]) - kstage) / wall,
                "kernel_stage": kstage / wall,
                "commit": m["engine.encode.commit_s"] / wall,
            },
            # the executors' view of the kernel stage; sums to 1
            "of_kernel_executor": {
                "sort": part_s["sort_sec"] / kexec,
                "encode": part_s["encode_sec"] / kexec,
                "meta": part_s["meta_sec"] / kexec,
                "boundary": m["engine.encode.boundary_s"] / kexec,
            },
        }
    detail = {
        "engine.encode.split": split,
        "engine.encode.calls": len(calls),
        "engine.encode.parts": len(parts),
        "engine.encode.gc_s": sum(s["jvmGcTime"] for s in enc_stages) / 1e3,
        "engine.encode.fetch_wait_s": sum(
            s["shuffleFetchWaitTime"] for s in enc_stages) / 1e3,
        "engine.encode.executor_cpu_s": sum(
            s["executorCpuTime"] for s in enc_stages) / 1e9,
        "engine.decode.ops": n_decode_ops,
        "engine.decode.executor_run_s": sum(
            s["executorRunTime"] for s in dec["stages"]) / 1e3,
    }
    return m, detail


def query_metrics(tracer: Tracer, groups: dict) -> dict:
    """The query and server layers, per request of the traced cycles
    (serve only)."""
    client = tracer.named(*(f"perfbench.serve.{k}" for k in
                            ("host", "prefix", "window", "text")))
    if not client:
        return {}
    reqs = tracer.named("query.run_query")
    n = len(reqs)
    decodes = tracer.named("engine.decode.paged_decode_loop")
    kept = sum(s["attrs"]["files"] for s in decodes)
    total = sum(s["attrs"]["files"]
                for s in tracer.named("query.list_part_files"))
    return {
        "query.requests": n,
        "query.prune_s": tracer.total("query.prune_selections") / n,
        "query.decode_s": dur(decodes) / n,
        "query.files_kept_frac": kept / total if total else None,
        "query.run_s": dur(reqs) / n,
        "query.jobs_per_request": sum(
            len(groups.get(g, EMPTY_GROUP)["jobs"])
            for g in ("query", "prune", "decode")) / n,
        # client-observed time not spent in run_query: HTTP, JSON, lock
        "server.overhead_ms": 1e3 * (dur(client) - dur(reqs)) / n,
    }


def share_of_wall(split: dict, part_write: dict) -> dict:
    """Estimated shares of encode-call wall time, layer by layer: the
    kernel stage's share of wall is divided as its executor time divides,
    and the part encode as the replay's part write divides."""
    wall, ex = split["of_wall"], split["of_kernel_executor"]
    k = wall["kernel_stage"]
    out = {name: wall[name] for name in
           ("plan", "read_lineage", "exchange", "commit")}
    out.update({name: k * ex[name] for name in ("sort", "meta", "boundary")})
    out.update({f"codec.{name}": k * ex["encode"] * v
                for name, v in part_write.items()})
    return out
