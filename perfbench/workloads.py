"""The two workloads: ingest and serve.

Each workload builds its inputs from the seed in `setup`, then runs
whole `cycle`s of operations; each operation returns a record:

    {"kind", "s" (seconds), "ok", ...}

`check` runs after the timed loop and sets `ok` to False on every
operation whose output is wrong. `stored_ratio` is bytes stored per
decoded byte of the tables the workload wrote or read.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import statistics
import time
import urllib.request

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks


def lineage_rows(table_dir: str, since: float = 0.0) -> list[dict]:
    """Lineage rows committed at or after wall time `since` (pyarrow,
    no Spark job): bytes in/out and the kernel's own timings."""
    t = pq.read_table(os.path.join(table_dir, "lineage"),
                      columns=["bytes_in", "bytes_out", "sort_sec",
                               "encode_sec", "meta_sec", "committed_at"])
    return [r for r in t.to_pylist() if r["committed_at"] >= since]


class Workload:
    name = ""

    def __init__(self, spark, seed: int, work: str, tracer, cpus: int):
        self.spark, self.seed, self.work = spark, seed, work
        self.tracer, self.cpus = tracer, cpus
        self.parts: list[dict] = []   # lineage rows written while traced
        self.phases: dict[str, float] = {}
        os.makedirs(work, exist_ok=True)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Accumulate the wall time of a named set-up or check phase."""
        t0 = time.perf_counter()
        yield
        self.phases[name] = self.phases.get(name, 0.0) \
            + time.perf_counter() - t0

    def _corpus_df(self, n_docs: int):
        from skar_spark.synth import synth_documents
        df = synth_documents(self.spark, n_docs, partitions=self.cpus,
                             seed=self.seed).cache()
        if df.count() != n_docs:
            raise RuntimeError("synth_documents returned the wrong row count")
        return df

    def _encode(self, df, out: str, cfg, n_rows: int, num_parts: int):
        from skar_spark.engine import encode
        t0 = time.time()
        encode.encode_documents(self.spark, df, out, cfg,
                                num_parts=num_parts, n_rows=n_rows)
        rows = lineage_rows(out)
        if self.tracer.enabled:
            self.parts += [r for r in rows if r["committed_at"] >= t0]
        return rows

    def _digests(self, table_dirs: list[str]) -> list[tuple[int, int]]:
        """(rows, hash) of each table's decoded (url, text). Its Spark
        job has a group of its own, so no layer's figures include it."""
        with self.tracer.span("perfbench.check", "check"):
            return checks.table_digests(self.spark, table_dirs)

    def close(self) -> None:
        pass


def _ratio(rows: list[dict]) -> float:
    return sum(r["bytes_out"] for r in rows) / sum(r["bytes_in"] for r in rows)


class Ingest(Workload):
    """Bulk encode: the whole corpus with DEFAULT, then a fixed
    hash-quarter of it with ARCHIVE."""

    name = "ingest"
    DOCS = 8_000

    def setup(self) -> None:
        from pyspark.sql import functions as F
        with self.phase("oracle"):
            table = checks.corpus(self.DOCS, self.seed)
            quarter = table.filter(pa.array(checks.quarter_mask(table)))
            self.expected = {"default": checks.digest(table),
                             "archive": checks.digest(quarter)}
        with self.phase("input"):
            df = self._corpus_df(self.DOCS)
            qdf = df.filter(F.crc32("url") % 4 == 0).cache()
            self.inputs = {"default": (df, self.DOCS, 2 * self.cpus),
                           "archive": (qdf, qdf.count(), self.cpus)}
        if self.inputs["archive"][1] != quarter.num_rows:
            raise RuntimeError("Spark and pyarrow disagree on the quarter")
        self.n = 0
        self.scan_gbps: dict[str, float] = {}   # traced runs only
        with self.phase("warmup"):
            # one untimed cycle at full size: a warm-up on a slice of the
            # corpus left the first timed cycle ~35% slower than the rest
            # (the Python workers' memory still grew to full-size batches)
            for op in self.cycle():
                shutil.rmtree(op["out"])

    def _leg(self, leg: str) -> dict:
        from skar_spark.config import ARCHIVE, DEFAULT
        df, n_rows, num_parts = self.inputs[leg]
        out = os.path.join(self.work, f"ingest-{self.n:03d}-{leg}")
        self.n += 1
        t0 = time.perf_counter()
        rows = self._encode(df, out, ARCHIVE if leg == "archive" else DEFAULT,
                            n_rows, num_parts)
        s = time.perf_counter() - t0
        return {"kind": leg, "s": s, "ok": True, "out": out, "rows": rows,
                "bytes": sum(r["bytes_in"] for r in rows)}

    def cycle(self) -> list[dict]:
        return [self._leg("default"), self._leg("archive")]

    def check(self, ops: list[dict]) -> None:
        if self.tracer.enabled:
            self._scan(ops)
        with self.phase("check"):
            got = self._digests([op["out"] for op in ops])
            for op, g in zip(ops, got):
                op["ok"] = g == self.expected[op["kind"]]
                shutil.rmtree(op["out"])

    def _scan(self, ops: list[dict]) -> None:
        """Traced runs only: one engine decode (`decode.scan` of all
        columns into a `noop` sink) of each leg's last table, so that the
        engine.decode figures time the engine, not the check."""
        from skar_spark.engine.decode import scan
        for kind, name in (("default", "scan_gbps"),
                           ("archive", "scan_archive_gbps")):
            op = [o for o in ops if o["kind"] == kind][-1]
            t0 = time.perf_counter()
            with self.tracer.span("perfbench.scan", "decode"):
                scan(self.spark, op["out"]).write.format("noop") \
                    .mode("overwrite").save()
            self.scan_gbps[name] = \
                op["bytes"] / (time.perf_counter() - t0) / 1e9

    def summary(self, ops: list[dict]) -> dict:
        def legs(kind):
            return [o for o in ops if o["kind"] == kind]

        def gbps(kind):
            return (sum(o["bytes"] for o in legs(kind))
                    / sum(o["s"] for o in legs(kind)) / 1e9)

        def ratio(sel):
            return _ratio([r for o in sel for r in o["rows"]])
        return {
            "stored_ratio": ratio(ops),
            "detail": {
                "encode_gbps": gbps("default"),
                "encode_archive_gbps": gbps("archive"),
                "stored_ratio": ratio(legs("default")),
                "stored_ratio_archive": ratio(legs("archive")),
                **self.scan_gbps,
            }}


QUERY_KINDS = ("host", "prefix", "window", "text")


class Serve(Workload):
    """The tail-sync shape: `server.serve` over a many-part table, one
    closed-loop client, small appends beside the reads."""

    name = "serve"
    DOCS = 4_000
    PARTS = 16
    MAX_CYCLES = 64

    def setup(self) -> None:
        from skar_spark import server
        from skar_spark.config import DEFAULT
        with self.phase("oracle"):
            table = checks.corpus(self.DOCS, self.seed)
            self.oracle = [checks.with_host(table)]
            self.ops = checks.serve_ops(self.seed, table, self.MAX_CYCLES)
        self.next_op = 0
        with self.phase("input"):
            df = self._corpus_df(self.DOCS)
        self.table_dir = os.path.join(self.work, "serve")
        with self.phase("build"):
            self._encode(df, self.table_dir, DEFAULT, self.DOCS, self.PARTS)
        df.unpersist()
        self.height = self.PARTS
        self.srv = server.serve(self.spark, self.table_dir)
        self.url = f"http://127.0.0.1:{self.srv.server_address[1]}"
        with self.phase("warmup"):  # one lookup and one poll, unchecked
            self._post({"selections": [{"hosts": ["www.example.com"]}],
                        "field_selection": ["url"], "time_limit_ms": None})
            self._get_height()

    def _post(self, query: dict) -> dict:
        req = urllib.request.Request(
            self.url + "/query", data=json.dumps(query).encode(),
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=120) as r:
            return json.load(r)

    def _get_height(self) -> int:
        with urllib.request.urlopen(self.url + "/height", timeout=60) as r:
            return json.load(r)["archive_height"]

    def _query(self, query: dict) -> dict:
        rows, calls, q = [], 0, dict(query)
        while True:  # follow next_cursor to completion
            res = self._post(q)
            rows += res["rows"]
            calls += 1
            if res["next_cursor"] is None:
                return {"rows": rows, "calls": calls}
            q["cursor"] = res["next_cursor"]

    def _append(self, k: int) -> None:
        from skar_spark.engine import encode
        from skar_spark.synth import DOCS_DDL
        first = self.DOCS + k * checks.APPEND_DOCS
        inc = self.spark.range(first, first + checks.APPEND_DOCS, 1, 1) \
            .mapInArrow(functools.partial(checks.synth_range, self.seed),
                        DOCS_DDL)
        t0 = time.time()
        encode.append_documents(self.spark, inc, self.table_dir)
        if self.tracer.enabled:
            self.parts += lineage_rows(self.table_dir, since=t0)
        self.oracle.append(checks.with_host(
            checks.corpus(checks.APPEND_DOCS, self.seed, first_id=first)))
        self.height += 1

    def cycle(self) -> list[dict]:
        out = []
        while True:
            kind, arg = self.ops[self.next_op]
            self.next_op += 1
            rec = {"kind": kind, "arg": arg, "ok": True,
                   "appended": len(self.oracle) - 1}
            t0 = time.perf_counter()
            with self.tracer.span(f"perfbench.serve.{kind}"):
                try:
                    if kind == "height":
                        rec["height"] = self._get_height()
                        rec["want"] = self.height
                    elif kind == "append":
                        self._append(arg)
                    else:
                        rec.update(self._query(arg))
                except Exception as e:  # a failed request is a failed op
                    rec.update(ok=False, error=f"{type(e).__name__}: {e}")
            rec["s"] = time.perf_counter() - t0
            out.append(rec)
            if kind == "append":
                return out

    def check(self, ops: list[dict]) -> None:
        with self.phase("check"):
            self._check(ops)

    def _check(self, ops: list[dict]) -> None:
        oracle = None
        for op in ops:
            if not op["ok"] or op["kind"] == "append":
                continue
            if op["kind"] == "height":
                op["ok"] = op["height"] == op["want"]
                continue
            if oracle is None or oracle[0] != op["appended"]:
                oracle = (op["appended"],
                          pa.concat_tables(self.oracle[:op["appended"] + 1]))
            q = op["arg"]
            got = checks.answer_key(op["rows"], q["field_selection"])
            op["ok"] = got == checks.expected_answer(oracle[1], q)

    def summary(self, ops: list[dict]) -> dict:
        from perfbench.metrics import percentile_or_none
        inf = float("inf")

        def ms(*kinds):
            return [o["s"] * 1e3 if o["ok"] else inf
                    for o in ops if o["kind"] in kinds]
        q, a = ms(*QUERY_KINDS), ms("append")
        queries = [o for o in ops if o["kind"] in QUERY_KINDS and o["ok"]]
        total_s = sum(o["s"] for o in ops)
        return {
            "stored_ratio": _ratio(lineage_rows(self.table_dir)),
            "detail": {
                # null unless the run has 20 (p50) or 100 (p90) samples:
                # a run of --seconds 18 has about 8 queries and 2 appends,
                # so query_mean_ms is its query latency figure
                "query_p50_ms": percentile_or_none(q, 0.5),
                "query_p90_ms": percentile_or_none(q, 0.9),
                "append_p50_ms": percentile_or_none(a, 0.5),
                "query_mean_ms": statistics.mean(q) if q else None,
                "append_mean_ms": statistics.mean(a) if a else None,
                "queries": len(q), "appends": len(a),
                # shares of the timed loop's time, by operation kind
                "time_share": {k: sum(o["s"] for o in ops if o["kind"] in ks)
                               / total_s for k, ks in
                               (("queries", QUERY_KINDS),
                                ("appends", ("append",)),
                                ("height", ("height",)))},
                "mean_ms": {k: statistics.mean(v) for k in
                            (*QUERY_KINDS, "height", "append")
                            if (v := ms(k))},
                "rows_per_query": (sum(len(o["rows"]) for o in queries)
                                   / len(queries)) if queries else None,
                "requests_per_query": (sum(o["calls"] for o in queries)
                                       / len(queries)) if queries else None,
            }}

    def close(self) -> None:
        srv = getattr(self, "srv", None)
        if srv is not None:
            srv.shutdown()
            srv.server_close()


WORKLOADS = {w.name: w for w in (Ingest, Serve)}
