"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see README.md). The line before it is a JSON `detail`
record: host-fit values, run telemetry, the workload's own named figures
and, when traced, the layer numbers that are not part of the fixed set.

Exit status: 0 when a result was printed, 2 when the engine cannot be
imported or the Spark session cannot start (no result is printed then).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "serve"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def timed_loop(workload, seconds: float, tracer=None) -> list[list[dict]]:
    """Whole cycles until `seconds` have passed: a serve cycle takes 9 to
    13 s, and ending on time passed (not at the count nearest to
    `seconds`) keeps serve at two cycles on a quiet host and a loaded one
    alike. With a `tracer`, cycles run untraced, traced, traced,
    untraced, ... (at least one of each), so that a steady drift over the
    run cancels out of the tracing overhead."""
    cycles: list[list[dict]] = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or \
            (tracer is not None and len(cycles) < 2):
        if tracer is not None:
            tracer.enabled = traced_cycle(len(cycles))
        cycles.append(workload.cycle())
    if tracer is not None:
        tracer.enabled = True
    return cycles


def traced_cycle(i: int) -> bool:
    return i % 4 in (1, 2)


def ops_per_s(cycles: list[list[dict]]) -> float:
    """Median over cycles of operations per second, so that a burst of
    load on a shared host moves one cycle, not the run's figure."""
    return statistics.median(len(c) / sum(o["s"] for o in c)
                             for c in cycles)


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import hostfit
    from perfbench.metrics import END_TO_END, PER_LAYER, result_line
    from perfbench.trace import Tracer, engine_metrics, kernel_replay, \
        query_metrics, share_of_wall, spark_stages
    from perfbench.workloads import WORKLOADS

    t_start = time.perf_counter()
    telemetry = hostfit.RunTelemetry()
    fit = hostfit.configure_env(ROOT, work, bool(args.trace))
    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "trace": args.trace, "host_fit": fit}
    with hostfit.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = hostfit.start_session(fit)
        jvm_start_s = time.perf_counter() - t0
        tracer = Tracer()
        workload = None
        try:
            tracer.sc = spark.sparkContext
            if args.trace:  # spans and job groups start with the timed loop
                tracer.install_engine()
            workload = WORKLOADS[args.workload](
                spark, args.seed, os.path.join(work, "tables"), tracer,
                fit["SPARK_GRAFT_CPUS"])
            workload.setup()
            setup_s = time.perf_counter() - t_start
            cycles = timed_loop(workload, args.seconds,
                                tracer if args.trace else None)
            ops = [o for c in cycles for o in c]
            workload.check(ops)
            summary = workload.summary(ops)
            detail["phases_s"] = {"jvm_start": jvm_start_s,
                                  **workload.phases}
            detail["cycle_ops_per_s"] = [ops_per_s([c]) for c in cycles]
            values = {
                "setup_s": setup_s,
                "ops_per_s": ops_per_s(cycles),
                "stored_ratio": summary["stored_ratio"],
            }
            detail.update(summary["detail"])
            if args.trace:
                untraced = ops_per_s([c for i, c in enumerate(cycles)
                                      if not traced_cycle(i)])
                traced = ops_per_s([c for i, c in enumerate(cycles)
                                    if traced_cycle(i)])
                layers, choices = kernel_replay(
                    tracer, args.seed, os.path.join(work, "replay"))
                groups = spark_stages(spark.sparkContext)
                eng, extra = engine_metrics(tracer, groups, workload.parts)
                layers.update(eng)
                extra.update(choices)
                split = extra["engine.encode.split"]
                if split:
                    split["est_of_wall"] = share_of_wall(
                        split, extra["codecs.part_write_split"])
                extra.update(query_metrics(tracer, groups))
                layers["session.jvm_start_s"] = jvm_start_s
                layers["trace.overhead_frac"] = untraced / traced - 1
                detail["layers_extra"] = extra
                detail["trace_file"] = os.path.relpath(
                    write_trace(tracer, args), ROOT)
        finally:
            tracer.unwrap_all()
            if workload is not None:
                workload.close()
            hostfit.stop_session(spark)
        values["peak_rss_gb"] = rss.peak_gb
    detail["telemetry"] = telemetry.record()
    failed = sum(1 for o in ops if not o["ok"])
    detail["error_rate"] = failed / len(ops)
    detail["errors"] = [o.get("error") or o["kind"]
                        for o in ops if not o["ok"]][:10]
    detail["e2e"] = values
    if args.trace:
        result = result_line(failed == 0, len(ops), failed, layers, PER_LAYER)
    else:
        result = result_line(failed == 0, len(ops), failed, values,
                             END_TO_END)
    return detail, result


def write_trace(tracer, args) -> str:
    d = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-{args.seed}.json")
    tracer.write(path)
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import perfbench.hostfit as hostfit
        import skar_spark.engine.encode  # noqa: F401  (the engine is here)
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    try:
        detail, result = run(args, work)
    except hostfit.HostFitError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
