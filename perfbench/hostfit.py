"""Session sizing from the host, process-tree RSS sampling and run telemetry.

The engine's `session.get_spark` defaults (a pinned 24 g heap) do not fit
a small host; the benchmark sizes the session itself so that its numbers
never depend on those defaults:

- `SPARK_GRAFT_CPUS` from the CPU affinity mask;
- `SKAR_DRIVER_MEM` at 40% of MemTotal (a 6 g heap ran on a 15 GB host,
  a 10 g heap was OOM-killed there).
"""

from __future__ import annotations

import os
import tempfile
import threading

HEAP_SHARE = 0.40


class HostFitError(RuntimeError):
    """The Spark session could not start with the host-fit settings."""


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise HostFitError("MemTotal missing from /proc/meminfo")


def host_heap() -> str:
    return f"{int(mem_total_mb() * HEAP_SHARE)}m"


def configure_env(root: str, work: str, trace: bool) -> dict:
    """Set the environment the session and its Python workers inherit.

    Everything the JVM and the workers write goes under `work`. Returns
    the host-fit values for the run record."""
    cpus, heap = host_cpus(), host_heap()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a JVM crash report outlives the run's work directory
    crash = os.path.join(os.path.dirname(work), "hs_err_pid%p.log")
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SKAR_DRIVER_MEM": heap,
        "SKAR_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SKAR_UI_ENABLED": "true" if trace else "false",
        # executors import skar_spark and perfbench from the checkout
        "PYTHONPATH": root + (os.pathsep + path if path else ""),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                             f"-XX:ErrorFile={crash}",
        "TZ": "UTC",
    })
    tempfile.tempdir = tmp
    return {"SPARK_GRAFT_CPUS": cpus, "SKAR_DRIVER_MEM": heap}


def start_session(fit: dict):
    """Start the engine's session with the host-fit values, or raise a
    HostFitError that names them."""
    from skar_spark.session import get_spark
    try:
        return get_spark(cpus=fit["SPARK_GRAFT_CPUS"], app="perfbench")
    except Exception as e:  # the JVM gateway failing to start
        raise HostFitError(
            f"Spark did not start with SPARK_GRAFT_CPUS="
            f"{fit['SPARK_GRAFT_CPUS']} SKAR_DRIVER_MEM="
            f"{fit['SKAR_DRIVER_MEM']}: {type(e).__name__}: {e}") from e


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and so its Python workers) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of `root_pid` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we looked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * page
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the process tree's RSS on a daemon thread; `peak_gb`."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_gb(self) -> float:
        return max(self.peak, _tree_rss_bytes(os.getpid())) / 1e9


class RunTelemetry:
    """CPU steal % and load averages over a run, with `bench.py`'s
    /proc/stat math. Reported only: nothing waits or gates on them."""

    def __init__(self):
        import bench
        self._bench = bench
        self.load_start = bench._loadavg()
        self.stat_start = bench._cpu_stat()

    def record(self) -> dict:
        b = self._bench
        return {"steal_pct": b._steal_pct(self.stat_start, b._cpu_stat()),
                "loadavg_start": self.load_start,
                "loadavg_end": b._loadavg()}
