"""SparkSession factory with the engine's standard local-mode settings."""

from __future__ import annotations

import os

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession


def _default_heap() -> str:
    """40% of physical memory: the pinned, pre-touched heap must leave
    room for the Python workers and the page cache (on a 15 GB host a
    6 g heap ran the bench and a 10 g one was OOM-killed)."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return f"{int(line.split()[1]) * 2 // 5 // 1024}m"
    raise RuntimeError("MemTotal missing from /proc/meminfo; "
                       "set SKAR_DRIVER_MEM")


def get_spark(cpus: int | None = None, app: str = "skar_spark",
              shuffle_partitions: int | None = None,
              master: str | None = None) -> SparkSession:
    """`master=None` → local[cpus]; `cpus` defaults to SPARK_GRAFT_CPUS,
    else the CPUs this process may run on, and the driver heap to
    SKAR_DRIVER_MEM, else 40% of physical memory. A spark:// URL (or
    SKAR_MASTER env) targets a standalone cluster — the north-rule
    deployment shape (spark-submit --py-files at N and 4N executors);
    `cpus` then means the total executor cores the app should see
    (shuffle sizing only).
    """
    if master is None:
        master = os.environ.get("SKAR_MASTER") or None
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
                   or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    # glibc: without this, every >128 KiB buffer (fsst level buffers,
    # arrow scratch) is a fresh mmap/munmap — under a hypervisor fresh
    # page faults are slow and variable; keep allocations in the arenas.
    # glibc reads these variables at process start only, so they reach
    # the processes Spark starts (the JVM and its Python workers), not
    # this one. Applying them here too (mallopt) raised serve's peak RSS
    # in 3 of 3 runs on a 4-vCPU host, so this process keeps the defaults.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    mem = os.environ.get("SKAR_DRIVER_MEM") or _default_heap()
    b = (
        SparkSession.builder
        .master(master or f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", mem)
        # pin the heap: G1 uncommit/regrow cycles re-fault pages through
        # the hypervisor (measured 2-3× run-to-run variance); pretouch
        # once at startup instead
        .config("spark.driver.extraJavaOptions",
                f"-Xms{mem} -XX:+AlwaysPreTouch")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.ui.enabled",
                os.environ.get("SKAR_UI_ENABLED", "false"))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # shuffle blocks compress ~3-4× better with zstd on webtext —
        # less I/O and page-cache pressure for the clustering shuffle
        .config("spark.io.compression.codec",
                os.environ.get("SKAR_SHUFFLE_CODEC", "lz4"))
        # spark.local.dir: /dev/shm measured SLOWER than disk here —
        # tmpfs writes fault fresh pages through the hypervisor (Firecracker
        # lazy memory) and serialize; the page cache absorbs disk shuffle
        # writes anyway. Override with SKAR_LOCAL_DIR on real hardware.
        .config("spark.local.dir",
                os.environ.get("SKAR_LOCAL_DIR", "/tmp/skar-spark-local"))
    )
    if master and master.startswith("spark://"):
        exec_mem = os.environ.get("SKAR_EXECUTOR_MEM", "20g")
        b = (b.config("spark.executor.memory", exec_mem)
              .config("spark.executor.extraJavaOptions",
                      f"-Xms{exec_mem} -XX:+AlwaysPreTouch")
              .config("spark.driver.host",
                      os.environ.get("SPARK_LOCAL_IP", "127.0.0.1")))
    try:
        spark = b.getOrCreate()
    except PySparkRuntimeError as e:  # e.g. JAVA_GATEWAY_EXITED
        raise RuntimeError(
            f"Spark did not start on {master or f'local[{cpus}]'} with a "
            f"{mem} driver heap ({type(e).__name__}: {e}). If the host "
            "cannot commit that heap, set SKAR_DRIVER_MEM to a smaller "
            "one (e.g. 4g); SPARK_GRAFT_CPUS sets the core count.") from e
    spark.sparkContext.setLogLevel("WARN")
    return spark
