"""Spark session lifecycle, set-up timing and memory sampling.

Every run gets its own session and its own scratch directories under
the run directory, so runs share no cache, state or temp files.
"""

from __future__ import annotations

import os
import subprocess
import threading

WARMUP_ROWS = 20_000
HEAP = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def build_session(run_dir: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    n = cores()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("smashed_spark-perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", HEAP)
        # no perf-data file, which the JVM would write to /tmp
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        # the inputs are scaled down; a 1 MiB broadcast limit keeps their
        # larger joins shuffling, as full-size inputs would
        .config("spark.sql.autoBroadcastJoinThreshold", str(1 << 20))
        # the traced run reads every job back from the status stores
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(run_dir: str, tracer):
    """Session start, package shipping, the first Python worker and a
    warm-up job: what a user pays before the first real job."""
    from smashed_spark.core.ship import ensure_shipped

    with tracer.span("bench.session"):
        spark = build_session(run_dir)
    with tracer.span("core.ship"):
        ensure_shipped(spark)

    def passthrough(batches):  # nested, so it pickles by value
        yield from batches

    with tracer.span("bench.warmup"):
        n = (
            spark.range(WARMUP_ROWS, numPartitions=cores())
            .mapInPandas(passthrough, "id long")
            .count()
        )
    if n != WARMUP_ROWS:
        raise RuntimeError(f"warm-up job returned {n} rows, not {WARMUP_ROWS}")
    return spark


def shutdown() -> None:
    """Stop the active session, if any, and the JVM behind it, and wait
    for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def _is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python")
    except OSError:
        return False


def tree_rss_mb(root: int) -> float:
    """Resident memory of the driver ``root``, the JVM it launched and
    the Python workers the JVM forks.  Each process counts its
    proportional set size, so pages a forked worker shares with its
    parent count once.  Below the driver's children only Python
    processes count: a process the JVM spawns shares the JVM's memory
    until it execs, and would count the whole heap again."""
    total, todo, seen = 0, [(root, 0)], set()
    while todo:
        pid, depth = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        if depth < 2 or _is_python(pid):
            total += _pss_kb(pid)
        todo += [(c, depth + 1) for c in _children(pid)]
    return total / 1024.0


class RssSampler:
    """Samples the process-tree RSS every ``period`` seconds on a
    daemon thread and keeps the peak.  A sample walks the JVM's page
    tables, up to tens of milliseconds, so it is taken twice a second."""

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

