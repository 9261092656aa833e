"""Host facts, process-tree accounting and the benchmark's Spark session.

Everything here looks at the benchmark process and its descendants through
``/proc``: the py4j-launched JVM is a child of this process and the PySpark
Python workers are children of the JVM, so the tree rooted at this process
is exactly the system under test.
"""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
HZ = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _table() -> "dict[int, tuple[int, str, int, int]]":
    """pid → (ppid, comm, cpu ticks, rss pages) for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                st = f.read().decode("ascii", "replace")
        except OSError:
            continue
        head, _, rest = st.rpartition(")")
        f_ = rest.split()
        try:
            # fields after comm: state ppid ... utime(11) stime(12) ... rss(21)
            out[int(d)] = (int(f_[1]), head.partition("(")[2],
                           int(f_[11]) + int(f_[12]), int(f_[21]))
        except (IndexError, ValueError):
            continue
    return out


def descendants(root: "int | None" = None, table=None) -> "dict[int, tuple]":
    """The process tree under ``root`` (this process by default), root included."""
    table = table if table is not None else _table()
    root = root or os.getpid()
    kids: dict = {}
    for pid, row in table.items():
        kids.setdefault(row[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid]
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU-seconds (user+system) of this process and every live descendant."""
    return sum(row[2] for row in descendants().values()) / HZ


class RssSampler:
    """Samples the process tree every ``period`` seconds in a thread and keeps
    the peak summed RSS of the PySpark Python workers (Python processes below
    the JVM) and the peak RSS of the JVM itself, per window."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self.worker_peak_mb = 0.0
        self.jvm_peak_mb = 0.0
        self._t = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.worker_peak_mb = 0.0
            self.jvm_peak_mb = 0.0

    def sample(self) -> None:
        workers = jvm_rss = 0
        for pid, (_ppid, comm, _cpu, rss) in descendants().items():
            if comm == "java":
                jvm_rss += rss
            elif comm.startswith("python") and pid != os.getpid():
                workers += rss
        with self._lock:
            self.worker_peak_mb = max(self.worker_peak_mb, workers * PAGE / 2**20)
            self.jvm_peak_mb = max(self.jvm_peak_mb, jvm_rss * PAGE / 2**20)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._t.join()


def session(work: str, event_log: "str | None" = None):
    """local[nproc] session sized from this host: driver heap a quarter of
    MemTotal (1-6 GiB), Spark scratch, Python temp files and the JVM's temp
    dir all under ``work``."""
    from srpr_lsh_spark.config import tune_allocator_env

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    # Python workers import the package from the checkout root
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tune_allocator_env()
    from pyspark.sql import SparkSession

    cores = nproc()
    heap_mb = min(6144, max(1024, mem_total_mb() // 4))
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", "512m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the gateway JVM, and wait until no descendant of this
    process is left (killing stragglers after ``timeout``)."""
    import subprocess

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + timeout
    while True:
        left = [p for p in descendants() if p != os.getpid()]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.time() + timeout
        time.sleep(0.1)
        try:  # reap direct children
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
