"""Host sizing, Spark sessions, process sampling and host facts.

Sessions are sized from the host: ``local[nproc]`` and a maximum JVM heap
of a quarter of ``MemTotal`` (clamped to 1-8 GiB). Every scratch path of the run
(``TMPDIR``, ``java.io.tmpdir``, ``spark.local.dir``, the warehouse dir and
the event log) lives in the work directory inside the checkout, so a run
reads and writes nothing outside it.
"""

from __future__ import annotations

import os
import platform
import signal
import sys
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
WORK = REPO / ".perfbench_work"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_gib() -> int:
    return max(1, min(8, mem_total_bytes() // (4 << 30)))


def prepare_env() -> None:
    """Point this process, the JVM it launches and the Python workers at the
    work directory, and make the package importable by the workers."""
    for sub in ("tmp", "local", "warehouse"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # every JVM, the spark-submit launcher included: no perf-data files
    # under /tmp, and temp files in the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    # SPARK_LOCAL_DIRS overrides spark.local.dir when set in the environment
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(REPO) + (os.pathsep + path if path else "")
    if str(REPO) not in sys.path:
        sys.path.insert(0, str(REPO))


# G1 grows the heap when GC pauses take more than a share of recent time,
# 1/(1 + GCTimeRatio), a share it scales down while the heap is small. At
# the default (12) a fresh session's GC bursts trip it and the heap jumps in
# steps of up to its own size, so how far it grew (and the JVM's RSS, which
# peak_rss_mb sums) followed the host's load at those moments: 480-960 MB
# committed at the end of stream drains of one size. At 1 the pauses must
# take half the time, and the heap stays near what the job needs (440-680 MB
# on the same drains).
DRIVER_JAVA_OPTIONS = "-XX:GCTimeRatio=1"


def build_session(
    app_name: str, cores: int, reader_batch: bool, event_log: Path | None = None
):
    """A session with the settings the job scripts in ``jobs/`` use, plus
    host sizing. ``reader_batch`` adds the batch job's parquet reader batch
    size."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", f"{heap_gib()}g")
        .config("spark.driver.extraJavaOptions", DRIVER_JAVA_OPTIONS)
        .config("spark.local.dir", str(WORK / "local"))
        .config("spark.sql.warehouse.dir", str(WORK / "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if reader_batch:
        b = b.config("spark.sql.parquet.columnarReaderBatchSize", "1024")
    if event_log:
        event_log.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", str(event_log))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def touch_package(batches):
    """Trivial ``mapInPandas`` body: makes a Python worker start and import
    the package."""
    import png_from_pdf_extracter_spark.plans  # noqa: F401

    yield from batches


def set_up(
    app_name: str, cores: int, reader_batch: bool, event_log: Path | None = None
):
    """Build the session and run one trivial ``mapInPandas`` action.
    Returns ``(spark, seconds)``."""
    t0 = time.perf_counter()
    spark = build_session(app_name, cores, reader_batch, event_log)
    spark.range(cores).mapInPandas(touch_package, "id long").collect()
    return spark, time.perf_counter() - t0


def _proc_table() -> dict:
    """``{pid: (ppid, rss_bytes, comm)}`` for every process visible in /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index(b"(") + 1 : stat.rindex(b")")].decode(errors="replace")
        fields = stat[stat.rindex(b")") + 2 :].split()
        out[int(name)] = (int(fields[1]), int(fields[21]) * page, comm)
    return out


def descendants() -> dict:
    """``{pid: (rss_bytes, comm, ppid)}`` of every descendant of this process."""
    table = _proc_table()
    children: dict = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    found, stack = {}, list(children.get(os.getpid(), ()))
    while stack:
        pid = stack.pop()
        ppid, rss, comm = table[pid]
        found[pid] = (rss, comm, ppid)
        stack.extend(children.get(pid, ()))
    return found


def job_rss() -> tuple:
    """``(jvm_bytes, python_bytes, python_processes)``: RSS of the Spark JVM
    (a direct child) and of the Python workers below it. A process the JVM
    forks to run a shell command still maps the JVM's pages until it execs,
    so other descendants are left out."""
    me = os.getpid()
    jvm = py = n = 0
    for rss, comm, ppid in descendants().values():
        if comm.startswith("python"):
            py += rss
            n += 1
        elif comm == "java" and ppid == me:
            jvm += rss
    return jvm, py, n


class RssSampler:
    """Peak of the summed :func:`job_rss`, sampled on a background thread,
    with its parts at the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self.at_peak = (0, 0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            jvm, py, n = job_rss()
            if jvm + py > self.peak_bytes:
                self.peak_bytes, self.at_peak = jvm + py, (jvm, py, n)
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the gateway JVM this process launched and wait until every
    descendant process has exited; stragglers past ``timeout`` are killed."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def memory_bandwidth_gbs(mib: int = 64, reps: int = 5) -> float:
    """Single-process copy bandwidth (bytes read + written), best of ``reps``."""
    import numpy as np

    src = np.ones(mib << 17)  # float64: mib MiB
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return 2 * src.nbytes / best / 1e9


def git_commit() -> str | None:
    """The checked-out commit, read from ``.git`` without running git;
    ``None`` outside a git checkout."""
    git = REPO / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
    except OSError:
        return None
    if not head.startswith("ref: "):
        return head
    ref = head[5:]
    try:
        return (git / ref).read_text().strip()
    except OSError:
        pass
    try:
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    return None


def _fs_type(path: Path) -> str:
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            mnt, kind = line.split()[1:3]
            if str(path).startswith(mnt) and len(mnt) > len(best):
                best, fstype = mnt, kind
    return fstype


def host_facts(spark) -> dict:
    import pyspark

    return {
        "cores": nproc(),
        "mem_total_gib": round(mem_total_bytes() / (1 << 30), 2),
        "driver_heap_gib": heap_gib(),
        "driver_java_options": DRIVER_JAVA_OPTIONS,
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "local_dir_fs": _fs_type(WORK / "local"),
    }
