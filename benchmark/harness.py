"""Session set-up, spans, and resource sampling for the benchmark.

Nothing here reaches inside ``spatialgraft``: the session is fitted to the
machine through the environment variables ``spatialgraft.session.get_spark``
already reads, and every measurement is taken around calls into the
engine's public functions.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager


def fit_session_env(scratch: str, cpus: int) -> dict:
    """Point every file the session writes into `scratch` and size it to
    this machine: local[cpus], one driver process, a heap well below
    physical memory.  Returns the settings for the run record."""
    mem_kib = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kib = int(line.split()[1])
    # a quarter of physical memory, at most 4 GiB: the inputs are small
    # and the machine is shared
    heap_mib = max(1024, min(4096, mem_kib // 4 // 1024))
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mib}m",
        "SPARK_GRAFT_LOCAL_DIR": local,
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher too: temp files into scratch,
        # and no /tmp/hsperfdata_* file
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"))),
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(scratch, 'wh')} "
            "pyspark-shell"),
    })
    return {"master": f"local[{cpus}]", "driver_heap_mib": heap_mib,
            "local_dir": local, "tmpdir": tmp}


def start_session(app: str, cpus: int):
    from spatialgraft.session import get_spark
    return get_spark(app, cpus=cpus)


def enable_event_log(spark, log_dir: str) -> None:
    """Make the next SparkContext of this JVM write an event log: the
    context reads spark.* system properties when it is created."""
    os.makedirs(log_dir, exist_ok=True)
    sysprops = spark.sparkContext._jvm.java.lang.System
    for k, v in (("spark.eventLog.enabled", "true"),
                 ("spark.eventLog.dir", f"file://{log_dir}"),
                 ("spark.eventLog.compress", "false"),
                 ("spark.eventLog.rolling.enabled", "false")):
        sysprops.setProperty(k, v)


def stop_all(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the Python worker daemon exits once the JVM that forked it is gone
    deadline = time.monotonic() + 60
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


class Spans:
    """Spans kept in memory: name, start, end (epoch seconds), parent."""

    def __init__(self):
        self.items: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, parent: int | None = None, sc=None,
             group: str | None = None, **attrs):
        """Yield the span id.  With `sc` and `group`, the Spark jobs the
        body starts run under that job group."""
        sid = next(self._ids)
        if sc is not None and group is not None:
            sc.setJobGroup(group, name)
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            dur = time.perf_counter() - t0
            if sc is not None and group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.items.append({"id": sid, "name": name, "parent": parent,
                               "start": start, "end": start + dur,
                               "dur_s": dur, **attrs})


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process's descendants, including
    children they have reaped (Python workers the daemon forked)."""
    total = 0
    for p in _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])
    return total / _HZ


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssPeak:
    """Peak summed resident memory of this process's descendants (the
    driver JVM and the Python workers it forks), sampled every interval."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak = max(self.peak, rss_bytes(_descendants(os.getpid())))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssPeak":
        self._sample()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
