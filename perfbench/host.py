"""Host facts, process-tree memory sampling and the Spark session
lifecycle used by every benchmark run."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_facts() -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "nproc": nproc(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "loadavg": list(os.getloadavg()),
    }


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident pages) for every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        table[int(name)] = (int(fields[1]), int(fields[21]))
    return table


def descendants(root: int, table=None) -> list[int]:
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """High-water mark of the RSS summed over this process and all its
    descendants (the driver JVM and its Python workers), polled on a
    background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        table = _proc_table()
        me = os.getpid()
        pids = [me, *descendants(me, table)]
        total = sum(table[p][1] for p in pids if p in table) * self._page
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def session_conf(work_dir: str, event_log_dir: str | None) -> dict:
    """Settings the benchmark passes to ``get_spark``: a fixed driver heap
    touched up front (so heap growth and first-touch page faults neither
    land inside a measured job nor move ``peak_rss_mb``), scratch files
    inside the checkout (local dirs come from ``SPARK_LOCAL_DIRS``), no
    progress bars, and (traced runs only) an uncompressed single-file
    event log."""
    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_session(spark) -> None:
    """Stop Spark, close the JVM gateway (the JVM exits when its stdin
    closes) and wait until every descendant process has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap_descendants()


def reap_descendants(timeout_s: float = 20.0) -> None:
    """Terminate, then kill, any process still descending from this one,
    and wait until none is left (giving up after twice ``timeout_s``)."""
    start = time.monotonic()
    while True:
        left = descendants(os.getpid())
        waited = time.monotonic() - start
        if not left or waited > 2 * timeout_s:
            return
        sig = signal.SIGKILL if waited > timeout_s else signal.SIGTERM
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in left:  # reap direct children; others are re-parented
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)
