"""SparkSession factory with scale-aware defaults.

Local testing runs one JVM (``local[N]``); the same configuration is what
we would ship to a 1000-executor cluster via ``spark-submit --py-files``:
AQE on (runtime re-plan + skew-join splitting), Arrow enabled for every
pandas-UDF exchange, shuffle partitions sized to the parallelism level.

Python workers fork from ``worker_daemon`` rather than ``pyspark.daemon``:
the same manager, but a worker no longer re-reads the directory of
``pyspark.zip`` before every task. That re-read cost a reused worker
about 0.2 s per task (16 reads of 26,672 entries, cProfile of
``pyspark.worker`` on CPython 3.11.7). A trivial 4-partition
``mapInArrow`` in a warm local[4] session on a 4-CPU VM dropped from
0.36-0.45 s to 0.17-0.22 s (medians of 8 runs, six sessions a side).

Most of a session's set-up is the driver JVM loading and verifying
about 14,600 Spark classes from jars, so ``get_spark`` gives the JVM a
dynamic class-data-sharing (AppCDS) archive of them. A session that
finds no archive in ``.cds/archive/`` runs with
``-XX:ArchiveClassesAtExit`` into a temp directory of its own under
``.cds/``; once that JVM has exited and a ``-Xshare:on`` map of the
file succeeds, the directory is adopted as ``.cds/archive/``, and every
later session maps it with ``-XX:SharedArchiveFile``. The JVM itself
checks that an archive fits it (its own version, and the name, size and
mtime of every classpath jar) and runs without one that does not; the
session sees that in the JVM's ``/proc/<pid>/maps``, logs a warning and
removes the archive, so the next session dumps one that fits. Measured
with perfbench ``pip_tiles`` (4-CPU VM, OpenJDK 17.0.20, local[4],
traced runs of two seeds a side): ``session.start_s`` 6.7-7.9 → 3.3-4.2 s
and ``session.jvm_warm_s`` (the first JVM job) 3.3-3.7 → 1.7 s, while
the first Python job stayed at 1.5-2.6 s; ``setup_s`` medians over ten
interleaved pairs 15.8 → 10.4 s. The dump costs the first session once:
``setup_s`` 17.5 → 21.1 s and a JVM exit of 13.6 s instead of 1.2 s
while it writes the ~150 MB archive. Where no archive can be used (a
caller's own CDS flag, a flag under which the JVM refuses to dump, a
conf directory holding more than ``*.template`` files, a non-empty
``$HADOOP_CONF_DIR`` or ``$YARN_CONF_DIR``, an unwritable ``.cds/``)
the JVM starts with the caller's flags only, and the reason is logged.
"""

from __future__ import annotations

import atexit
import contextlib
import json
import logging
import os
import shlex
import shutil
import subprocess
import uuid

from pyspark import SparkContext
from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# the directory holding the package: the daemon's import root
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the driver JVM's class-data-sharing archive, adopted into archive/
_CDS_DIR = os.path.join(_PACKAGE_ROOT, ".cds")
# flags through which a caller manages class data sharing itself
_CDS_FLAGS = (
    "-Xshare", "-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit",
    "-XX:SharedClassListFile", "-XX:DumpLoadedClassList",
    "-XX:+AutoCreateSharedArchive", "-XX:+RecordDynamicDumpInfo",
)
# flags under which a JVM asked to dump an archive refuses to start
_NO_DUMP_FLAGS = ("--patch-module", "--limit-modules", "--upgrade-module-path")
# where JVM options come from besides spark.driver.extraJavaOptions
_JAVA_OPTS_ENV = ("SPARK_SUBMIT_OPTS", "JDK_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS")
# the JVM writes CDS log lines (626 "Skipping ...: Signed JAR" warnings
# per dump) to its stdout, which is the Python process's stdout
_CDS_QUIET = "-Xlog:cds=off,cds+dynamic=off"


def get_spark(
    app_name: str = "osm_read_enhanced_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. On a
    real cluster the master/deploy settings come from spark-submit; only
    the tuning confs below matter there.

    The package's parent directory goes on the workers' ``PYTHONPATH``
    so they can start ``worker_daemon`` from any working directory. A
    cluster whose executors cannot import this package (``--py-files``
    arrive only after the daemon starts) should pass
    ``{"spark.python.daemon.module": "pyspark.daemon"}`` in
    ``extra_conf``.

    A session that starts the driver JVM appends class-data-sharing
    flags to the caller's ``spark.driver.extraJavaOptions`` (see the
    module docstring); it adds none where no archive can be used.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        # match parallelism at small scale; a real cluster would use
        # 2-3x total cores (AQE coalesces the excess at runtime).
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "osm_read_enhanced_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    conf = dict(extra_conf or {})
    java_opts = conf.pop("spark.driver.extraJavaOptions", "")
    for k, v in conf.items():
        builder = builder.config(k, v)
    # only a session that starts a new driver JVM can give it an archive
    plan = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        plan = _cds_plan(java_opts)
    java_opts = " ".join(o for o in (java_opts, plan and plan["flags"]) if o)
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    with _launch_conf_dir(plan and plan["conf_dir"]):
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if plan:
        _cds_started(spark, plan)
    return spark


def _cds_plan(java_opts: str) -> dict | None:
    """How the driver JVM about to start shares class data: map the
    adopted archive, or dump one at exit into a temp directory of its
    own. None (with the reason logged) when no archive can be used; the
    JVM then starts with the caller's flags only.

    → {"java", "archive", "ino" (the adopted file's inode; None when
    dumping), "dump_dir" (None when mapping), "conf_dir", "flags"}."""
    from pyspark.find_spark_home import _find_spark_home

    try:
        tokens = [t for o in (java_opts, *map(os.environ.get, _JAVA_OPTS_ENV)) if o for t in shlex.split(o)]
    except ValueError as e:
        return _no_cds(f"cannot split the JVM options: {e}")
    if any(t.startswith(_CDS_FLAGS) for t in tokens):
        return _no_cds("the caller passes its own class-data-sharing flag")
    refused = [t for t in tokens if t.startswith(_NO_DUMP_FLAGS)]
    if refused:
        return _no_cds(f"the JVM refuses to dump an archive under {refused[0]}")
    spark_home = _find_spark_home()
    real_conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    # JDK 17 refuses a non-empty directory on the classpath, where
    # spark-class puts the conf directory: launch with an empty one,
    # which reads the same as a directory of templates
    try:
        names = os.listdir(real_conf) if os.path.exists(real_conf) else []
        # the launcher puts these on the classpath too
        busy = [v for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR")
                if os.path.isdir(os.environ.get(v) or "") and os.listdir(os.environ[v])]
    except OSError as e:
        return _no_cds(f"cannot list a conf directory: {e}")
    if not all(n.endswith(".template") for n in names):
        return _no_cds(f"{real_conf} holds files other than *.template")
    if busy:
        return _no_cds(f"${busy[0]} names a non-empty directory")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        return _no_cds("no java binary found")
    conf_dir = os.path.join(_CDS_DIR, "conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return _no_cds(f"{conf_dir} is not empty")
        if not os.access(_CDS_DIR, os.W_OK):
            raise PermissionError(_CDS_DIR)
    except OSError as e:
        return _no_cds(f"cannot write {_CDS_DIR}: {e}")
    plan = {"java": java, "conf_dir": conf_dir}
    final = os.path.join(_CDS_DIR, "archive")
    archive = os.path.join(final, "archive.jsa")
    if os.path.isdir(final) and not _intact(final):
        # a short archive would fault the JVM that maps it
        _log.warning("CDS archive %s is not the size it was adopted at; removing it", archive)
        shutil.rmtree(final, ignore_errors=True)
    _sweep(java)
    with contextlib.suppress(OSError):  # gone: this session dumps
        return {**plan, "archive": archive, "ino": os.stat(archive).st_ino, "dump_dir": None,
                "flags": f"-XX:SharedArchiveFile={archive} {_CDS_QUIET}"}
    # named after this process, which owns it until its JVM has started
    dump_dir = os.path.join(_CDS_DIR, f"{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp")
    try:
        os.makedirs(dump_dir)
    except OSError as e:
        return _no_cds(f"cannot write {_CDS_DIR}: {e}")
    archive = os.path.join(dump_dir, "archive.jsa")
    return {**plan, "archive": archive, "ino": None, "dump_dir": dump_dir,
            "flags": f"-XX:ArchiveClassesAtExit={archive} {_CDS_QUIET}"}


def _no_cds(reason: str) -> None:
    _log.info("driver JVM starts without a CDS archive: %s", reason)
    return None


def _meta(path: str) -> dict:
    """An archive directory's ``meta.json`` ({} when unreadable): the
    dumping JVM's ``class_path``, and the ``size`` it was adopted at."""
    try:
        with open(os.path.join(path, "meta.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _intact(final: str) -> bool:
    """Whether the adopted archive in ``final`` is still the size it was
    adopted at."""
    try:
        return os.path.getsize(os.path.join(final, "archive.jsa")) == _meta(final).get("size")
    except OSError:
        return False


@contextlib.contextmanager
def _launch_conf_dir(conf_dir: str | None):
    """``SPARK_CONF_DIR`` set to ``conf_dir`` while the gateway launches."""
    old = os.environ.get("SPARK_CONF_DIR")
    if conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if old is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = old


def _cds_started(spark: SparkSession, plan: dict) -> None:
    """Log whether the new driver JVM maps the archive, and remove an
    archive it rejects so that the next session dumps a fresh one; a
    dumping JVM records its classpath and has its archive adopted once
    it exits."""
    jvm = spark.sparkContext._jvm
    if plan["dump_dir"]:
        meta = {"class_path": jvm.java.lang.System.getProperty("java.class.path")}
        with open(os.path.join(plan["dump_dir"], "meta.json"), "w") as fh:
            json.dump(meta, fh)
        atexit.register(_adopt_after_exit, SparkContext._gateway.proc, plan["java"])
        _log.info("driver JVM dumps a CDS archive to %s when it exits", plan["archive"])
        return
    pid = jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/maps") as fh:
            # the maps name the file by its resolved path
            mapped = os.path.realpath(plan["archive"]) in fh.read()
    except OSError:
        _log.info("cannot read the driver JVM's maps to see whether it maps %s", plan["archive"])
        return
    if mapped:
        _log.info("driver JVM maps CDS archive %s", plan["archive"])
        return
    _log.warning("driver JVM rejected CDS archive %s and runs without it; removing it", plan["archive"])
    # unless another session has adopted a new one in its place since
    with contextlib.suppress(OSError):
        if os.stat(plan["archive"]).st_ino == plan["ino"]:
            shutil.rmtree(os.path.dirname(plan["archive"]), ignore_errors=True)


def _adopt_after_exit(proc, java: str) -> None:
    """At interpreter exit: adopt the archive now if its JVM has exited
    (a stopped session); otherwise the next session adopts it."""
    if proc.poll() is not None:
        _sweep(java)


def _sweep(java: str) -> None:
    """Settle the temp directories of dumps. One that no live JVM is
    still dumping into is adopted as the archive when there is none and
    a ``-Xshare:on`` map of it succeeds, else removed: a dump that was
    killed, failed or lost the race to another session. Another session
    may sweep the same directory at the same time; whichever renames it
    first adopts it, and the other one finds it gone."""
    final = os.path.join(_CDS_DIR, "archive")
    try:
        names = sorted(os.listdir(_CDS_DIR))
    except OSError:
        return
    for name in names:
        tmp = os.path.join(_CDS_DIR, name)
        if not name.endswith(".tmp") or _being_dumped(tmp):
            continue
        with contextlib.suppress(OSError):  # gone, or another session adopted first
            if not os.path.isdir(final) and _maps(java, tmp):
                meta = {**_meta(tmp), "size": os.path.getsize(os.path.join(tmp, "archive.jsa"))}
                with open(os.path.join(tmp, "meta.json"), "w") as fh:
                    json.dump(meta, fh)
                os.rename(tmp, final)
                _log.info("adopted CDS archive %s", final)
                continue
        shutil.rmtree(tmp, ignore_errors=True)


def _being_dumped(tmp: str) -> bool:
    """Whether another live process made ``tmp``, or a live process (the
    dumping JVM) names ``tmp`` on its command line."""
    owner = os.path.basename(tmp).split("-")[0]
    if owner.isdigit() and int(owner) != os.getpid():
        try:
            os.kill(int(owner), 0)
            return True
        except ProcessLookupError:
            pass
        except PermissionError:
            return True
    needle = os.fsencode(tmp + os.sep)
    try:
        pids = [p for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return True  # cannot tell: leave it alone
    for pid in pids:
        with contextlib.suppress(OSError), open(f"/proc/{pid}/cmdline", "rb") as fh:
            if needle in fh.read():
                return True
    return False


def _maps(java: str, tmp: str) -> bool:
    """Whether ``java`` maps the archive in ``tmp`` under ``-Xshare:on``
    with the dumping JVM's classpath: false for a missing, half-written
    or truncated archive (a truncated one faults the checking JVM)."""
    archive, class_path = os.path.join(tmp, "archive.jsa"), _meta(tmp).get("class_path")
    if class_path is None or not os.path.isfile(archive):
        return False
    cmd = [
        java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
        f"-XX:ErrorFile={os.path.join(tmp, 'hs_err.log')}", "-XX:-CreateCoredumpOnCrash",
        "-cp", class_path, "-version",
    ]
    try:
        done = subprocess.run(cmd, capture_output=True, timeout=60)
    except (OSError, subprocess.TimeoutExpired) as e:
        _log.warning("could not check CDS archive in %s: %s", tmp, e)
        return False
    if done.returncode:
        out = (done.stdout + done.stderr).decode(errors="replace").strip()
        _log.info("CDS archive in %s does not map: %s", tmp, out[-300:])
    return done.returncode == 0


def _driver_mem() -> str:
    """Default driver heap: half of physical RAM, capped at 24g, so a
    local JVM never reserves more heap than the host has."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 << 10, phys // 2 >> 20)}m"


def widen(
    df,
    by: str | None = None,
    partitions: int | None = None,
    min_bytes: int = 4 * 1024 * 1024,
):
    """Conditionally repartition ``df`` up to the session's parallelism.

    Single-row-group parquet files (and generally tiny inputs) plan to
    1-6 non-empty scan partitions no matter how the byte range is
    split, which serializes any expensive per-row compute FUSED with
    the scan (regex tokenize, window sorts, probe UDFs). The exchange
    fires only when BOTH hold:
      - the current plan yields fewer than ``partitions`` partitions
        (at real scale — many row groups — this alone makes it a
        no-op, so the knob is scale-adaptive, not a local constant);
      - the backing files total at least ``min_bytes`` (below that the
        exchange's fixed cost exceeds the serial compute it
        parallelizes — measured r6: widening a 2.5 MB orders scan cost
        +0.36 s at sf0.1 while the same call saved 0.26 s on the
        25 MB sf1.0 scan). Callers tune min_bytes to the per-byte cost
        of the downstream compute (regex-heavy → lower).
    Non-file sources report no input files and are never widened
    (tiny literal/test inputs don't need it).

    ``by``: hash-distribute on that column (deterministic under task
    retry, and skips the local sort round-robin repartition pays —
    SPARK-23207); None = round-robin.
    """
    import os

    from pyspark.sql import functions as F

    if df.isStreaming:  # no .rdd/inputFiles on streaming plans
        return df
    # size gate FIRST: inputFiles() reads the (already cached) file
    # index without compiling a physical plan, while getNumPartitions
    # costs a full plan-to-RDD conversion on the driver — skipping it
    # keeps the no-op path (tiny inputs, i.e. every small-SF run)
    # nearly free
    try:
        total = sum(
            os.path.getsize(f[len("file:"):] if f.startswith("file:") else f)
            for f in df.inputFiles()
        )
    except OSError:
        total = 0
    if total < min_bytes:
        return df
    target = partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(by)) if by else df.repartition(target)


def python_parallelism(spark: SparkSession) -> int:
    """Partition count for Python-heavy (pandas UDF / mapInPandas)
    stages: task-slot count capped at 16.

    Measured on a 32-core host in the round-6 tuning (not on the 4-CPU
    host the later benchmarks use): 32 concurrent Python workers
    collapse Arrow stage throughput ~4× (JVM task threads + 32
    interpreters oversubscribe the cores); 16 workers run at full speed.
    JVM-only stages keep full width — only the Python stages are capped.
    Below 16 task slots, and on a real cluster whose executors have few
    cores each, the cap never binds."""
    return min(spark.sparkContext.defaultParallelism, 16)
