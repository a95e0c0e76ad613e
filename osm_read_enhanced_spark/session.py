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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the package: the daemon's import root
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


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
