"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload {decode,pip_tiles,osm_layers} \\
        --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --smoke

``--trace 0`` sets up once (session start plus a warm-up pass over a
tiny input through every layer the workload uses), then repeats the
workload's job for ``--seconds``, checking every result against truth,
and prints the end-to-end metrics. ``--trace 1`` makes the same set-up
with Spark's event log on, runs the job once plainly and once layer by
layer, and prints the per-layer metrics. The last stdout line is the
result object; the line before it carries the host facts. Full records
and span traces go to ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(ROOT, ".perfbench_cache")
# every run must end within 180 s: no new repetition starts after this
LAST_REP_START_S = 120.0
MIN_REPS = 5


def _environment() -> None:
    """Make the checkout importable by the driver and by Spark's Python
    workers, and keep every scratch file inside the checkout."""
    if not os.path.isfile(os.path.join(ROOT, "osm_read_enhanced_spark", "__init__.py")):
        sys.exit(f"osm_read_enhanced_spark not found under {ROOT}: run from a checkout")
    sys.path[0] = ROOT  # not perfbench/: its module names must not shadow others
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("tmp", "spark-local", "eventlog", "results"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.makedirs(CACHE, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")


def _metric_specs(trace: bool) -> list[dict]:
    """Names and units of the metrics a run prints, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def setup(w, tr, cores: int, event_dir: str | None):
    """Session start plus warm-up: JVM codegen, the Python worker pool
    and one pass of the workload's job over its tiny input."""
    from perfbench import host, tracing
    from osm_read_enhanced_spark.session import get_spark, python_parallelism

    with tr.span("setup"):
        with tr.span("session.start"):
            spark = get_spark(
                "perfbench", cores=cores, extra_conf=host.session_conf(WORK, event_dir)
            )
        with tr.span("session.jvm_warm"):
            spark.range(0, 1_000_000, 1, cores).selectExpr("sum(id)").collect()
        with tr.span("session.py_warm"):
            n = python_parallelism(spark)
            tracing.noop(spark.range(0, n, 1, n).mapInArrow(tracing.passthrough, "id long"))
        with tr.span("warmup"):
            w.warm(spark)
            spark.catalog.clearCache()
    return spark


def measure(w, spark, seconds: float) -> tuple[list[float], int]:
    """Repeat the job for ``seconds`` (at least MIN_REPS times); returns
    every repetition's wall time and the number that failed."""
    times, failed = [], 0
    t0 = time.perf_counter()
    while len(times) < MIN_REPS or time.perf_counter() - t0 < seconds:
        if time.perf_counter() - T_START > LAST_REP_START_S:
            break
        t = time.perf_counter()
        try:
            w.job(spark)
        except Exception:  # noqa: BLE001 - a failed repetition is counted, not fatal
            failed += 1
            traceback.print_exc()
        times.append(time.perf_counter() - t)
        spark.catalog.clearCache()
    return times, failed


def run(workload: str, seed: int, seconds: float, trace: bool, size: str = "full") -> dict:
    # imports count towards set-up on every run, cached inputs or not
    import osm_read_enhanced_spark.sources.pbf  # noqa: F401
    from bench import cpu_probe  # the frozen harness's calibration loop
    from perfbench import host, tracing, workloads

    facts = host.host_facts()
    excluded = time.perf_counter()
    facts["cpu_probe_before"] = cpu_probe()
    w = workloads.WORKLOADS[workload](CACHE, seed, size)
    w.prepare()
    excluded = time.perf_counter() - excluded  # probe + input generation

    cores = host.nproc()
    tag = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    event_dir = os.path.join(WORK, "eventlog", tag) if trace else None
    if event_dir:
        os.makedirs(event_dir)
    tr = tracing.Tracer()
    record: dict = {"workload": workload, "seed": seed, "size": size, "host": facts}
    with host.RssSampler() as rss:
        spark = setup(w, tr, cores, event_dir)
        setup_s = time.perf_counter() - T_START - excluded
        try:
            w.bind(spark)
            if trace:
                metrics, attempted, failed = _traced(w, spark, tr, cores)
            else:
                times, failed = measure(w, spark, seconds)
                attempted = len(times)
                job_s = statistics.median(times)
                record["job_times_s"] = times
                metrics = {
                    "setup_s": setup_s,
                    "job_s": job_s,
                    "items_per_s": w.items / job_s,
                }
        finally:
            host.stop_session(spark)
    facts["cpu_probe_after"] = cpu_probe()
    facts["loadavg_after"] = list(os.getloadavg())
    if trace:
        metrics.update(tracing.event_log_metrics(event_dir))
        metrics["host.cpu_probe_before"] = facts["cpu_probe_before"]
        metrics["host.cpu_probe_after"] = facts["cpu_probe_after"]
        tr.dump(os.path.join(WORK, "results", f"trace-{tag}.json"), {"metrics": metrics})
    else:
        metrics["peak_rss_mb"] = rss.peak_mb
    record.update(items=w.items, attempted=attempted, failed=failed, metrics=metrics)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    return record


def _traced(w, spark, tr, cores):
    from perfbench import tracing, workloads

    failed = 0
    try:
        with tr.span("job.plain"):
            w.job(spark)
    except Exception:  # noqa: BLE001 - counted as a failed attempt
        failed += 1
        traceback.print_exc()
    spark.catalog.clearCache()
    metrics: dict = {}
    try:
        tracing.traced_job(spark, w, tr, cores, metrics)
    except workloads.CheckFailed:
        failed += 1
        traceback.print_exc()
    for name in ("session.start", "session.jvm_warm", "session.py_warm"):
        metrics[name + "_s"] = tr.seconds(name)
    metrics["trace.overhead_s"] = tr.seconds("job.traced") - tr.seconds("job.plain")
    return metrics, 2, failed


def result_line(record: dict, trace: bool) -> str:
    specs = _metric_specs(trace)
    metrics = {
        s["name"]: {"value": float(record["metrics"][s["name"]]), "unit": s["unit"]}
        for s in specs
    }
    return json.dumps({
        "correct": record["failed"] == 0 and record["attempted"] > 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    })


def smoke() -> int:
    """Each workload once per mode at tiny sizes and a fixed seed, in
    its own process, with every output check on."""
    bad = []
    for workload in ("decode", "pip_tiles", "osm_layers"):
        for trace in ("0", "1"):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", "7", "--seconds", "0", "--trace", trace, "--size", "smoke"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            last = (out.stdout.strip().splitlines() or ["{}"])[-1]
            ok = out.returncode == 0 and json.loads(last).get("correct") is True
            print(f"{workload} trace={trace}: {'ok' if ok else 'FAILED'}", flush=True)
            if not ok:
                bad.append(workload)
                sys.stderr.write(out.stderr[-4000:])
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("decode", "pip_tiles", "osm_layers"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full", help=argparse.SUPPRESS)
    ap.add_argument("--smoke", action="store_true", help="tiny check of every workload")
    args = ap.parse_args(argv)
    _environment()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    record = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    print(json.dumps({"host": record["host"], "items": record["items"]}))
    print(result_line(record, bool(args.trace)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
