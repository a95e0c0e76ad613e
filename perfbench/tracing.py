"""Traced per-layer run: spans around calls into each module's public
functions, counts taken where the work happens, and metrics read back
from Spark's own event log.

Spark is lazy, so a layer's time is measured by materializing it on
its own: each step reads the previous step's cached output and writes
into the ``noop`` sink under a Spark job group named after the layer.
The event log maps those groups to their stages and task metrics.
"""

from __future__ import annotations

import contextlib
import glob
import json
import time

import numpy as np

from . import workloads


class Tracer:
    """Spans (name, start, end, parent) and counts, kept in memory and
    written out once at the end of the run."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, spark=None):
        """Time a block; with ``spark`` also tag its Spark jobs with the
        job group ``name`` so the event log can be split by layer."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if spark is not None:
            spark.sparkContext.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if spark is not None:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                spark.sparkContext.setLocalProperty("spark.job.description", None)

    def seconds(self, name: str) -> float:
        rec = next(s for s in reversed(self.spans) if s["name"] == name)
        return rec["end"] - rec["start"]

    def dump(self, path: str, extra: dict) -> None:
        """Write spans with their self time (duration minus the time
        covered by child spans, which never overlap) plus counts."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        spans = [
            {**s, "self": s["end"] - s["start"] - child_time.get(s["id"], 0.0)} for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, "counts": self.counts, **extra}, f, indent=1)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------ event log

_ACCUMULABLES = {
    "data returned from Python workers": "python_bytes_out",
    "time to run Python workers": "python_run_ms",
}


def event_log_by_group(log_dir: str) -> dict[str, dict[str, int]]:
    """Sum task metrics per Spark job group over every event log file in
    ``log_dir`` (read after the session stopped, so it is complete)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, int]] = {}
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev["Stage IDs"]:
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    acc = out.setdefault(group, {})
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    for key, val in (
                        ("shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0)),
                        ("spill_bytes",
                         tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)),
                    ):
                        acc[key] = acc.get(key, 0) + val
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = _ACCUMULABLES.get(a.get("Name"))
                        if key:
                            acc[key] = acc.get(key, 0) + int(a.get("Update") or 0)
    return out


# ------------------------------------------------- in-process kernels


def _timed_repeat(fn, min_s: float = 0.5):
    """Run ``fn`` until ``min_s`` has passed; returns (calls, seconds,
    last result)."""
    calls, t0 = 0, time.perf_counter()
    while True:
        result = fn()
        calls += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= min_s:
            return calls, elapsed, result


def pbf_kernels(path: str, sample_blocks: int = 32) -> dict:
    """Inflate and columnar decode of a fixed block sample, on one core,
    with no Spark in between."""
    from osm_read_enhanced_spark.sources.pbf.blocks import read_block_payload, scan_blocks
    from osm_read_enhanced_spark.sources.pbf.columnar import decode_blob_to_batches
    from osm_read_enhanced_spark.sources.pbf.decode import decode_blob

    metas = [b for b in scan_blocks(path) if b.block_type == "OSMData"][:sample_blocks]
    raws = [(b.block_id, read_block_payload(b)) for b in metas]

    def inflate():
        return sum(len(decode_blob(raw)) for _, raw in raws)

    def decode():
        return sum(
            rb.num_rows for bid, raw in raws for rb in decode_blob_to_batches(raw, bid)
        )

    calls, secs, inflated = _timed_repeat(inflate)
    d_calls, d_secs, elems = _timed_repeat(decode)
    return {
        "inflate_mb_per_s": calls * inflated / secs / 2**20,
        "kernel_elems_per_s": d_calls * elems / d_secs,
        "kernel_s_per_block": d_secs / (d_calls * len(raws)),
    }


def rtree_sample(sample: dict, max_points: int = 100_000) -> dict:
    """Candidate and refine counts of ``STRtree.query_points`` plus
    ``points_in_ring`` on a fixed point sample."""
    from osm_read_enhanced_spark.functions.pip import points_in_ring
    from osm_read_enhanced_spark.operators.rtree import STRtree

    _, lats, lons = sample["rings"]
    plat, plon = (a[:max_points] for a in sample["pois"])
    boxes = np.array([[lo.min(), la.min(), lo.max(), la.max()] for la, lo in zip(lats, lons)])
    pi, bi = STRtree(boxes).query_points(plon, plat)
    exact = 0
    order = np.argsort(bi, kind="stable")
    pi, bi = pi[order], bi[order]
    cuts = np.flatnonzero(np.r_[True, bi[1:] != bi[:-1], True])
    for a, b in zip(cuts[:-1], cuts[1:]):
        if a == b:
            continue
        sel = pi[a:b]
        exact += int(points_in_ring(plat[sel], plon[sel], lats[bi[a]], lons[bi[a]]).sum())
    return {
        "candidates_per_point": len(pi) / max(len(plat), 1),
        "refine_hit_ratio": exact / max(len(pi), 1),
    }


# --------------------------------------------------------- layer suite


def passthrough(batches):
    yield from batches


def traced_job(spark, w, tr: Tracer, cores: int, m: dict) -> None:
    """Run every layer step by step under spans and job groups, filling
    ``m`` with the metrics that come from spans and counts (event-log
    metrics are added after the session stops). The rollup is checked
    against truth last, so a failed check still leaves every metric."""
    from osm_read_enhanced_spark.operators.polygons import assemble_way_geometries
    from osm_read_enhanced_spark.operators.spatial_join import pip_join_broadcast
    from osm_read_enhanced_spark.sources.pbf.reader import (
        pbf_block_index,
        read_pbf_union,
        release_pbf,
    )

    with tr.span("job.traced"):
        paths = w.pbf_paths
        with tr.span("pbf.block_index", spark):
            index = pbf_block_index(spark, paths).cache()
            m["pbf.blocks"] = index.filter(index.block_type == "OSMData").count()
        with tr.span("pbf.spark_decode", spark):
            noop(read_pbf_union(spark, paths, block_index=index))
        index.unpersist()

        dfs, polygons, pois = workloads.osm_chain(spark, w.osm["paths"])
        with tr.span("polygons.decode_cache", spark):
            dfs["union"].count()
        with tr.span("polygons.assemble", spark):
            noop(assemble_way_geometries(dfs["ways"], dfs["nodes"]))
        polygons = polygons.persist()
        with tr.span("polygons.closed", spark):
            m["polygons.closed_polygons"] = polygons.count()

        points, pip_polygons, sample = w.pip_inputs(spark, (dfs, polygons, pois))
        points = points.persist()
        with tr.span("pip.points_cache", spark):
            points.count()
        with tr.span("pip.broadcast_build", spark):
            hits = pip_join_broadcast(points, pip_polygons, keep_cols=("x", "y"))
        m["pip.polygons_collected"] = pip_polygons.count()
        with tr.span("pip.probe", spark):
            noop(hits)
        hits = hits.persist()
        with tr.span("pip.hits_cache", spark):
            hits.count()
        with tr.span("tiles.rollup", spark):
            noop(hits.groupBy("polygon_id", "x", "y").count())
        with tr.span("tiles.check", spark):
            summary = workloads.rollup_summary(hits)
        m["tiles.groups"] = summary["groups"]
        release_pbf(dfs)
        spark.catalog.clearCache()

    with tr.span("kernel.pbf"):
        kern = pbf_kernels(paths[0])
    with tr.span("kernel.rtree"):
        rtree = rtree_sample(sample)

    for name in ("pbf.block_index", "pbf.spark_decode", "polygons.assemble",
                 "pip.broadcast_build", "pip.probe", "tiles.rollup"):
        m[name + "_s"] = tr.seconds(name)
    m["pbf.inflate_mb_per_s"] = kern["inflate_mb_per_s"]
    m["pbf.kernel_elems_per_s"] = kern["kernel_elems_per_s"]
    explained = kern["kernel_s_per_block"] * m["pbf.blocks"] / cores
    m["pbf.boundary_share"] = 1.0 - explained / m["pbf.spark_decode_s"]
    m["pip.candidates_per_point"] = rtree["candidates_per_point"]
    m["pip.refine_hit_ratio"] = rtree["refine_hit_ratio"]
    tr.counts.update({name: v for name, v in m.items() if not name.endswith("_s")})
    workloads.check_equal("traced rollup", summary, workloads.rollup_expected(sample["truth"]))


def event_log_metrics(log_dir: str) -> dict[str, float]:
    groups = event_log_by_group(log_dir)

    def get(group, key):
        return groups.get(group, {}).get(key, 0)

    return {
        "pbf.arrow_bytes_out": get("pbf.spark_decode", "python_bytes_out"),
        "polygons.shuffle_write_bytes": get("polygons.assemble", "shuffle_write_bytes"),
        "polygons.spill_bytes": get("polygons.assemble", "spill_bytes"),
        "pip.python_worker_s": get("pip.probe", "python_run_ms") / 1000.0,
    }
