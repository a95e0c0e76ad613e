"""Distributed point-in-polygon joins (SURVEY.md §2.5 J4).

- ``pip_join_broadcast`` — the north-star pattern: the polygon layer is
  collected through Arrow into flat CSR arrays (ids, bboxes, ring
  vertex offsets and coordinates) and broadcast once; every task lazily
  builds a uniform-grid bbox index and the concatenated ring edges, then
  per Arrow batch emits each (point, polygon-bbox) candidate once from
  the grid and refines all candidates in one chunked ring-edge ray cast
  — no Python loop per polygon. Zero shuffle on the fact side; scales
  to any number of points while the polygon layer fits one broadcast
  (≤ a few hundred MB).
- ``pip_join_with_holes`` — multipolygon outer-minus-inner containment
  composed from two broadcast probes and an anti-join.
"""

from __future__ import annotations

import uuid

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.pip import pairs_in_rings, ring_edges
from .grid_index import GridIndex

# Per-worker cache of broadcast-built probe indexes, keyed by a
# driver-generated uuid captured in the probe closure (NOT id(bc): the
# CPython address of the per-task deserialized Broadcast differs per task
# — no sharing — and can be reused by a later broadcast after GC —
# stale-index risk). LRU-bounded so long-lived reused Python workers
# don't grow unboundedly.
_TREE_CACHE: dict = {}
_TREE_CACHE_MAX = 4


def _tree_cache_get(token: str, build):
    cached = _TREE_CACHE.get(token)
    if cached is None:
        cached = build()
        while len(_TREE_CACHE) >= _TREE_CACHE_MAX:
            _TREE_CACHE.pop(next(iter(_TREE_CACHE)))
        _TREE_CACHE[token] = cached
    return cached


def _flat_list(col) -> tuple[np.ndarray, np.ndarray]:
    """Arrow list column → (row lengths, flat float64 values); a null
    list is an empty one and a null coordinate is NaN."""
    import pyarrow.compute as pc

    lengths = pc.list_value_length(col).fill_null(0).to_numpy()
    values = pc.list_flatten(col).to_numpy()
    return lengths.astype(np.int64), np.asarray(values, dtype=np.float64)


def _collect_polygon_layer(polygons: DataFrame):
    """Driver-side: polygon layer → (ids, boxes, vertex offsets, lats,
    lons) flat arrays for broadcast, collected through Arrow. Layer must
    be 'small' (admin/landuse scale). An empty ring, or one with a null
    or NaN vertex, gets a NaN bbox and matches nothing."""
    table = polygons.select("polygon_id", "lats", "lons").toArrow()
    ids = table.column("polygon_id")
    if ids.null_count:
        raise ValueError("pip_join_broadcast: polygon_id must not be null")
    ids = np.asarray(ids.to_numpy(), dtype=np.int64)
    n_lat, lats = _flat_list(table.column("lats"))
    n_lon, lons = _flat_list(table.column("lons"))
    if not np.array_equal(n_lat, n_lon):
        raise ValueError("pip_join_broadcast: lats and lons differ in length")
    offsets = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(n_lat, out=offsets[1:])
    boxes = np.full((len(ids), 4), np.nan)
    full = np.flatnonzero(n_lat > 0)
    if full.size:
        at = offsets[full]
        boxes[full] = np.stack(
            [np.minimum.reduceat(lons, at), np.minimum.reduceat(lats, at),
             np.maximum.reduceat(lons, at), np.maximum.reduceat(lats, at)],
            axis=1,
        )
    return ids, boxes, offsets, lats, lons


def pip_join_broadcast(
    points: DataFrame,
    polygons: DataFrame,
    point_id_col: str = "point_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    keep_cols: tuple = (),
) -> DataFrame:
    """→ (point_id[, keep_cols...], polygon_id) exact containment pairs.

    ``keep_cols`` pass extra (narrow!) point columns through the Python
    probe stage so downstream stages need no join back on point_id —
    e.g. precomputed JVM tile coordinates ride along instead of costing
    a 10^12-row shuffle join afterwards. Keep heavy columns (image
    bytes) OUT and join those by id instead."""
    from ..session import python_parallelism

    spark = points.sparkSession
    layer = _collect_polygon_layer(polygons)
    bc = spark.sparkContext.broadcast(layer)
    token = uuid.uuid4().hex  # driver-side identity of this polygon layer
    n_parts = python_parallelism(spark)

    keep_cols = tuple(keep_cols)
    schema = T.StructType(
        [
            points.schema[point_id_col],
            *[points.schema[c] for c in keep_cols],
            T.StructField("polygon_id", T.LongType(), False),
        ]
    )
    in_cols = [point_id_col, *keep_cols, lat_col, lon_col]
    i_lat, i_lon = in_cols.index(lat_col), in_cols.index(lon_col)
    out_idx = list(range(len(in_cols) - 2))  # id + keep_cols positions

    def probe(it):
        import pyarrow as pa

        def build():
            ids, boxes, offsets, lats, lons = bc.value
            return ids, GridIndex(boxes), ring_edges(offsets, lats, lons)

        ids, grid, edges = _tree_cache_get(token, build)
        for rb in it:
            xs = np.asarray(rb.column(i_lon).to_numpy(zero_copy_only=False),
                            dtype=np.float64)
            ys = np.asarray(rb.column(i_lat).to_numpy(zero_copy_only=False),
                            dtype=np.float64)
            pi, bi = grid.query_points(xs, ys)
            m = pairs_in_rings(ys[pi], xs[pi], bi, edges)
            if m.any():
                kp = pa.array(pi[m])
                arrays = [rb.column(j).take(kp) for j in out_idx]
                arrays.append(pa.array(ids[bi[m]]))
                yield pa.RecordBatch.from_arrays(
                    arrays, names=[*in_cols[:-2], "polygon_id"]
                )

    # distribute the probe over the Python-stage width WITHOUT a
    # round-robin shuffle when the scan is already wide enough:
    # coalesce is narrow (merges scan splits in-stage); only a
    # too-narrow input (1-2 parquet splits at small SF) pays the
    # repartition exchange. (guide §2.4: remove shuffles outright)
    proj = points.select(*in_cols)
    n_in = proj.rdd.getNumPartitions()
    if n_in < n_parts:
        proj = proj.repartition(n_parts)
    elif n_in > n_parts:
        proj = proj.coalesce(n_parts)
    # Arrow-native probe: no pandas materialization on either side —
    # inputs are read as numpy views, outputs are pyarrow takes over
    # the input batch (guide §4.2)
    return proj.mapInArrow(probe, schema)


def pip_join_with_holes(
    points: DataFrame,
    outer_layer: DataFrame,
    inner_layer: DataFrame | None,
    **kw,
) -> DataFrame:
    """Hole-aware containment → (point_id, polygon_id): inside some
    outer ring of the polygon and NOT inside any of its inner rings
    (multipolygon even-odd semantics for one nesting level — the OSM
    relation outer/inner model, reference pbfParser relation roles).

    Pure DataFrame composition: ``pip_join_broadcast`` runs once per
    ring layer (``kw`` is passed to it), then a ``left_anti`` on
    (point_id, polygon_id) subtracts hole hits — no new refine kernel,
    and the anti-join shuffles only O(|matches|) narrow rows. The layers
    are ``relation_multipolygons`` output split by role:
    ``rings.filter(role == 'outer')`` / ``...('inner')``.
    """
    point_id_col = kw.get("point_id_col", "point_id")
    outer_hits = pip_join_broadcast(points, outer_layer, **kw)
    if inner_layer is None:
        return outer_hits
    inner_hits = pip_join_broadcast(points, inner_layer, **kw)
    return outer_hits.join(
        inner_hits, [point_id_col, "polygon_id"], "left_anti"
    )
