"""Full-pipeline integration: PBF decode → way assembly → multipolygon
rings → PIP join of synthetic geotagged images → tile rollup —
the north-star flow, plus reader budget limits (reference F2/F4)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_read_enhanced_spark.fixtures import build_pitcairn_like
from osm_read_enhanced_spark.functions.pip import points_in_ring
from osm_read_enhanced_spark.operators.polygons import (
    assemble_way_geometries,
    relation_multipolygons,
)
from osm_read_enhanced_spark.operators.spatial_join import pip_join_broadcast
from osm_read_enhanced_spark.operators.tiles import assign_tiles, tile_stats
from osm_read_enhanced_spark.sources.pbf import read_pbf


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    pbf = str(tmp_path_factory.mktemp("e2e") / "pitcairn-like.pbf")
    build_pitcairn_like(pbf)
    dfs = read_pbf(spark, pbf)
    geoms = assemble_way_geometries(dfs["ways"], dfs["nodes"], broadcast_nodes=True).cache()
    layer = relation_multipolygons(dfs["relations"], geoms).cache()
    rng = np.random.default_rng(7)
    pts = [
        (int(i), float(-25.066 + rng.uniform(-0.04, 0.04)),
         float(-130.1015 + rng.uniform(-0.04, 0.04)))
        for i in range(800)
    ]
    images = spark.createDataFrame(pts, "point_id long, lat double, lon double").cache()
    return pbf, layer, images


def test_admin_polygon_assembled_from_relation(pipeline):
    _, layer, _ = pipeline
    rows = layer.collect()
    assert len(rows) == 1
    p = rows[0]
    assert p.role == "outer"
    assert p.tags["boundary"] == "administrative"
    assert min(p.lats) < -25.066 < max(p.lats)


def test_pip_strategies_agree_end_to_end(pipeline):
    """The broadcast probe on the assembled ring equals a direct ray
    cast of every point against that ring."""
    _, layer, images = pipeline
    b = {(r.point_id, r.polygon_id) for r in pip_join_broadcast(images, layer).collect()}
    ring = layer.collect()[0]
    pts = images.orderBy("point_id").collect()
    inside = points_in_ring(
        np.array([r.lat for r in pts]), np.array([r.lon for r in pts]),
        np.array(ring.lats), np.array(ring.lons),
    )
    assert b == {(pts[i].point_id, ring.polygon_id) for i in np.flatnonzero(inside)}
    assert 0 < len(b) < 800  # island polygon contains some but not all


def test_tile_rollup(pipeline):
    _, layer, images = pipeline
    pip = pip_join_broadcast(images, layer)
    tiled = assign_tiles(images, zooms=(12,))
    out = (
        pip.join(tiled, "point_id")
        .groupBy("polygon_id", "z", "x", "y")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert sum(r.n for r in out) == pip.count()
    assert all(r.z == 12 for r in out)


def test_reader_budgets(spark, pipeline):
    pbf, _, _ = pipeline
    # maxBlobLimit (F2): only the first data block
    one = read_pbf(spark, pbf, kinds=("node",), max_blocks=1)
    assert one["nodes"].select("block_id").distinct().count() == 1
    # read_threshold (F4): tiny byte budget keeps only leading blocks
    full = read_pbf(spark, pbf, kinds=("node",))
    n_full = full["nodes"].count()
    capped = read_pbf(spark, pbf, kinds=("node",), byte_budget=3000)
    n_capped = capped["nodes"].count()
    assert 0 < n_capped < n_full


def test_multipolygon_hole_pip_end_to_end(spark, tmp_path):
    """PBF → relation multipolygon with an INNER ring → role-split
    polygon layers → hole-aware PIP: points inside the hole (an island
    in a lake) must not be 'in the lake'; ring points must be."""
    from osm_read_enhanced_spark.fixtures import write_pbf
    from osm_read_enhanced_spark.operators.spatial_join import pip_join_with_holes

    def square(cx, cy, half):
        return [
            (cy - half, cx - half), (cy - half, cx + half),
            (cy + half, cx + half), (cy + half, cx - half),
        ]

    cx, cy = 10.0, 50.0
    outer_pts = square(cx, cy, 0.5)
    inner_pts = square(cx, cy, 0.2)
    nodes = [
        dict(id=1 + i, lat=la, lon=lo, tags={})
        for i, (la, lo) in enumerate(outer_pts)
    ] + [
        dict(id=101 + i, lat=la, lon=lo, tags={})
        for i, (la, lo) in enumerate(inner_pts)
    ]
    ways = [
        dict(id=500, refs=[1, 2, 3, 4, 1], tags={}),
        dict(id=501, refs=[101, 102, 103, 104, 101], tags={}),
    ]
    relations = [
        dict(
            id=9000,
            tags={"type": "multipolygon", "natural": "water", "name": "Lake"},
            members=[
                {"ref": 500, "role": "outer", "type": 1},
                {"ref": 501, "role": "inner", "type": 1},
            ],
        )
    ]
    pbf = str(tmp_path / "lake.pbf")
    write_pbf(pbf, [dict(nodes=nodes), dict(ways=ways), dict(relations=relations)])

    dfs = read_pbf(spark, pbf)
    geoms = assemble_way_geometries(dfs["ways"], dfs["nodes"], broadcast_nodes=True)
    rings = relation_multipolygons(dfs["relations"], geoms).cache()
    outer_layer = rings.filter(F.col("role") == "outer")
    inner_layer = rings.filter(F.col("role") == "inner")
    pts = spark.createDataFrame(
        [
            (1, cy, cx),               # island centre — inside the hole
            (2, cy + 0.3, cx),         # in the lake ring
            (3, cy, cx + 0.35),        # in the lake ring
            (4, cy + 0.9, cx),         # outside the lake entirely
        ],
        "point_id long, lat double, lon double",
    )
    got = {
        r.point_id for r in pip_join_with_holes(pts, outer_layer, inner_layer).collect()
    }
    assert got == {2, 3}
    # without hole subtraction, the island centre is wrongly "in the lake"
    plain = {r.point_id for r in pip_join_with_holes(pts, outer_layer, None).collect()}
    assert plain == {1, 2, 3}
