"""Spark integration tests: way assembly, polygon rows, PIP joins
(broadcast grid-index probe vs brute-force ray cast), kNN, tiles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_read_enhanced_spark.operators.polygons import (
    assemble_way_geometries,
    closed_way_polygons,
    relation_multipolygons,
)
from osm_read_enhanced_spark.operators.spatial_join import pip_join_broadcast
from osm_read_enhanced_spark.operators.tiles import assign_tiles, tile_stats
from osm_read_enhanced_spark.functions.pip import points_in_ring

rng = np.random.default_rng(42)


@pytest.fixture(scope="module")
def osm_dfs(spark):
    """Tiny OSM-like tables: a square landuse way + triangle + open way."""
    nodes = spark.createDataFrame(
        [
            (1, 0.0, 0.0, {}),
            (2, 0.0, 1.0, {}),
            (3, 1.0, 1.0, {}),
            (4, 1.0, 0.0, {}),
            (5, 2.0, 2.0, {}),
            (6, 2.0, 3.0, {}),
            (7, 3.0, 2.5, {}),
            (8, 5.0, 5.0, {}),
        ],
        "id long, lat double, lon double, tags map<string,string>",
    )
    ways = spark.createDataFrame(
        [
            (100, [1, 2, 3, 4, 1], {"landuse": "farm"}),
            (101, [5, 6, 7, 5], {"landuse": "forest"}),
            (102, [1, 8], {"highway": "road"}),  # open way
        ],
        "id long, refs array<long>, tags map<string,string>",
    )
    return nodes, ways


def test_way_assembly_preserves_ref_order(spark, osm_dfs):
    nodes, ways = osm_dfs
    geoms = assemble_way_geometries(ways, nodes).orderBy("way_id").collect()
    sq = [g for g in geoms if g.way_id == 100][0]
    assert sq.lats == [0.0, 0.0, 1.0, 1.0, 0.0]
    assert sq.lons == [0.0, 1.0, 1.0, 0.0, 0.0]
    road = [g for g in geoms if g.way_id == 102][0]
    assert (road.lats, road.lons) == ([0.0, 5.0], [0.0, 5.0])


def test_way_assembly_never_auto_broadcasts_nodes(spark, osm_dfs):
    """Soak finding: AQE converted the refs⋈nodes join to broadcast off
    compressed map stats and blew driver maxResultSize at 4.2 GB input.
    The unbroadcast plan must stay a merge join regardless of stats."""
    nodes, ways = osm_dfs
    plan = assemble_way_geometries(ways, nodes)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    bplan = (
        assemble_way_geometries(ways, nodes, broadcast_nodes=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in bplan, bplan


def test_closed_way_polygons(spark, osm_dfs):
    nodes, ways = osm_dfs
    polys = closed_way_polygons(
        assemble_way_geometries(ways, nodes), kinds=["landuse"]
    ).collect()
    assert sorted(p.polygon_id for p in polys) == [100, 101]
    sq = [p for p in polys if p.polygon_id == 100][0]
    assert len(sq.lats) == 4  # closing vertex dropped


@pytest.fixture(scope="module")
def pip_setup(spark, osm_dfs):
    nodes, ways = osm_dfs
    layer = closed_way_polygons(
        assemble_way_geometries(ways, nodes), kinds=["landuse"]
    ).cache()
    pts = [
        (int(i), float(lat), float(lon))
        for i, (lat, lon) in enumerate(
            zip(rng.uniform(-0.5, 3.5, 400), rng.uniform(-0.5, 3.5, 400))
        )
    ]
    points = spark.createDataFrame(pts, "point_id long, lat double, lon double").cache()
    return points, layer, pts


def _expected_pairs(pts):
    sq_la = np.array([0.0, 0.0, 1.0, 1.0])
    sq_lo = np.array([0.0, 1.0, 1.0, 0.0])
    tr_la = np.array([2.0, 2.0, 3.0])
    tr_lo = np.array([2.0, 3.0, 2.5])
    lat = np.array([p[1] for p in pts])
    lon = np.array([p[2] for p in pts])
    want = set()
    for pid, m in ((100, points_in_ring(lat, lon, sq_la, sq_lo)),
                   (101, points_in_ring(lat, lon, tr_la, tr_lo))):
        for i in np.flatnonzero(m):
            want.add((pts[i][0], pid))
    return want


def test_pip_broadcast_matches_bruteforce(spark, pip_setup):
    points, layer, pts = pip_setup
    got = {
        (r.point_id, r.polygon_id)
        for r in pip_join_broadcast(points, layer).collect()
    }
    assert got == _expected_pairs(pts)


def test_tile_assignment_and_stats(spark):
    df = spark.createDataFrame(
        [(1, 41.85, -87.65), (2, 41.85, -87.65), (3, -33.86, 151.21)],
        "point_id long, lat double, lon double",
    )
    tiled = assign_tiles(df, zooms=(15,))
    rows = {r.point_id: (r.z, r.x, r.y) for r in tiled.collect()}
    assert rows[1] == (15, 8405, 12182)
    assert rows[1] == rows[2]
    stats = {(r.z, r.x, r.y): r.n_points for r in tile_stats(tiled).collect()}
    assert stats[(15, 8405, 12182)] == 2


def test_relation_multipolygon_stitching(spark):
    # two open ways forming one square outer ring, reversed direction case
    nodes = spark.createDataFrame(
        [(1, 0.0, 0.0, {}), (2, 0.0, 1.0, {}), (3, 1.0, 1.0, {}), (4, 1.0, 0.0, {})],
        "id long, lat double, lon double, tags map<string,string>",
    )
    ways = spark.createDataFrame(
        [(201, [1, 2, 3], {}), (202, [1, 4, 3], {})],  # second needs reversal
        "id long, refs array<long>, tags map<string,string>",
    )
    rels = spark.createDataFrame(
        [
            (
                900,
                {"type": "boundary", "boundary": "administrative"},
                [(201, "outer", 1), (202, "outer", 1)],
            )
        ],
        "id long, tags map<string,string>, members array<struct<ref:long,role:string,type:int>>",
    )
    geoms = assemble_way_geometries(ways, nodes)
    rings = relation_multipolygons(rels, geoms).collect()
    assert len(rings) == 1
    r = rings[0]
    assert r.polygon_id == 900 and r.role == "outer"
    assert sorted(zip(r.lats, r.lons)) == [(0.0, 0.0), (0.0, 1.0), (1.0, 0.0), (1.0, 1.0)]


def test_knn_adaptive_matches_bruteforce_sparse_globe(spark):
    """The adaptive ring-expansion kNN must equal brute force on
    GLOBALLY SPARSE data — exactly the regime where a fixed-ring kRing
    join's coverage contract breaks (true neighbors many cells away)."""
    from osm_read_enhanced_spark.operators.knn import (
        knn_bruteforce,
        knn_join_adaptive,
    )

    rng = np.random.default_rng(17)
    n, m = 40, 15  # 15 right points over the whole globe = very sparse
    left = spark.createDataFrame(
        [(int(i), float(rng.uniform(-75, 75)), float(rng.uniform(-170, 170)))
         for i in range(n)],
        "point_id long, lat double, lon double",
    )
    right = spark.createDataFrame(
        [(int(j), float(rng.uniform(-75, 75)), float(rng.uniform(-170, 170)))
         for j in range(m)],
        "neighbor_id long, lat double, lon double",
    )
    a = knn_join_adaptive(left, right, k=3, exclude_self=False).orderBy(
        "point_id", "rank"
    ).collect()
    b = knn_bruteforce(left, right, k=3, exclude_self=False).orderBy(
        "point_id", "rank"
    ).collect()
    assert [(r.point_id, r.neighbor_id, r.rank) for r in a] == [
        (r.point_id, r.neighbor_id, r.rank) for r in b
    ]
    assert np.allclose([r.dist_m for r in a], [r.dist_m for r in b])


def test_knn_adaptive_matches_bruteforce_dense_cluster(spark):
    from osm_read_enhanced_spark.operators.knn import (
        knn_bruteforce,
        knn_join_adaptive,
    )

    n = 150
    lat = 48.85 + rng.uniform(-0.03, 0.03, n)
    lon = 2.35 + rng.uniform(-0.03, 0.03, n)
    df = spark.createDataFrame(
        [(int(i), float(lat[i]), float(lon[i])) for i in range(n)],
        "point_id long, lat double, lon double",
    ).cache()
    right = df.select(F.col("point_id").alias("neighbor_id"), "lat", "lon")
    a = knn_join_adaptive(df, right, k=4).orderBy("point_id", "rank").collect()
    b = knn_bruteforce(df, right, k=4).orderBy("point_id", "rank").collect()
    assert [(r.point_id, r.neighbor_id, r.rank) for r in a] == [
        (r.point_id, r.neighbor_id, r.rank) for r in b
    ]


def test_pip_broadcast_keep_cols_pass_through(spark, pip_setup):
    points, layer, _ = pip_setup
    enriched = points.withColumn("tag42", F.col("point_id") * 42)
    with_cols = pip_join_broadcast(enriched, layer, keep_cols=("tag42",)).collect()
    plain = {(r.point_id, r.polygon_id)
             for r in pip_join_broadcast(points, layer).collect()}
    assert {(r.point_id, r.polygon_id) for r in with_cols} == plain
    assert all(r.tag42 == r.point_id * 42 for r in with_cols)


def _unit_squares_and_centres(spark, n=40):
    rows = [(i, [0.0, 0.0, 1.0, 1.0], [i * 2.0, i * 2.0 + 1, i * 2.0 + 1, i * 2.0])
            for i in range(n)]
    pts = spark.createDataFrame(
        [(i, 0.5, i * 2.0 + 0.5) for i in range(n)], "point_id long, lat double, lon double"
    )
    return rows, pts


POLY_SCHEMA = "polygon_id long, lats array<double>, lons array<double>"


def test_pip_broadcast_non_finite_polygon_matches_nothing(spark):
    # one null and one NaN vertex give NaN bboxes: those polygons match
    # nothing and every other polygon keeps its hits (a NaN bbox used to
    # poison the whole index and empty the join)
    rows, pts = _unit_squares_and_centres(spark)
    rows.append((900, [0.0, None, 1.0], [0.0, 1.0, 1.0]))
    rows.append((901, [0.0, float("nan"), 1.0], [2.0, 3.0, 3.0]))
    layer = spark.createDataFrame(rows, POLY_SCHEMA)
    got = {(r.point_id, r.polygon_id) for r in pip_join_broadcast(pts, layer).collect()}
    assert got == {(i, i) for i in range(40)}


def test_pip_broadcast_empty_rings_and_layer(spark):
    rows, pts = _unit_squares_and_centres(spark, n=5)
    rows.append((900, [], []))
    rows.append((901, None, None))
    layer = spark.createDataFrame(rows, POLY_SCHEMA)
    got = {(r.point_id, r.polygon_id) for r in pip_join_broadcast(pts, layer).collect()}
    assert got == {(i, i) for i in range(5)}
    empty = spark.createDataFrame([], POLY_SCHEMA)
    assert pip_join_broadcast(pts, empty).count() == 0


def test_pip_broadcast_rejects_malformed_layer(spark):
    _, pts = _unit_squares_and_centres(spark, n=1)
    ragged = spark.createDataFrame([(1, [0.0, 0.0, 1.0], [0.0, 1.0])], POLY_SCHEMA)
    with pytest.raises(ValueError, match="differ in length"):
        pip_join_broadcast(pts, ragged)
    no_id = spark.createDataFrame([(None, [0.0, 0.0, 1.0], [0.0, 1.0, 1.0])], POLY_SCHEMA)
    with pytest.raises(ValueError, match="polygon_id"):
        pip_join_broadcast(pts, no_id)


def test_auto_resolution_scales_with_density(spark):
    """auto_resolution must pick a COARSE grid for a globally sparse
    right side and a FINE grid for a dense cluster — the knob the
    round-2 verdict flagged as hand-tuned (q41 res=2)."""
    from osm_read_enhanced_spark.operators.knn import auto_resolution

    rng2 = np.random.default_rng(3)
    sparse = spark.createDataFrame(
        [(int(j), float(rng2.uniform(-75, 75)), float(rng2.uniform(-170, 170)))
         for j in range(30)],
        "neighbor_id long, lat double, lon double",
    )
    dense = spark.createDataFrame(
        [(int(j), float(48.85 + rng2.uniform(-0.03, 0.03)),
          float(2.35 + rng2.uniform(-0.03, 0.03))) for j in range(5000)],
        "neighbor_id long, lat double, lon double",
    )
    r_sparse = auto_resolution(sparse, k=3)
    r_dense = auto_resolution(dense, k=3)
    assert r_sparse <= 2, r_sparse
    assert r_dense >= 7, r_dense
    assert r_dense > r_sparse


def test_pip_join_with_holes(spark):
    """Outer square [0,10]² with hole [3,7]²: even-odd containment via
    the left_anti composition equals the plain range predicate."""
    from osm_read_enhanced_spark.operators.spatial_join import pip_join_with_holes

    outer = spark.createDataFrame(
        [(1, [0.0, 0.0, 10.0, 10.0], [0.0, 10.0, 10.0, 0.0])],
        "polygon_id long, lats array<double>, lons array<double>",
    )
    holes = spark.createDataFrame(
        [(1, [3.0, 3.0, 7.0, 7.0], [3.0, 7.0, 7.0, 3.0])],
        "polygon_id long, lats array<double>, lons array<double>",
    )
    pts = spark.createDataFrame(
        [(i * 100 + j, i - 2.5, j - 2.5) for i in range(16) for j in range(16)],
        "point_id long, lat double, lon double",
    )
    got = {
        r.point_id
        for r in pip_join_with_holes(pts, outer, holes).collect()
    }
    want = {
        i * 100 + j
        for i in range(16)
        for j in range(16)
        if 0 <= i - 2.5 < 10 and 0 <= j - 2.5 < 10
        and not (3 <= i - 2.5 < 7 and 3 <= j - 2.5 < 7)
    }
    assert got == want and len(want) > 0
    # inner_layer=None degrades to the plain join
    plain = {r.point_id for r in pip_join_with_holes(pts, outer, None).collect()}
    assert plain > got


def test_simplify_geometries_operator(spark):
    from osm_read_enhanced_spark.functions.simplify import dp_simplify
    from osm_read_enhanced_spark.operators.polygons import simplify_geometries

    geoms = spark.createDataFrame(
        [
            (1, [0.0, 1.0, 0.0, 1.0, 0.0], [0.0, 1.0, 2.0, 3.0, 4.0]),
            (2, [0.0, 0.01, 0.02, 10.0], [0.0, 1.0, 2.0, 3.0]),
        ],
        "way_id long, lats array<double>, lons array<double>",
    )
    got = {r.way_id: r for r in simplify_geometries(geoms, eps=1.5).collect()}
    for wid, la, lo in ((1, [0.0, 1.0, 0.0, 1.0, 0.0], [0.0, 1.0, 2.0, 3.0, 4.0]),
                        (2, [0.0, 0.01, 0.02, 10.0], [0.0, 1.0, 2.0, 3.0])):
        import numpy as np

        sl, so = dp_simplify(np.array(la), np.array(lo), 1.5)
        r = got[wid]
        assert r.lats == sl.tolist() and r.lons == so.tolist()
        assert r.n_points_in == len(la) and r.n_points_out == len(sl)
