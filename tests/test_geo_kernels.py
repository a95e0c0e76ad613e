"""Unit tests for geo/S2/hexgrid/PIP/R-tree kernels (no Spark)."""

import numpy as np
import pytest

from osm_read_enhanced_spark.functions import hexgrid, pip, s2
from osm_read_enhanced_spark.functions.geo import (
    haversine_np,
    tile_bounds_np,
    tile_xy_np,
)
from osm_read_enhanced_spark.functions.pip import (
    pairs_in_rings,
    points_in_ring,
    ring_area_deg2,
    ring_edges,
)
from osm_read_enhanced_spark.operators.grid_index import GridIndex
from osm_read_enhanced_spark.operators.rtree import STRtree

rng = np.random.default_rng(42)


def test_haversine_published_values():
    # London (51.5007,-0.1246) ↔ Paris (48.8566,2.3522) ≈ 340.6-343 km
    d = haversine_np([51.5007], [-0.1246], [48.8566], [2.3522])[0]
    assert 339_000 < d < 345_000
    # equator degree ≈ 111.19 km
    d = haversine_np([0.0], [0.0], [0.0], [1.0])[0]
    assert abs(d - 111_195) < 100
    assert haversine_np([10.0], [20.0], [10.0], [20.0])[0] == 0.0


def test_slippy_tile_published_values():
    # standard slippy formula: lat 41.85, lon -87.65, z=15 → x=8405, y=12182
    # (independently: ((-87.65+180)/360)*2^15 = 8405.90…,
    #  (1-asinh(tan(41.85°))/π)/2*2^15 = 12182.39…)
    x, y = tile_xy_np([41.85], [-87.65], 15)
    assert (x[0], y[0]) == (8405, 12182)
    # zoom 0 is a single tile
    x, y = tile_xy_np([85.0, -85.0], [-179.9, 179.9], 0)
    assert x.tolist() == [0, 0] and y.tolist() == [0, 0]


def test_tile_bounds_roundtrip():
    lat, lon = rng.uniform(-80, 80, 200), rng.uniform(-179, 179, 200)
    for z in (3, 9, 15):
        x, y = tile_xy_np(lat, lon, z)
        w, s, e, n = tile_bounds_np(z, x, y)
        assert np.all((lon >= w - 1e-9) & (lon <= e + 1e-9))
        assert np.all((lat >= s - 1e-7) & (lat <= n + 1e-7))


def test_s2_leaf_roundtrip():
    lat, lon = rng.uniform(-89, 89, 2000), rng.uniform(-180, 180, 2000)
    leaf = s2.s2_cell_id(lat, lon, level=30)
    plat, plon = s2.cell_point_latlon(leaf)
    assert haversine_np(lat, lon, plat, plon).max() < 0.02  # < 2 cm


@pytest.mark.parametrize("level", [5, 10, 16])
def test_s2_reencode_stability(level):
    lat, lon = rng.uniform(-89, 89, 1000), rng.uniform(-180, 180, 1000)
    c = s2.s2_cell_id(lat, lon, level=level)
    assert np.all(s2.cell_level(c) == level)
    rl, rn = s2.cell_point_latlon(c)
    assert np.all(s2.s2_cell_id(rl, rn, level=level) == c)


def test_s2_parent_containment():
    lat, lon = rng.uniform(-89, 89, 1000), rng.uniform(-180, 180, 1000)
    assert np.all(
        s2.cell_parent(s2.s2_cell_id(lat, lon, 16), 10) == s2.s2_cell_id(lat, lon, 10)
    )


def test_s2_all_faces_covered():
    lat = np.array([0, 0, 0, 0, 89.9, -89.9])
    lon = np.array([0, 90, 180, -90, 0, 0])
    f, _, _ = s2.xyz_to_face_uv(*s2.latlon_to_xyz(lat, lon))
    assert set(f.tolist()) == {0, 1, 2, 3, 4, 5}


def test_hex_center_distance_bound():
    lat, lon = rng.uniform(-60, 60, 500), rng.uniform(-170, 170, 500)
    for res in (7, 8, 9, 10):
        c = hexgrid.hex_cell(lat, lon, res)
        clat, clon = hexgrid.cell_center(c)
        assert np.hypot(clat - lat, clon - lon).max() <= hexgrid.edge_deg(res) * 1.01


def test_hex_kring_sizes():
    c = hexgrid.hex_cell(np.array([10.0]), np.array([20.0]), 8)
    for k in (1, 2, 3):
        ring = hexgrid.kring_cells(c, k=k)
        assert ring.shape == (1, 1 + 3 * k * (k + 1))
        assert len(np.unique(ring)) == ring.shape[1]


def test_pip_vs_independent_raycast():
    ring_lat = np.array([0, 0, 2, 2, 1, 1, 3, 3], dtype=float)
    ring_lon = np.array([0, 3, 3, 2, 2, 1, 1, 0], dtype=float)
    pts_lat = rng.uniform(-0.5, 3.5, 1000)
    pts_lon = rng.uniform(-0.5, 3.5, 1000)

    def pip1(y, x):
        c = False
        n = len(ring_lat)
        for i in range(n):
            y1, x1 = ring_lat[i], ring_lon[i]
            y2, x2 = ring_lat[(i + 1) % n], ring_lon[(i + 1) % n]
            if (y1 > y) != (y2 > y) and x < x1 + (y - y1) / (y2 - y1) * (x2 - x1):
                c = not c
        return c

    got = points_in_ring(pts_lat, pts_lon, ring_lat, ring_lon)
    want = np.array([pip1(pts_lat[i], pts_lon[i]) for i in range(1000)])
    assert np.array_equal(got, want)


def test_ring_area_orientation():
    ccw = ring_area_deg2(np.array([0.0, 0, 1]), np.array([0.0, 1, 0]))
    cw = ring_area_deg2(np.array([0.0, 1, 0]), np.array([0.0, 0, 1]))
    assert ccw == -cw and abs(ccw) == 0.5


def _ring_csr(rings):
    offsets = np.r_[0, np.cumsum([len(la) for la, _ in rings])]
    lats = np.concatenate([la for la, _ in rings]) if rings else np.empty(0)
    lons = np.concatenate([lo for _, lo in rings]) if rings else np.empty(0)
    return ring_edges(offsets, lats, lons)


def test_pairs_in_rings_equals_points_in_ring(monkeypatch):
    r = np.random.default_rng(11)
    # random vertex order → self-intersecting rings; sizes 0..30 incl. an
    # empty ring (contains nothing) and 1-2 vertex degenerate rings
    rings = [(r.uniform(-1, 1, k), r.uniform(-1, 1, k)) for k in (0, 1, 2, 3, 7, 30, 12, 5)]
    # lattice rings: every vertex lies on an integer scan line and the
    # ring has horizontal edges; points sit on vertices, on horizontal
    # edges and on vertical edges
    rings.append((np.array([0, 0, 2, 2, 1, 1, 3, 3], dtype=float),
                  np.array([0, 3, 3, 2, 2, 1, 1, 0], dtype=float)))
    rings.append((np.array([0, 0, 1, 1, 0, 2, 2], dtype=float),
                  np.array([0, 2, 2, 0, 1, 1, 0], dtype=float)))
    n = 3000
    ring = r.integers(0, len(rings), n)
    plat = np.where(r.random(n) < 0.5, r.integers(-1, 4, n).astype(float), r.uniform(-1, 3.5, n))
    plon = np.where(r.random(n) < 0.5, r.integers(-1, 4, n) / 2.0, r.uniform(-1, 3.5, n))
    # points exactly on sloped edges, placed with the reference arithmetic
    # (one ulp either side too): only a bit-identical kernel agrees on all
    n_on = 2000
    ring_k = r.integers(3, 8, n_on)  # the random rings of 3..30 vertices
    edge_k = r.integers(0, 1 << 30, n_on) % np.array([len(rings[i][0]) for i in ring_k])
    ya = np.array([rings[i][0][j] for i, j in zip(ring_k, edge_k)])
    xa = np.array([rings[i][1][j] for i, j in zip(ring_k, edge_k)])
    yb = np.array([np.roll(rings[i][0], -1)[j] for i, j in zip(ring_k, edge_k)])
    xb = np.array([np.roll(rings[i][1], -1)[j] for i, j in zip(ring_k, edge_k)])
    on_y = ya + r.random(n_on) * (yb - ya)
    on_x = xa + (on_y - ya) / (yb - ya) * (xb - xa)
    on_x = on_x + np.array([-1, 0, 1])[r.integers(0, 3, n_on)] * np.spacing(on_x)
    ring, plat, plon = np.r_[ring, ring_k], np.r_[plat, on_y], np.r_[plon, on_x]
    n += n_on
    want = np.array(
        [points_in_ring(plat[k : k + 1], plon[k : k + 1], *rings[ring[k]])[0] for k in range(n)]
    )
    assert want.any() and not want.all()
    assert not want[ring == 0].any()
    edges = _ring_csr(rings)
    assert np.array_equal(pairs_in_rings(plat, plon, ring, edges), want)
    # chunk boundaries: pairs × edges split every 7 (and single pairs with
    # more edges than a chunk), and a chunk of 1 edge-pair
    for chunk in (1, 7, 64):
        monkeypatch.setattr(pip, "_EDGE_CHUNK", chunk)
        assert np.array_equal(pairs_in_rings(plat, plon, ring, edges), want)


def test_pairs_in_rings_empty_inputs():
    edges = _ring_csr([])
    assert pairs_in_rings(np.empty(0), np.empty(0), np.empty(0, dtype=np.int64), edges).size == 0
    edges = _ring_csr([(np.empty(0), np.empty(0))])
    assert pairs_in_rings(np.array([0.0]), np.array([0.0]), np.array([0]), edges).tolist() == [False]


def _bbox_pairs(boxes, xs, ys):
    return {
        (p, b)
        for p in range(len(xs))
        for b in range(len(boxes))
        if boxes[b, 0] <= xs[p] <= boxes[b, 2] and boxes[b, 1] <= ys[p] <= boxes[b, 3]
    }


def _index_cases():
    r = np.random.default_rng(5)
    # unit lattice boxes + points on every box edge / cell boundary,
    # also on a 0.1 lattice whose steps are not exact in binary
    for step in (1.0, 0.1):
        i, j = np.meshgrid(np.arange(6), np.arange(5))
        lo_x, lo_y = i.ravel() * step, j.ravel() * step
        boxes = np.stack([lo_x, lo_y, lo_x + step, lo_y + step], axis=1)
        g = np.arange(-1, 15) * (step / 2)
        xs, ys = (a.ravel() for a in np.meshgrid(g, g))
        yield "lattice", boxes, xs, ys
    # zero-width and zero-height boxes (and zero-size points-as-boxes)
    a = np.round(r.uniform(0, 10, 60), 1)
    b = np.round(r.uniform(0, 10, 60), 1)
    h = np.round(r.uniform(0, 2, 60), 1)
    boxes = np.concatenate([
        np.stack([a[:20], b[:20], a[:20], b[:20] + h[:20]], 1),
        np.stack([a[20:40], b[20:40], a[20:40] + h[20:40], b[20:40]], 1),
        np.stack([a[40:], b[40:], a[40:], b[40:]], 1),
    ])
    xs = np.r_[a, a + h / 2, r.uniform(0, 12, 100)]
    ys = np.r_[b + h / 2, b, r.uniform(0, 12, 100)]
    yield "degenerate", boxes, xs, ys
    yield "all_zero_width", boxes[:20], xs, ys
    # one box spanning the whole extent among many tiny scattered ones:
    # the start grid would hold ~10^10 cells, so it must coarsen
    lo = r.uniform(0, 100, (300, 2))
    small = np.concatenate([lo, lo + 0.001], axis=1)
    boxes = np.vstack([small, [[0.0, 0.0, 100.001, 100.001]]])
    xs = np.r_[lo[:, 0] + 0.0005, r.uniform(0, 100, 200)]
    ys = np.r_[lo[:, 1], r.uniform(0, 100, 200)]
    yield "spanning", boxes, xs, ys
    # half tiny, half wide boxes: the median side puts the wide ones in
    # dozens of cells each, over the entry budget
    lo = r.uniform(0, 50, (200, 2))
    w = np.where(np.arange(200) < 101, 0.2, 12.0)[:, None]
    boxes = np.concatenate([lo, lo + w], axis=1)
    yield "bimodal", boxes, r.uniform(0, 62, 300), r.uniform(0, 62, 300)
    # points outside the extent, NaN and infinite points
    boxes = np.array([[0.0, 0.0, 1.0, 1.0], [0.5, 0.5, 2.0, 2.0]])
    xs = np.array([-5.0, 5.0, 0.5, np.nan, 0.5, np.inf, -np.inf, 1.0, 2.0])
    ys = np.array([0.5, 0.5, -5.0, 0.5, np.nan, 0.5, 0.5, 1.0, 2.0])
    yield "outside", boxes, xs, ys


@pytest.mark.parametrize("index", [STRtree, GridIndex], ids=["STRtree", "GridIndex"])
def test_strtree_matches_bruteforce(index):
    boxes = np.empty((200, 4))
    boxes[:, 0] = rng.uniform(-10, 10, 200)
    boxes[:, 1] = rng.uniform(-10, 10, 200)
    boxes[:, 2] = boxes[:, 0] + rng.uniform(0.1, 3, 200)
    boxes[:, 3] = boxes[:, 1] + rng.uniform(0.1, 3, 200)
    xs, ys = rng.uniform(-12, 14, 300), rng.uniform(-12, 14, 300)
    cases = [("random", boxes, xs, ys), *_index_cases()]
    for name, boxes, xs, ys in cases:
        tree = STRtree(boxes, leaf_size=8) if index is STRtree else index(boxes)
        pi, bi = tree.query_points(xs, ys)
        got = list(zip(pi.tolist(), bi.tolist()))
        assert len(got) == len(set(got)), name  # each pair emitted once
        assert set(got) == _bbox_pairs(boxes, xs, ys), name
        if index is GridIndex:
            cells = len(tree.start) - 1
            assert len(tree.entries) <= 8 * len(boxes) + cells, name
            assert cells <= 16 * len(boxes), name
            if name in ("spanning", "bimodal"):
                assert tree.side[0] > np.median(boxes[:, 2] - boxes[:, 0]), name


@pytest.mark.parametrize("index", [STRtree, GridIndex], ids=["STRtree", "GridIndex"])
def test_strtree_empty_and_single(index):
    t = index(np.empty((0, 4)))
    pi, bi = t.query_points(np.array([1.0]), np.array([1.0]))
    assert len(pi) == 0
    t1 = index(np.array([[0.0, 0.0, 1.0, 1.0]]))
    assert t1.query_point(0.5, 0.5).tolist() == [0]
    assert t1.query_point(2.0, 2.0).tolist() == []
    pi, bi = t1.query_points(np.empty(0), np.empty(0))
    assert len(pi) == 0
    t0 = index(np.array([[3.0, 4.0, 3.0, 4.0]]))  # a zero-size box
    assert t0.query_point(3.0, 4.0).tolist() == [0]
    assert t0.query_point(3.0, 4.5).tolist() == []


def test_grid_index_skips_non_finite_boxes():
    boxes = np.array([[0.0, 0.0, 1.0, 1.0], [np.nan, 0.0, 1.0, 1.0],
                      [2.0, 2.0, np.inf, 3.0], [5.0, 5.0, 4.0, 6.0], [0.5, 0.5, 3.0, 3.0],
                      [-1e308, 0.0, 1e308, 1.0]])
    g = GridIndex(boxes)
    xs = np.array([0.5, 2.5, 4.5, 0.9])
    ys = np.array([0.5, 2.5, 5.5, 0.9])
    pi, bi = g.query_points(xs, ys)
    assert sorted(zip(pi.tolist(), bi.tolist())) == [(0, 0), (0, 4), (1, 4), (3, 0), (3, 4)]
    assert len(GridIndex(np.full((3, 4), np.nan)).query_points(xs, ys)[0]) == 0


# ------------------------------------------------ clean-room S2 reimpl
# De-circularizes the q23 pin: a from-scratch PER-BIT Hilbert walk
# (plain python ints, recursive-definition constants only) must produce
# the same leaf ids as the engine's vectorized 4-bit-lookup encoder.
# A construction or indexing bug in the lookup tables cannot also be
# present here. Structural anchors (face ids, level-0 layout) are
# checked against closed-form values that bypass Hilbert code entirely.

_POS_TO_IJ_SPEC = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
_POS_TO_ORIENT_SPEC = (1, 0, 0, 3)  # SWAP, 0, 0, INVERT|SWAP
_IJ_TO_POS_SPEC = tuple(
    tuple(row.index(ij) for ij in range(4)) for row in _POS_TO_IJ_SPEC
)


def _s2_leaf_cleanroom(lat_deg: float, lon_deg: float) -> int:
    import math

    la, lo = math.radians(lat_deg), math.radians(lon_deg)
    x = math.cos(la) * math.cos(lo)
    y = math.cos(la) * math.sin(lo)
    z = math.sin(la)
    ax, ay, az = abs(x), abs(y), abs(z)
    if ax >= ay and ax >= az:
        f, u, v = (0, y / x, z / x) if x > 0 else (3, z / x, y / x)
    elif ay >= az:
        f, u, v = (1, -x / y, z / y) if y > 0 else (4, z / y, -x / y)
    else:
        f, u, v = (2, -x / z, -y / z) if z > 0 else (5, -y / z, -x / z)

    def st(u):
        return 0.5 * math.sqrt(1 + 3 * u) if u >= 0 else 1 - 0.5 * math.sqrt(1 - 3 * u)

    def ij(s):
        return max(0, min((1 << 30) - 1, int(math.floor(s * (1 << 30)))))

    i, j = ij(st(u)), ij(st(v))
    orient = f & 1
    pos = 0
    for k in range(29, -1, -1):
        ijbits = ((i >> k) & 1) * 2 + ((j >> k) & 1)
        p = _IJ_TO_POS_SPEC[orient][ijbits]
        pos = (pos << 2) | p
        orient ^= _POS_TO_ORIENT_SPEC[p]
    return (f << 61) | (pos << 1) | 1


def test_s2_engine_matches_cleanroom_bitwalk():
    rng = np.random.default_rng(99)
    zc = rng.uniform(-1, 1, 500)
    phi = rng.uniform(-np.pi, np.pi, 500)
    lat = np.degrees(np.arcsin(zc))
    lon = np.degrees(phi)
    leafs = s2.s2_cell_id(lat, lon, level=30).view(np.uint64)
    for m in range(500):
        exp = _s2_leaf_cleanroom(float(lat[m]), float(lon[m]))
        assert int(leafs[m]) == exp, (m, lat[m], lon[m], hex(int(leafs[m])), hex(exp))


def test_s2_structural_anchors():
    """Closed-form S2 facts that bypass all Hilbert code: level-0 cell
    of face f is (2f+1)·2^60; axis points land on their faces."""
    cases = [
        ((0.0, 0.0), 0),   # +x axis
        ((0.0, 90.0), 1),  # +y
        ((90.0, 0.0), 2),  # +z
        ((0.0, 180.0), 3),  # -x
        ((0.0, -90.0), 4),  # -y
        ((-90.0, 0.0), 5),  # -z
    ]
    for (la, lo), face in cases:
        leaf = s2.s2_cell_id(np.array([la]), np.array([lo]), level=30).view(np.uint64)[0]
        assert int(leaf) >> 61 == face, (la, lo, face, hex(int(leaf)))
        l0 = s2.cell_parent(np.array([leaf]).view(np.int64), 0).view(np.uint64)[0]
        assert int(l0) == (2 * face + 1) << 60


def test_dp_simplify_matches_cleanroom_recursion():
    """Iterative numpy DP == an independent recursive coding on random
    scatter at several tolerances; endpoints always kept; idempotent."""
    import numpy as np

    from osm_read_enhanced_spark.functions.simplify import dp_keep_mask, dp_simplify

    def perp(px, py, ax, ay, bx, by):
        dx, dy = bx - ax, by - ay
        if dx == 0.0 and dy == 0.0:
            return ((px - ax) ** 2 + (py - ay) ** 2) ** 0.5
        return abs(dy * px - dx * py + bx * ay - by * ax) / (dx * dx + dy * dy) ** 0.5

    def rec(lats, lons, i0, i1, keep, eps):
        if i1 - i0 < 2:
            return
        best, bj = -1.0, -1
        for j in range(i0 + 1, i1):
            d = perp(lons[j], lats[j], lons[i0], lats[i0], lons[i1], lats[i1])
            if d > best:
                best, bj = d, j
        if best > eps:
            keep.add(bj)
            rec(lats, lons, i0, bj, keep, eps)
            rec(lats, lons, bj, i1, keep, eps)

    rng = np.random.default_rng(11)
    for seed in range(5):
        n = 80
        lats = np.cumsum(rng.normal(0, 1.0, n))
        lons = np.cumsum(rng.normal(0, 1.0, n))
        for eps in (0.5, 2.0, 8.0):
            keep = {0, n - 1}
            rec(lats.tolist(), lons.tolist(), 0, n - 1, keep, eps)
            m = dp_keep_mask(lats, lons, eps)
            assert set(np.flatnonzero(m)) == keep, (seed, eps)
            sl, so = dp_simplify(lats, lons, eps)
            s2l, s2o = dp_simplify(sl, so, eps)
            assert np.array_equal(sl, s2l) and np.array_equal(so, s2o)  # idempotent
    # hand fixture: a square wave at amplitude 1 collapses at eps>1
    la = np.array([0.0, 1.0, 0.0, 1.0, 0.0])
    lo = np.array([0.0, 1.0, 2.0, 3.0, 4.0])
    assert dp_keep_mask(la, lo, 1.5).sum() == 2
    assert dp_keep_mask(la, lo, 0.5).sum() == 5


def test_path_length_area_centroid_columns(spark):
    """Round-4 geometry measures: haversine fold vs numpy, shoelace
    area of a known square, vertex centroid; degenerate (<2 / <3 point)
    guards return 0 instead of tripping ANSI sequence descent."""
    import numpy as np
    from pyspark.sql import functions as F

    from osm_read_enhanced_spark.functions.geo import (
        EARTH_RADIUS_M,
        centroid_col,
        path_length_m_col,
        ring_area_m2_col,
    )

    # ~1km square at lat 10: side 0.01 deg lat ≈ 1111.95 m
    side = 0.01
    lats = [10.0, 10.0, 10.0 + side, 10.0 + side]
    lons = [20.0, 20.0 + side, 20.0 + side, 20.0]
    df = spark.createDataFrame(
        [(1, lats, lons), (2, [5.0], [6.0]), (3, [], [])],
        "way_id long, lats array<double>, lons array<double>",
    )
    out = {
        r.way_id: r
        for r in df.select(
            "way_id",
            path_length_m_col(F.col("lats"), F.col("lons")).alias("len"),
            ring_area_m2_col(F.col("lats"), F.col("lons")).alias("area"),
            centroid_col(F.col("lats")).alias("clat"),
        ).collect()
    }
    # open path length (3 sides) vs numpy haversine
    def hav(a, b, c, d):
        p = np.radians([a, b, c, d])
        x = (
            np.sin((p[2] - p[0]) / 2) ** 2
            + np.cos(p[0]) * np.cos(p[2]) * np.sin((p[3] - p[1]) / 2) ** 2
        )
        return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(min(x, 1.0)))

    expected_len = sum(
        hav(lats[i], lons[i], lats[i + 1], lons[i + 1]) for i in range(3)
    )
    assert abs(out[1].len - expected_len) < 1e-6
    # area ≈ (side·m_per_deg)·(side·m_per_deg·cos(lat)) for the square
    m_per_deg = np.pi * EARTH_RADIUS_M / 180.0
    expected_area = (side * m_per_deg) * (side * m_per_deg * np.cos(np.radians(10.005)))
    assert abs(out[1].area - expected_area) / expected_area < 1e-3
    assert abs(out[1].clat - 10.005) < 1e-9
    assert out[2].len == 0.0 and out[2].area == 0.0
    assert out[3].len == 0.0 and out[3].area == 0.0
