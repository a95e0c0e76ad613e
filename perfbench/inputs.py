"""Seeded inputs and their independently computed truth.

Every input is a pure function of (workload, seed, size). It is built
before any timed interval, cached under ``.perfbench_cache/`` in the
checkout (ignored by git), and reaches the program only as generated
PBF files or as DataFrames built from these arrays.

The truth never calls the package's decode or point-in-polygon code:
decode truth replays the generator's random stream, and containment
truth is a plain numpy even-odd ray cast over bbox-prefiltered points.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

TILE_ZOOM = 12

# ---------------------------------------------------------------- cache


CACHE_ENTRIES = 24


def cached(cache_root: str, key: str, build) -> tuple[str, dict]:
    """Return (directory, truth) for ``key``, building it once.

    ``build(tmp_dir) -> truth`` writes its files into ``tmp_dir``; the
    directory is renamed into place only after ``truth.json`` exists,
    so an interrupted build never leaves a half-written entry. Beyond
    CACHE_ENTRIES entries the least recently used ones are deleted."""
    final = os.path.join(cache_root, key)
    truth_path = os.path.join(final, "truth.json")
    if not os.path.exists(truth_path):
        entries = sorted(
            (e.path for e in os.scandir(cache_root) if e.is_dir()), key=os.path.getmtime
        )
        for old in entries[: max(0, len(entries) - CACHE_ENTRIES + 1)]:
            shutil.rmtree(old, ignore_errors=True)
        tmp = final + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        truth = build(tmp)
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    os.utime(final)
    with open(truth_path) as f:
        return final, json.load(f)


# --------------------------------------------------------- decode input


def _scale_file_truth(seed, n_blocks, nodes_per_block, ways_per_block):
    """Counts and sums of one ``build_scale_pbf_fast`` file, derived by
    replaying the generator's random stream (node ids count up from 1,
    way ids from 10,000,000; coordinates are in 100-nanodegree units)."""
    rng = np.random.default_rng(seed)
    lat_sum = lon_sum = 0
    for _ in range(n_blocks):
        base_lat = float(rng.uniform(-60, 60))
        base_lon = float(rng.uniform(-170, 170))
        lats = base_lat + rng.normal(0, 0.01, nodes_per_block)
        lons = base_lon + rng.normal(0, 0.01, nodes_per_block)
        lat_sum += int(np.rint(lats * 1e9 / 100).astype(np.int64).sum())
        lon_sum += int(np.rint(lons * 1e9 / 100).astype(np.int64).sum())
    n_nodes = n_blocks * nodes_per_block
    n_ways = n_blocks * ways_per_block
    return {
        "node": {
            "n": n_nodes,
            "ids": n_nodes + n_nodes * (n_nodes - 1) // 2,
            "lat": lat_sum,
            "lon": lon_sum,
        },
        "way": {
            "n": n_ways,
            "ids": n_ways * 10_000_000 + n_ways * (n_ways - 1) // 2,
            "lat": None,
            "lon": None,
        },
    }


def decode_input(cache_root, seed, files, blocks, nodes_per_block=8000, ways_per_block=400):
    """A multi-file planet-shaped PBF dataset: one ``build_scale_pbf_fast``
    file of ``blocks`` blocks, hard-linked under ``files`` names. Reading
    it decodes ``files * blocks`` blocks; generation costs one file."""
    from osm_read_enhanced_spark.fixtures import build_scale_pbf_fast

    key = f"decode-s{seed}-{files}x{blocks}x{nodes_per_block}x{ways_per_block}"
    names = [f"part-{i}.pbf" for i in range(files)]

    def build(tmp):
        first = os.path.join(tmp, names[0])
        build_scale_pbf_fast(
            first, n_blocks=blocks, nodes_per_block=nodes_per_block,
            ways_per_block=ways_per_block, seed=seed,
        )
        for name in names[1:]:
            os.link(first, os.path.join(tmp, name))
        one = _scale_file_truth(seed, blocks, nodes_per_block, ways_per_block)
        return {
            kind: {f: None if v is None else files * v for f, v in vals.items()}
            for kind, vals in one.items()
        }

    d, truth = cached(cache_root, key, build)
    return [os.path.join(d, name) for name in names], truth


# ------------------------------------------------------------ geometry


def star_rings(rng, n, lat_range, lon_range, r_range, k_range=(16, 65)):
    """``n`` simple star-shaped rings (open: last vertex != first), each
    with a vertex count drawn from ``k_range``. Returns (lats, lons)
    lists of float64 arrays."""
    centers_lat = rng.uniform(*lat_range, n)
    centers_lon = rng.uniform(*lon_range, n)
    radii = rng.uniform(*r_range, n)
    ks = rng.integers(*k_range, n)
    lats, lons = [], []
    for clat, clon, r, k in zip(centers_lat, centers_lon, radii, ks):
        ang = 2 * np.pi * (np.arange(k) + rng.uniform(0.1, 0.9, k)) / k
        rad = r * rng.uniform(0.6, 1.0, k)
        lats.append(clat + rad * np.sin(ang))
        lons.append(clon + rad * np.cos(ang) / np.cos(np.radians(clat)))
    return lats, lons


def raycast_pairs(px, py, ring_lats, ring_lons, ring_ids):
    """Exact (point index, ring id) containment pairs by an even-odd ray
    cast (half-open on edges), testing each ring only against the points
    inside its bbox."""
    order = np.argsort(px, kind="stable")
    sx = px[order]
    out_p, out_r = [], []
    for rid, la, lo in zip(ring_ids, ring_lats, ring_lons):
        a = np.searchsorted(sx, lo.min(), side="left")
        b = np.searchsorted(sx, lo.max(), side="right")
        cand = order[a:b]
        cand = cand[(py[cand] >= la.min()) & (py[cand] <= la.max())]
        if cand.size == 0:
            continue
        x, y = px[cand][:, None], py[cand][:, None]
        y1, x1 = la[None, :], lo[None, :]
        y2, x2 = np.roll(la, -1)[None, :], np.roll(lo, -1)[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            x_cross = x1 + (y - y1) / (y2 - y1) * (x2 - x1)
        odd = (((y1 > y) != (y2 > y)) & (x < x_cross)).sum(axis=1) % 2 == 1
        if odd.any():
            out_p.append(cand[odd])
            out_r.append(np.full(int(odd.sum()), rid, dtype=np.int64))
    if not out_p:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(out_p), np.concatenate(out_r)


def tile_xy(lat, lon, z=TILE_ZOOM):
    """Slippy z/x/y tile of each point (the same formula the JVM columns
    use, written out in numpy)."""
    n = float(2**z)
    x = np.floor((lon + 180.0) / 360.0 * n)
    rlat = np.radians(lat)
    y = np.floor((1.0 - np.log(np.tan(rlat) + 1.0 / np.cos(rlat)) / np.pi) / 2.0 * n)
    return np.clip(x, 0, n - 1).astype(np.int64), np.clip(y, 0, n - 1).astype(np.int64)


def rollup_truth(lat, lon, ring_lats, ring_lons, ring_ids):
    """Summary of the (polygon_id, x, y) -> count rollup of all
    containment pairs: the numbers the benchmark's job reports."""
    p, r = raycast_pairs(lon, lat, ring_lats, ring_lons, ring_ids)
    x, y = tile_xy(lat[p], lon[p])
    groups = np.unique(np.stack([r, x, y]), axis=1).shape[1] if p.size else 0
    return {
        "pairs": int(p.size),
        "groups": int(groups),
        "sum_polygon": int(r.sum()),
        "sum_x": int(x.sum()),
        "sum_y": int(y.sum()),
    }


# ------------------------------------------------------- pip_tiles input

# Points: a 2-D additive-recurrence (R2) sequence over the region, so the
# JVM can generate them from the row id alone and numpy can reproduce
# every coordinate bit for bit (same IEEE operations in the same order).
R2_A, R2_B = 0.7548776662466927, 0.5698402909980532
PIP_REGION = {"lat0": 40.0, "dlat": 8.0, "lon0": 0.0, "dlon": 16.0}


def pip_points_numpy(ids, s1, s2):
    frac_lat = np.fmod(ids.astype(np.float64) * R2_A + s1, 1.0)
    frac_lon = np.fmod(ids.astype(np.float64) * R2_B + s2, 1.0)
    lat = PIP_REGION["lat0"] + PIP_REGION["dlat"] * frac_lat
    lon = PIP_REGION["lon0"] + PIP_REGION["dlon"] * frac_lon
    return lat, lon


def pip_tiles_input(cache_root, seed, n_points, n_polygons):
    """Polygon layer (``n_polygons`` star rings of 16-64 vertices) plus
    the offsets of the JVM-generated point sequence."""
    key = f"pip_tiles-s{seed}-{n_points}x{n_polygons}"

    def build(tmp):
        rng = np.random.default_rng(seed)
        s1, s2 = float(rng.uniform()), float(rng.uniform())
        reg = PIP_REGION
        lats, lons = star_rings(
            rng, n_polygons,
            (reg["lat0"] + 0.3, reg["lat0"] + reg["dlat"] - 0.3),
            (reg["lon0"] + 0.3, reg["lon0"] + reg["dlon"] - 0.3),
            (0.06, 0.22),
        )
        ids = np.arange(n_polygons, dtype=np.int64) + 1
        np.savez(
            os.path.join(tmp, "polygons.npz"), ids=ids,
            lats=np.concatenate(lats), lons=np.concatenate(lons),
            sizes=np.array([len(a) for a in lats]),
        )
        plat, plon = pip_points_numpy(np.arange(n_points, dtype=np.int64), s1, s2)
        truth = rollup_truth(plat, plon, lats, lons, ids)
        truth.update(s1=s1, s2=s2, n_points=n_points, n_polygons=n_polygons)
        return truth

    d, truth = cached(cache_root, key, build)
    return load_rings(os.path.join(d, "polygons.npz")), truth


def load_rings(npz_path):
    with np.load(npz_path) as z:  # each z[key] reads the array again
        ids, all_lats, all_lons, sizes = z["ids"], z["lats"], z["lons"], z["sizes"]
    bounds = np.r_[0, np.cumsum(sizes)]
    lats = [all_lats[a:b] for a, b in zip(bounds[:-1], bounds[1:])]
    lons = [all_lons[a:b] for a, b in zip(bounds[:-1], bounds[1:])]
    return ids, lats, lons


# ------------------------------------------------------ osm_layers input

OSM_REGION = {"lat": (45.0, 47.0), "lon": (5.0, 9.0)}
LANDUSE_WAY_BASE = 50_000_000


def _write_osm_extract(path, rng, n_blocks, rings_per_block, pois_per_block):
    """Closed landuse rings plus amenity POI nodes, one block at a time
    (ring vertices and POIs as DenseNodes, rings as closed ways)."""
    from osm_read_enhanced_spark.sources.pbf.proto import encode_len_field
    from osm_read_enhanced_spark.sources.pbf.writer import (
        _frame_block,
        _StringTable,
        build_header_block,
        encode_dense_nodes_from_arrays,
        encode_way,
    )

    ring_lats, ring_lons, ring_ids, poi_lat, poi_lon = [], [], [], [], []
    n_nodes = n_ways = 0
    next_node, next_way = 1, LANDUSE_WAY_BASE
    with open(path, "wb") as f:
        f.write(_frame_block("OSMHeader", build_header_block()))
        for _ in range(n_blocks):
            st = _StringTable()
            k_amenity, v_cafe = st.add("amenity"), st.add("cafe")
            lats, lons = star_rings(
                rng, rings_per_block, OSM_REGION["lat"], OSM_REGION["lon"], (0.004, 0.02)
            )
            p_lat = rng.uniform(*OSM_REGION["lat"], pois_per_block)
            p_lon = rng.uniform(*OSM_REGION["lon"], pois_per_block)
            all_lat = np.concatenate([*lats, p_lat])
            all_lon = np.concatenate([*lons, p_lon])
            lat_raw = np.rint(all_lat * 1e7).astype(np.int64)
            lon_raw = np.rint(all_lon * 1e7).astype(np.int64)
            n = len(all_lat)
            ids = np.arange(next_node, next_node + n, dtype=np.int64)
            n_ring_nodes = n - pois_per_block
            # keys_vals: 0 per untagged ring vertex, (amenity cafe 0) per POI
            kv = np.concatenate([
                np.zeros(n_ring_nodes, dtype=np.int64),
                np.tile(np.array([k_amenity, v_cafe, 0], dtype=np.int64), pois_per_block),
            ])
            dense = encode_dense_nodes_from_arrays(ids, lat_raw, lon_raw, kv)
            # decoded coordinates are (100 * raw) / 1e9 degrees
            dec_lat = (100 * lat_raw.astype(np.float64)) / 1e9
            dec_lon = (100 * lon_raw.astype(np.float64)) / 1e9
            ways, start = [], 0
            for la in lats:
                k = len(la)
                refs = ids[start:start + k].tolist()
                ways.append(encode_way(
                    dict(id=next_way, refs=refs + refs[:1], tags={"landuse": "meadow"}), st
                ))
                ring_lats.append(dec_lat[start:start + k])
                ring_lons.append(dec_lon[start:start + k])
                ring_ids.append(next_way)
                next_way += 1
                start += k
            poi_lat.append(dec_lat[n_ring_nodes:])
            poi_lon.append(dec_lon[n_ring_nodes:])
            body = st.encode() + encode_len_field(2, dense) + encode_len_field(2, b"".join(ways))
            f.write(_frame_block("OSMData", body))
            next_node += n
            n_nodes += n
            n_ways += len(ways)
    return (ring_lats, ring_lons, np.array(ring_ids, dtype=np.int64),
            np.concatenate(poi_lat), np.concatenate(poi_lon), n_nodes, n_ways)


def osm_input(cache_root, seed, n_blocks, rings_per_block=200, pois_per_block=1600):
    """A generated OSM extract: ``n_blocks`` blocks of ``rings_per_block``
    closed landuse rings and ``pois_per_block`` amenity nodes."""
    key = f"osm-s{seed}-{n_blocks}x{rings_per_block}x{pois_per_block}"

    def build(tmp):
        rng = np.random.default_rng(seed)
        rl, ro, rids, plat, plon, n_nodes, n_ways = _write_osm_extract(
            os.path.join(tmp, "extract.pbf"), rng, n_blocks, rings_per_block, pois_per_block
        )
        np.savez(
            os.path.join(tmp, "polygons.npz"), ids=rids,
            lats=np.concatenate(rl), lons=np.concatenate(ro),
            sizes=np.array([len(a) for a in rl]),
        )
        np.savez(os.path.join(tmp, "pois.npz"), lat=plat, lon=plon)
        truth = rollup_truth(plat, plon, rl, ro, rids)
        truth.update(
            n_nodes=n_nodes, n_ways=n_ways, closed_polygons=len(rids), n_pois=len(plat)
        )
        return truth

    d, truth = cached(cache_root, key, build)
    pois = np.load(os.path.join(d, "pois.npz"))
    return {
        "paths": [os.path.join(d, "extract.pbf")],
        "rings": load_rings(os.path.join(d, "polygons.npz")),
        "pois": (pois["lat"], pois["lon"]),
        "truth": truth,
    }
