"""Deterministic synthetic fixtures (seed=42, no external data).

``build_pitcairn_like`` regenerates a stand-in for the reference's
missing ``test/input/pitcairn-islands-latest.osm.pbf`` (referenced by
test/pbfTest.js:14 and its benchmarks but not shipped — FIXTURES.md §A3)
with the asserted shape: OSMHeader with OsmSchema-V0.6 + DenseNodes,
block 0 = dense coastline nodes (mostly untagged, nonzero coords),
block 2 = ways with non-empty nodeRefs, plus one admin-boundary
relation with outer ways + label/admin_centre members.

``build_scale_pbf_fast`` writes an arbitrary-size deterministic file for
benchmarks and tests (n_blocks × nodes_per_block dense nodes + ways),
encoding the dense groups straight from numpy arrays.
"""

from __future__ import annotations

import math

import numpy as np

from .sources.pbf.writer import write_pbf

# Pitcairn island approximate centre (public geography)
PITCAIRN_LAT, PITCAIRN_LON = -25.0660, -130.1015


def _ring(cx, cy, radius_deg, n, jitter_rng=None):
    pts = []
    for i in range(n):
        a = 2 * math.pi * i / n
        r = radius_deg
        if jitter_rng is not None:
            r *= 1.0 + 0.15 * float(jitter_rng.uniform(-1, 1))
        pts.append((cy + r * math.sin(a), cx + r * math.cos(a)))
    return pts


def build_pitcairn_like(path: str) -> dict:
    """Write the deterministic pitcairn-like PBF; returns summary counts."""
    rng = np.random.default_rng(42)
    ts0 = 1243777155000

    # block 0+1: coastline dense nodes around the island (mostly untagged)
    coast = _ring(PITCAIRN_LON, PITCAIRN_LAT, 0.020, 400, rng)
    inland = [
        (PITCAIRN_LAT + float(rng.uniform(-0.015, 0.015)),
         PITCAIRN_LON + float(rng.uniform(-0.015, 0.015)))
        for _ in range(400)
    ]
    nodes0 = [
        dict(id=1000 + i, lat=lat, lon=lon,
             tags=({"natural": "coastline"} if i % 97 == 0 else {}),
             version=1, timestamp_ms=ts0 + i, changeset=1, uid=7, user="gen")
        for i, (lat, lon) in enumerate(coast)
    ]
    nodes1 = [
        dict(id=2000 + i, lat=lat, lon=lon,
             tags=({"place": "village", "name": "Adamstown"} if i == 0 else {}),
             version=1, timestamp_ms=ts0 + i, changeset=1, uid=7, user="gen")
        for i, (lat, lon) in enumerate(inland)
    ]

    # block 2: coastline segments + roads referencing those nodes
    coast_ids = [n["id"] for n in nodes0]
    ways = []
    seg = 40
    for w in range(len(coast_ids) // seg):
        refs = coast_ids[w * seg : (w + 1) * seg + 1] or coast_ids[:seg]
        if w == len(coast_ids) // seg - 1:
            refs = coast_ids[w * seg :] + [coast_ids[0]]  # close the ring
        ways.append(
            dict(id=50000 + w, refs=refs, tags={"natural": "coastline"},
                 info={"version": 1, "timestamp": ts0 // 1000, "changeset": 2, "uid": 7,
                       "user": "gen"})
        )
    road_ids = [n["id"] for n in nodes1[:60]]
    for w in range(6):
        ways.append(
            dict(id=60000 + w, refs=road_ids[w * 10 : (w + 1) * 10],
                 tags={"highway": "track", "name": f"Track {w}"})
        )

    # block 3: admin boundary relation (outer ways + label/admin_centre)
    relations = [
        dict(
            id=900001,
            tags={"type": "boundary", "boundary": "administrative", "admin_level": "2",
                  "name": "Pitcairn-like Islands"},
            members=(
                [{"ref": 50000 + w, "role": "outer", "type": 1}
                 for w in range(len(coast_ids) // seg)]
                + [{"ref": 2000, "role": "label", "type": 0},
                   {"ref": 2000, "role": "admin_centre", "type": 0}]
            ),
        )
    ]

    write_pbf(
        path,
        [
            dict(nodes=nodes0),
            dict(nodes=nodes1),
            dict(ways=ways),
            dict(relations=relations),
        ],
        header_kwargs=dict(
            bbox=(PITCAIRN_LON - 0.05, PITCAIRN_LON + 0.05,
                  PITCAIRN_LAT + 0.05, PITCAIRN_LAT - 0.05)
        ),
    )
    return dict(nodes=len(nodes0) + len(nodes1), ways=len(ways), relations=len(relations))


def build_scale_pbf_fast(
    path: str,
    n_blocks: int = 256,
    nodes_per_block: int = 8000,
    ways_per_block: int = 400,
    seed: int = 42,
    id_offset: int = 0,
    way_id_offset: int = 0,
) -> dict:
    """Deterministic multi-block PBF for decode benchmarks and tests.

    Each OSMData block is shaped like a real planet block: 8k dense
    nodes (sorted ids, clustered coords, tags {amenity, name} on every
    50th node) and 400 ways of 10 refs tagged highway=residential, in
    zlib blobs. The dense group is encoded from numpy arrays, so
    multi-GB bench inputs are cheap to generate.
    """
    from .sources.pbf.writer import (
        _frame_block,
        _StringTable,
        build_header_block,
        encode_dense_nodes_from_arrays,
        encode_way,
    )
    from .sources.pbf.proto import encode_len_field

    rng = np.random.default_rng(seed)
    n = nodes_per_block
    tagged = np.arange(0, n, 50)
    with open(path, "wb") as f:
        f.write(_frame_block("OSMHeader", build_header_block()))
        # id_offset/way_id_offset: multi-file datasets need DISJOINT id
        # spaces — colliding ids fan out every node-ref join by the file
        # count (quadratic blowup at soak scale)
        next_id = 1 + id_offset
        for b in range(n_blocks):
            st = _StringTable()
            k_amenity, v_cafe, k_name = st.add("amenity"), st.add("cafe"), st.add("name")
            base_lat = float(rng.uniform(-60, 60))
            base_lon = float(rng.uniform(-170, 170))
            lats = base_lat + rng.normal(0, 0.01, n)
            lons = base_lon + rng.normal(0, 0.01, n)
            ids = np.arange(next_id, next_id + n, dtype=np.int64)
            lat_raw = np.rint(lats * 1e9 / 100).astype(np.int64)
            lon_raw = np.rint(lons * 1e9 / 100).astype(np.int64)
            # keys_vals: ((k v)* 0)* — every 50th node gets 2 tags
            kv_len = np.ones(n, dtype=np.int64)
            kv_len[tagged] = 5
            off = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(kv_len, out=off[1:])
            kv = np.zeros(int(off[-1]), dtype=np.int64)
            name_ids = np.array(
                [st.add(f"poi_{b}_{int(i)}") for i in tagged], dtype=np.int64
            )
            kv[off[tagged] + 0] = k_amenity
            kv[off[tagged] + 1] = v_cafe
            kv[off[tagged] + 2] = k_name
            kv[off[tagged] + 3] = name_ids
            dense = encode_dense_nodes_from_arrays(ids, lat_raw, lon_raw, kv)
            ways_payload = b"".join(
                encode_way(
                    dict(
                        id=10_000_000 + way_id_offset + b * ways_per_block + w,
                        refs=ids[w * 10 : w * 10 + 10].tolist(),
                        tags={"highway": "residential"},
                    ),
                    st,
                )
                for w in range(ways_per_block)
            )
            # each group payload wraps as PrimitiveBlock.primitivegroup
            # (field 2); `dense` itself is the group's DenseNodes field
            body = (
                st.encode()
                + encode_len_field(2, dense)
                + encode_len_field(2, ways_payload)
            )
            f.write(_frame_block("OSMData", body))
            next_id += n
    return dict(
        blocks=n_blocks, nodes=n_blocks * n, ways=n_blocks * ways_per_block
    )
