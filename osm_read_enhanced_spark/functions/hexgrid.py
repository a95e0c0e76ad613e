"""Hexagonal cell index ("h3lite") — deterministic planar hex binning.

DOCUMENTED DEVIATION (SURVEY.md §7 risk register): no H3 library exists
in this environment and full icosahedral H3 (face/IJK/class-III math,
pentagon handling) is out of round-1 scope, so this module provides the
engine's H3-shaped surface — res 7-10 cell ids and kRing
neighborhoods — on a deterministic equirectangular hex lattice instead
of the true H3 projection. Cell edge lengths per res match H3's
published scale (aperture-7: edge ≈ 1107.7 km / √7^res), so join
fan-outs and skew behaviour are realistic. The packed-int64 cell id
and kRing semantics are what the kNN operator contracts on; true H3
cells live in ``h3core``.

Axial hex coordinates (pointy-top) with standard cube rounding; all
kernels numpy-vectorized for Arrow batches.
"""

from __future__ import annotations

import numpy as np

# H3 published mean edge lengths (km) per resolution, aperture 7
_EDGE0_KM = 1107.712591
_KM_PER_DEG = 111.32

_SQRT3 = np.sqrt(3.0)

_RES_BITS = 56
_COORD_BIAS = 1 << 27  # axial coords biased to non-negative
_COORD_BITS = 28


def edge_deg(res: int) -> float:
    """Hex edge length in degrees (equirectangular) for a resolution."""
    return _EDGE0_KM / (7.0 ** (res / 2.0)) / _KM_PER_DEG


def _axial_from_xy(x, y, size):
    q = (_SQRT3 / 3.0 * x - 1.0 / 3.0 * y) / size
    r = (2.0 / 3.0 * y) / size
    return q, r


def _xy_from_axial(q, r, size):
    x = size * (_SQRT3 * q + _SQRT3 / 2.0 * r)
    y = size * (1.5 * r)
    return x, y


def _cube_round(q, r):
    """Standard cube rounding, vectorized."""
    x = np.asarray(q, dtype=np.float64)
    z = np.asarray(r, dtype=np.float64)
    y = -x - z
    rx, ry, rz = np.round(x), np.round(y), np.round(z)
    dx, dy, dz = np.abs(rx - x), np.abs(ry - y), np.abs(rz - z)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & (dz > dy)
    rx = np.where(fix_x, -ry - rz, rx)
    rz = np.where(fix_z, -rx - ry, rz)
    return rx.astype(np.int64), rz.astype(np.int64)


def pack_cell(res, q, r) -> np.ndarray:
    q = np.asarray(q, dtype=np.int64) + _COORD_BIAS
    r = np.asarray(r, dtype=np.int64) + _COORD_BIAS
    return (
        (np.int64(res) << np.int64(_RES_BITS))
        | (q << np.int64(_COORD_BITS))
        | r
    )


def unpack_cell(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> np.int64(_RES_BITS)
    q = ((cell >> np.int64(_COORD_BITS)) & np.int64((1 << _COORD_BITS) - 1)) - _COORD_BIAS
    r = (cell & np.int64((1 << _COORD_BITS) - 1)) - _COORD_BIAS
    return res, q, r


def hex_cell(lat, lon, res: int = 8) -> np.ndarray:
    """lat/lon degrees → packed int64 hex cell id at resolution."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    q, r = _axial_from_xy(lon, lat, edge_deg(res))
    qi, ri = _cube_round(q, r)
    return pack_cell(res, qi, ri)


def cell_center(cell) -> tuple[np.ndarray, np.ndarray]:
    """Packed cell → (lat, lon) of hex center."""
    res, q, r = unpack_cell(cell)
    sizes = np.array([edge_deg(int(rr)) for rr in np.atleast_1d(res)])
    x, y = _xy_from_axial(q, r, sizes if sizes.size > 1 else float(sizes[0]))
    return y, x


def kring_offsets(k: int) -> np.ndarray:
    """(q,r) axial offsets of the full k-ring disc (1 + 3k(k+1) cells)."""
    out = [(0, 0)]
    for ring in range(1, k + 1):
        q, r = ring, 0  # start east, walk the 6 ring edges
        dirs = [(-1, 1), (-1, 0), (0, -1), (1, -1), (1, 0), (0, 1)]
        for dq, dr in dirs:
            for _ in range(ring):
                out.append((q, r))
                q += dq
                r += dr
    return np.array(out, dtype=np.int64)


def kring_cells(cell, k: int = 1) -> np.ndarray:
    """All cells within k hex steps — shape (n, ring_size). The coarse
    expansion behind kNN (SURVEY.md §2.5 J5: explode(neighbors(cell))
    equi-join, then exact haversine refine)."""
    res, q, r = unpack_cell(cell)
    offs = kring_offsets(k)
    qq = q[:, None] + offs[None, :, 0]
    rr = r[:, None] + offs[None, :, 1]
    return pack_cell(res[:, None], qq, rr)

