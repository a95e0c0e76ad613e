"""True icosahedral H3 cell indexing (aperture-7 hexagonal DGGS).

Implemented from scratch against the PUBLIC H3 specification
(h3geo.org; Uber `h3` C library, Apache-2.0 — faceijk.c, coordijk.c,
h3Index.c, baseCells.c): gnomonic projection per icosahedron face,
class II/III aperture-7 grids, the 122 res-0 base cells (110 hexagons +
12 pentagons), pentagon deleted-K-subsequence handling, and the 64-bit
H3 index bit layout. No H3 library exists in this environment, so the
implementation is validated three ways (tests/test_h3core.py):

1. GEOMETRIC INVARIANTS that do not depend on any recalled table being
   right: the 20 face centers must form a perfect icosahedron (pairwise
   angular distances take exactly the 3 legal values); the 122 recalled
   base-cell homes must tile — every face's full res-0 coordinate patch
   must land exactly on one of the 122 home centers; pentagons must sit
   exactly on the 12 icosahedron vertices; geo→cell→geo round trips
   must re-index to the same cell at every resolution; k-ring must be
   symmetric; children must recombine to their parent.
2. PUBLISHED ANCHOR VECTORS from the H3 documentation quickstart
   (latLngToCell / cellToLatLng examples) checked bit-exactly.
3. A derivation cross-check: the per-face base-cell lookup and the
   face-neighbor orientation table are NOT recalled — they are DERIVED
   at import time from the face geometry + base-cell homes, and the
   derivation asserts that all 540 face/ijk positions resolve exactly
   onto the 122 homes (a wrong home entry fails the import loudly).

Replaces the round-1/2 planar "h3lite" deviation for the user-facing
H3 surface (SURVEY.md §2.9, §7 risk register). The planar lattice in
``hexgrid.py`` remains as an internal blocking grid only.

Reference-parity note: the reference repo has no H3 (this subsystem is
the north-star graft requirement, BASELINE.json north_rule).
"""

from __future__ import annotations

import math

import numpy as np

# ------------------------------------------------------------- constants

M_SQRT7 = math.sqrt(7.0)
M_SIN60 = math.sqrt(3.0) / 2.0
M_AP7_ROT_RADS = math.asin(math.sqrt(3.0 / 28.0))  # 0.333473172251832
RES0_U_GNOMONIC = 0.38196601125010500003
EPSILON = 1e-14
NUM_BASE_CELLS = 122

# digits
CENTER = 0
K_AXES = 1
J_AXES = 2
JK_AXES = 3
I_AXES = 4
IK_AXES = 5
IJ_AXES = 6

_UNIT_VECS = {
    CENTER: (0, 0, 0),
    K_AXES: (0, 0, 1),
    J_AXES: (0, 1, 0),
    JK_AXES: (0, 1, 1),
    I_AXES: (1, 0, 0),
    IK_AXES: (1, 0, 1),
    IJ_AXES: (1, 1, 0),
}
_DIGIT_FROM_UNIT = {v: k for k, v in _UNIT_VECS.items()}

# 60° digit rotations (coordijk.c _rotate60ccw/_rotate60cw cycles)
_ROT60CCW = {0: 0, K_AXES: IK_AXES, IK_AXES: I_AXES, I_AXES: IJ_AXES,
             IJ_AXES: J_AXES, J_AXES: JK_AXES, JK_AXES: K_AXES}
_ROT60CW = {v: k for k, v in _ROT60CCW.items()}

# ------------------------------------------------- published H3 tables
#
# faceCenterGeo: lat/lng (radians) of the 20 icosahedron face centers in
# H3's Dymaxion-derived orientation (faceijk.c). Validated by the
# perfect-icosahedron invariant at import (see _validate_icosahedron).
FACE_CENTER_GEO = np.array([
    [0.803582649718989942, 1.248397419617396099],
    [1.307747883455638156, 2.536945009877921159],
    [1.054751253523952054, -1.347517358900396623],
    [0.600191595538186799, -0.450603909469755746],
    [0.491715428198773866, 0.401988202911306943],
    [0.172745327415618701, 1.678146885280433686],
    [0.605929321571350690, 2.953923329812411617],
    [0.427370518328979641, -1.888876200336285401],
    [-0.079066118549212831, -0.733429513380867741],
    [-0.230961644455383637, 0.506495587332349035],
    [0.079066118549212831, 2.408163140208925497],
    [0.230961644455383637, -2.635097066257444203],
    [-0.172745327415618701, -1.463445768309359553],
    [-0.605929321571350690, -0.187669323777381622],
    [-0.427370518328979641, 1.252716453253569838],
    [-0.600191595538186799, 2.690988744120037492],
    [-0.491715428198773866, -2.739604450678486295],
    [-0.803582649718989942, -1.893195233972397139],
    [-1.307747883455638156, -0.604647643711872080],
    [-1.054751253523952054, 1.794075294689396615],
])

# faceAxesAzRadsCII[face][0] — azimuth of the class II i-axis from each
# face center (faceijk.c). The j/k axis azimuths are exactly az_i minus
# 120°/240° (hex symmetry), so only the i column is data.
FACE_AXES_AZ_I = np.array([
    5.619958268523939882, 5.760339081714187279, 0.780213654393430055,
    0.430469363979999913, 6.130269123335111400, 2.692877706530642877,
    2.982963003477243874, 3.532912002790141181, 3.494305004259568154,
    3.003214169499538391, 5.930472956509811562, 0.138378484090254847,
    0.448714947059150361, 0.158629650112549365, 5.891865957979238535,
    2.711123289609793325, 3.294508837434268316, 3.804819692245439833,
    3.664438879055192436, 2.361378999196363184,
])

# baseCellData (baseCells.c): per base cell — home face, home ijk (res-0
# coords), pentagon flag, and for pentagons the two clockwise-offset
# faces. Cross-validated at import: every face's full res-0 patch must
# resolve onto exactly these 122 homes (see _derive_face_lookup).
# (face, i, j, k, isPentagon, cwOffsetFace1, cwOffsetFace2)
BASE_CELL_DATA = [
    (1, 1, 0, 0, 0, -1, -1), (2, 1, 1, 0, 0, -1, -1), (1, 0, 0, 0, 0, -1, -1),
    (2, 1, 0, 0, 0, -1, -1), (0, 2, 0, 0, 1, -1, -1), (1, 1, 1, 0, 0, -1, -1),
    (1, 0, 0, 1, 0, -1, -1), (2, 0, 0, 0, 0, -1, -1), (0, 1, 0, 0, 0, -1, -1),
    (2, 0, 1, 0, 0, -1, -1), (1, 0, 1, 0, 0, -1, -1), (1, 0, 1, 1, 0, -1, -1),
    (3, 1, 0, 0, 0, -1, -1), (3, 1, 1, 0, 0, -1, -1), (11, 2, 0, 0, 1, 2, 6),
    (4, 1, 0, 0, 0, -1, -1), (0, 0, 0, 0, 0, -1, -1), (6, 0, 1, 0, 0, -1, -1),
    (0, 0, 0, 1, 0, -1, -1), (2, 0, 1, 1, 0, -1, -1), (7, 0, 0, 1, 0, -1, -1),
    (2, 0, 0, 1, 0, -1, -1), (0, 1, 1, 0, 0, -1, -1), (6, 0, 0, 1, 0, -1, -1),
    (10, 2, 0, 0, 1, 1, 5), (6, 0, 0, 0, 0, -1, -1), (3, 0, 0, 0, 0, -1, -1),
    (11, 1, 0, 0, 0, -1, -1), (4, 1, 1, 0, 0, -1, -1), (3, 0, 1, 0, 0, -1, -1),
    (0, 0, 1, 1, 0, -1, -1), (4, 0, 0, 0, 0, -1, -1), (5, 0, 1, 0, 0, -1, -1),
    (0, 0, 1, 0, 0, -1, -1), (7, 0, 1, 0, 0, -1, -1), (11, 1, 1, 0, 0, -1, -1),
    (7, 0, 0, 0, 0, -1, -1), (10, 1, 0, 0, 0, -1, -1), (12, 2, 0, 0, 1, 3, 7),
    (6, 1, 0, 1, 0, -1, -1), (7, 1, 0, 1, 0, -1, -1), (4, 0, 0, 1, 0, -1, -1),
    (3, 0, 0, 1, 0, -1, -1), (3, 0, 1, 1, 0, -1, -1), (4, 0, 1, 0, 0, -1, -1),
    (6, 1, 0, 0, 0, -1, -1), (11, 0, 0, 0, 0, -1, -1), (8, 0, 0, 1, 0, -1, -1),
    (5, 0, 0, 1, 0, -1, -1), (14, 2, 0, 0, 1, 0, 9), (5, 0, 0, 0, 0, -1, -1),
    (12, 1, 0, 0, 0, -1, -1), (10, 1, 1, 0, 0, -1, -1), (4, 0, 1, 1, 0, -1, -1),
    (12, 1, 1, 0, 0, -1, -1), (7, 1, 0, 0, 0, -1, -1), (11, 0, 1, 0, 0, -1, -1),
    (10, 0, 0, 0, 0, -1, -1), (13, 2, 0, 0, 1, 4, 8), (10, 0, 0, 1, 0, -1, -1),
    (11, 0, 0, 1, 0, -1, -1), (9, 0, 1, 0, 0, -1, -1), (8, 0, 1, 0, 0, -1, -1),
    (6, 2, 0, 0, 1, 11, 15), (8, 0, 0, 0, 0, -1, -1), (9, 0, 0, 1, 0, -1, -1),
    (14, 1, 0, 0, 0, -1, -1), (5, 1, 0, 1, 0, -1, -1), (16, 0, 1, 1, 0, -1, -1),
    (8, 1, 0, 1, 0, -1, -1), (5, 1, 0, 0, 0, -1, -1), (12, 0, 0, 0, 0, -1, -1),
    (7, 2, 0, 0, 1, 12, 16), (12, 0, 1, 0, 0, -1, -1), (10, 0, 1, 0, 0, -1, -1),
    (9, 0, 0, 0, 0, -1, -1), (13, 1, 0, 0, 0, -1, -1), (16, 0, 0, 1, 0, -1, -1),
    (15, 0, 1, 1, 0, -1, -1), (15, 0, 1, 0, 0, -1, -1), (16, 0, 1, 0, 0, -1, -1),
    (14, 1, 1, 0, 0, -1, -1), (13, 1, 1, 0, 0, -1, -1), (5, 2, 0, 0, 1, 10, 19),
    (8, 1, 0, 0, 0, -1, -1), (14, 0, 0, 0, 0, -1, -1), (9, 1, 0, 1, 0, -1, -1),
    (14, 0, 0, 1, 0, -1, -1), (17, 0, 0, 1, 0, -1, -1), (12, 0, 0, 1, 0, -1, -1),
    (16, 0, 0, 0, 0, -1, -1), (17, 0, 1, 1, 0, -1, -1), (15, 0, 0, 1, 0, -1, -1),
    (16, 1, 0, 1, 0, -1, -1), (9, 1, 0, 0, 0, -1, -1), (15, 0, 0, 0, 0, -1, -1),
    (13, 0, 0, 0, 0, -1, -1), (8, 2, 0, 0, 1, 13, 17), (13, 0, 1, 0, 0, -1, -1),
    (17, 1, 0, 1, 0, -1, -1), (19, 0, 1, 0, 0, -1, -1), (14, 0, 1, 0, 0, -1, -1),
    (19, 0, 1, 1, 0, -1, -1), (17, 0, 1, 0, 0, -1, -1), (13, 0, 0, 1, 0, -1, -1),
    (17, 0, 0, 0, 0, -1, -1), (16, 1, 0, 0, 0, -1, -1), (9, 2, 0, 0, 1, 14, 18),
    (15, 1, 0, 1, 0, -1, -1), (15, 1, 0, 0, 0, -1, -1), (18, 0, 1, 1, 0, -1, -1),
    (18, 0, 0, 1, 0, -1, -1), (19, 0, 0, 1, 0, -1, -1), (17, 1, 0, 0, 0, -1, -1),
    (19, 0, 0, 0, 0, -1, -1), (18, 0, 1, 0, 0, -1, -1), (18, 1, 0, 1, 0, -1, -1),
    (19, 2, 0, 0, 1, -1, -1), (19, 1, 0, 0, 0, -1, -1), (18, 0, 0, 0, 0, -1, -1),
    (19, 1, 0, 1, 0, -1, -1), (18, 1, 0, 0, 0, -1, -1),
]

PENTAGON_BASE_CELLS = frozenset(
    i for i, d in enumerate(BASE_CELL_DATA) if d[4]
)


def _posangle(a: float) -> float:
    tau = 2.0 * math.pi
    a = a % tau
    return a + tau if a < 0 else a


# ----------------------------------------------------------- geo helpers


def _geo_to_xyz(lat, lng):
    clat = np.cos(lat)
    return np.stack([clat * np.cos(lng), clat * np.sin(lng), np.sin(lat)], axis=-1)


def _geo_azimuth(lat1, lng1, lat2, lng2):
    return np.arctan2(
        np.cos(lat2) * np.sin(lng2 - lng1),
        np.cos(lat1) * np.sin(lat2)
        - np.sin(lat1) * np.cos(lat2) * np.cos(lng2 - lng1),
    )


def _geo_az_distance(lat1, lng1, az, dist):
    """Point at (azimuth, angular distance) from (lat1, lng1) — scalar."""
    if dist < EPSILON:
        return lat1, lng1
    az = _posangle(az)
    if az < EPSILON or abs(az - math.pi) < EPSILON:  # due north/south
        lat2 = lat1 + dist if az < EPSILON else lat1 - dist
        if abs(lat2 - math.pi / 2) < EPSILON:  # north pole
            return math.pi / 2, 0.0
        if abs(lat2 + math.pi / 2) < EPSILON:  # south pole
            return -math.pi / 2, 0.0
        return lat2, lng1
    sinlat2 = math.sin(lat1) * math.cos(dist) + math.cos(lat1) * math.sin(
        dist
    ) * math.cos(az)
    sinlat2 = min(1.0, max(-1.0, sinlat2))
    lat2 = math.asin(sinlat2)
    if abs(lat2 - math.pi / 2) < EPSILON:
        return math.pi / 2, 0.0
    if abs(lat2 + math.pi / 2) < EPSILON:
        return -math.pi / 2, 0.0
    sinlng = math.sin(az) * math.sin(dist) / max(math.cos(lat2), EPSILON)
    coslng = (math.cos(dist) - math.sin(lat1) * sinlat2) / max(
        math.cos(lat1) * math.cos(lat2), EPSILON
    )
    lng2 = lng1 + math.atan2(sinlng, min(1.0, max(-1.0, coslng)))
    # constrain to (-pi, pi]
    while lng2 > math.pi:
        lng2 -= 2 * math.pi
    while lng2 < -math.pi:
        lng2 += 2 * math.pi
    return lat2, lng2


# ------------------------------------------------------------- IJK math


def _ijk_normalize(i, j, k):
    if i < 0:
        j -= i
        k -= i
        i = 0
    if j < 0:
        i -= j
        k -= j
        j = 0
    if k < 0:
        i -= k
        j -= k
        k = 0
    m = min(i, j, k)
    return i - m, j - m, k - m


def _ijk_rotate60ccw(i, j, k):
    # i→IJ(1,1,0), j→JK(0,1,1), k→IK(1,0,1)
    return _ijk_normalize(i + k, i + j, j + k)


def _up_ap7(i, j, k):
    di, dj = i - k, j - k
    return _ijk_normalize(
        int(round((3 * di - dj) / 7.0)), int(round((di + 2 * dj) / 7.0)), 0
    )


def _up_ap7r(i, j, k):
    di, dj = i - k, j - k
    return _ijk_normalize(
        int(round((2 * di + dj) / 7.0)), int(round((3 * dj - di) / 7.0)), 0
    )


def _down_ap7(i, j, k):
    # i→(3,0,1) j→(1,3,0) k→(0,1,3)
    return _ijk_normalize(3 * i + j, 3 * j + k, i + 3 * k)


def _down_ap7r(i, j, k):
    # i→(3,1,0) j→(0,3,1) k→(1,0,3)
    return _ijk_normalize(3 * i + k, i + 3 * j, j + 3 * k)


def _neighbor(i, j, k, digit):
    u = _UNIT_VECS[digit]
    return _ijk_normalize(i + u[0], j + u[1], k + u[2])


def _ijk_to_hex2d(i, j, k):
    di, dj = i - k, j - k
    return di - 0.5 * dj, dj * M_SIN60


def _hex2d_to_ijk(x, y):
    """Vec2d → nearest hex center in IJK (coordijk.c _hex2dToCoordIJK)."""
    a1, a2 = abs(x), abs(y)
    x2 = a2 / M_SIN60
    x1 = a1 + x2 / 2.0
    m1, m2 = int(x1), int(x2)
    r1, r2 = x1 - m1, x2 - m2
    if r1 < 0.5:
        if r1 < 1.0 / 3.0:
            i = m1
            j = m2 if r2 < (1.0 + r1) / 2.0 else m2 + 1
        else:
            j = m2 if r2 < (1.0 - r1) else m2 + 1
            i = m1 + 1 if (1.0 - r1) <= r2 < (2.0 * r1) else m1
    else:
        if r1 < 2.0 / 3.0:
            j = m2 if r2 < (1.0 - r1) else m2 + 1
            i = m1 if (2.0 * r1 - 1.0) < r2 < (1.0 - r1) else m1 + 1
        else:
            i = m1 + 1
            j = m2 if r2 < (r1 / 2.0) else m2 + 1
    # fold back the taken absolute values
    if x < 0.0:
        if j % 2 == 0:  # even j
            axisi = j // 2
            diff = i - axisi
            i = i - 2 * diff
        else:
            axisi = (j + 1) // 2
            diff = i - axisi
            i = i - (2 * diff + 1)
    if y < 0.0:
        i = i - (2 * j + 1) // 2
        j = -j
    return _ijk_normalize(i, j, 0)


# ---------------------------------------------------- face projections

_FACE_XYZ = _geo_to_xyz(FACE_CENTER_GEO[:, 0], FACE_CENTER_GEO[:, 1])


def _is_class_iii(res: int) -> bool:
    return res % 2 == 1


def _geo_to_hex2d(lat: float, lng: float, res: int):
    """scalar (lat,lng) radians → (face, x, y) in that face's res grid."""
    xyz = _geo_to_xyz(np.float64(lat), np.float64(lng))
    dots = _FACE_XYZ @ xyz
    face = int(np.argmax(dots))
    r = math.acos(min(1.0, max(-1.0, float(dots[face]))))
    if r < EPSILON:
        return face, 0.0, 0.0
    az = _geo_azimuth(
        FACE_CENTER_GEO[face, 0], FACE_CENTER_GEO[face, 1], lat, lng
    )
    theta = _posangle(FACE_AXES_AZ_I[face] - _posangle(float(az)))
    if _is_class_iii(res):
        theta = _posangle(theta - M_AP7_ROT_RADS)
    rr = math.tan(r) / RES0_U_GNOMONIC
    for _ in range(res):
        rr *= M_SQRT7
    return face, rr * math.cos(theta), rr * math.sin(theta)


def _hex2d_to_geo(x: float, y: float, face: int, res: int, substrate: bool = False):
    """Inverse gnomonic: face-grid vec2d → (lat, lng) radians — scalar."""
    r = math.hypot(x, y)
    if r < EPSILON:
        return float(FACE_CENTER_GEO[face, 0]), float(FACE_CENTER_GEO[face, 1])
    theta = math.atan2(y, x)
    for _ in range(res):
        r /= M_SQRT7
    if substrate:
        r /= 3.0
        if _is_class_iii(res):
            r /= M_SQRT7
    r = math.atan(r * RES0_U_GNOMONIC)
    if not substrate and _is_class_iii(res):
        theta = _posangle(theta + M_AP7_ROT_RADS)
    theta = _posangle(FACE_AXES_AZ_I[face] - theta)
    return _geo_az_distance(
        float(FACE_CENTER_GEO[face, 0]), float(FACE_CENTER_GEO[face, 1]), theta, r
    )


def _face_ijk_to_geo(face: int, i: int, j: int, k: int, res: int):
    x, y = _ijk_to_hex2d(i, j, k)
    return _hex2d_to_geo(x, y, face, res)


# ------------------------------------- derived tables (import-time)
#
# _FACE_LOOKUP[face][(i,j,k)] = (base_cell, ccw_rot60): which base cell
# owns res-0 position (i,j,k) of each face's coordinate patch, and how
# many 60° ccw rotations that face's frame is from the cell's home
# frame. DERIVED from FACE_CENTER_GEO + BASE_CELL_DATA geometry (not
# recalled), asserting every position resolves exactly onto a home.


def derive_face_lookup():
    """Derive the per-face res-0 base-cell lookup — (face, i, j, k) →
    (base_cell, ccw_rot60) for every normalized ijk with coords ≤ 2 —
    from FACE_CENTER_GEO + BASE_CELL_DATA geometry.

    Base cell: geometric nearest home center (exact coincidence for
    in-patch positions; for overage positions, within a loose fraction
    of a cell — then confirmed by digit matching). Rotation, hexagon
    entries: the unique r ∈ 0..5 making the assembled fine-res index of
    sample points around the true cell center equal the canonical index
    computed via the cell's HOME face (home rotation is 0 by
    definition) — valid because away from the 12 vertices adjacent
    faces' grids align exactly (no angular defect). Rotation, pentagon
    entries: the home-side trick is invalid (the 60°-per-vertex defect
    concentrates at pentagons), so rotations are CHAINED around each
    vertex — for consecutive faces around the vertex, point pairs
    straddling their shared icosahedron edge (same true cell, one
    sample per side) must index identically; each face's rotation is
    the unique value consistent with its already-derived neighbor.
    A wrong recalled home or cwOffsetPent entry leaves no consistent
    rotation and fails loudly."""
    homes = []
    for bc, (f, i, j, k, _pent, _c1, _c2) in enumerate(BASE_CELL_DATA):
        lat, lng = _face_ijk_to_geo(f, i, j, k, 0)
        homes.append(np.asarray(_geo_to_xyz(np.float64(lat), np.float64(lng))))
    home_xyz = np.stack(homes)

    RES = 4
    lookup = {}
    pent_positions = {}  # bc → {face: ijk}
    for face in range(20):
        for i in range(3):
            for j in range(3):
                for k in range(3):
                    ni, nj, nk = _ijk_normalize(i, j, k)
                    if max(ni, nj, nk) > 2:
                        continue
                    if (face, ni, nj, nk) in lookup:
                        continue
                    lat, lng = _face_ijk_to_geo(face, ni, nj, nk, 0)
                    xyz = np.asarray(_geo_to_xyz(np.float64(lat), np.float64(lng)))
                    d = np.linalg.norm(home_xyz - xyz, axis=1)
                    bc = int(np.argmin(d))
                    in_patch = ni + nj + nk <= 2
                    if d[bc] > (1e-9 if in_patch else 0.15):
                        raise AssertionError(
                            f"res-0 tiling broken: face {face} ijk "
                            f"({ni},{nj},{nk}) matches no base-cell home "
                            f"(nearest {bc} at {d[bc]:.2e})"
                        )
                    hf, hi, hj, hk = BASE_CELL_DATA[bc][:4]
                    if bc in PENTAGON_BASE_CELLS:
                        pent_positions.setdefault(bc, {})[face] = (ni, nj, nk)
                        if face == hf:
                            lookup[(face, ni, nj, nk)] = (bc, 0)
                        continue
                    if face == hf:
                        lookup[(face, ni, nj, nk)] = (bc, 0)
                        continue
                    # hexagon: the frame rotation is the exact integer
                    # composition of edge maps along the (unique up to
                    # coords check) path from this face to the home face
                    rot = _rot_via_edge_maps(
                        face, (ni, nj, nk), hf, (hi, hj, hk)
                    )
                    lookup[(face, ni, nj, nk)] = (bc, rot)
    _derive_pentagon_rotations_chained(lookup, pent_positions, RES)
    found = {bc for bc, _ in lookup.values()}
    if found != set(range(NUM_BASE_CELLS)):
        raise AssertionError(
            f"face patches cover {len(found)} base cells, expected 122"
        )
    return lookup


def _anchored_ijk(lat, lng, face, res, want_anchor):
    """Forced projection of a point onto ``face`` at ``res``; returns
    the fine ijk if its res-0 anchor equals ``want_anchor``, else None."""
    x, y = _project_onto_face(lat, lng, face, res)
    fi, fj, fk = _hex2d_to_ijk(x, y)
    ai, aj, ak = fi, fj, fk
    for rl in range(res - 1, -1, -1):
        if _is_class_iii(rl + 1):
            ai, aj, ak = _up_ap7(ai, aj, ak)
        else:
            ai, aj, ak = _up_ap7r(ai, aj, ak)
    if (ai, aj, ak) != tuple(want_anchor):
        return None
    return fi, fj, fk


def _rot_axial(a, times):
    """Rotate an axial (i-k, j-k) lattice vector ccw by 60° ``times``
    times — rotate60ccw is linear: (a1, a2) → (a1 - a2, a1)."""
    a1, a2 = a
    for _ in range(times % 6):
        a1, a2 = a1 - a2, a1
    return a1, a2


def _rot_via_edge_maps(face, pos, hf, home_pos):
    """Exact integer frame rotation face → hf for a res-0 position:
    BFS over the derived edge maps (affine lattice isomorphisms),
    accepting a path iff it carries ``pos`` exactly onto ``home_pos``.
    Hexagon positions are never vertex-fixed, so the coords check
    disambiguates paths around a vertex; ambiguity fails loudly."""
    from collections import deque

    a0 = (pos[0] - pos[2], pos[1] - pos[2])
    target = (home_pos[0] - home_pos[2], home_pos[1] - home_pos[2])
    found = set()
    # state: map a ↦ R^rot(a) + t in frame f
    seen = set()
    q = deque([(face, 0, (0, 0), 0)])
    while q:
        f, rot, t, depth = q.popleft()
        if f == hf:
            m1 = _rot_axial(a0, rot)
            if (m1[0] + t[0], m1[1] + t[1]) == target:
                found.add(rot % 6)
        if depth == 3:
            continue
        for quad in ("ij", "ki", "jk"):
            nf, erot, et1, et2 = _FACE_NEIGHBORS[(f, quad)]
            rt = _rot_axial(t, erot)
            state = (nf, (rot + erot) % 6, (rt[0] + et1, rt[1] + et2), depth + 1)
            key = state[:3]
            if key not in seen:
                seen.add(key)
                q.append(state)
    if len(found) != 1:
        raise AssertionError(
            f"edge-map rotation for face {face} pos {pos} → home {hf} "
            f"{home_pos}: candidates {sorted(found)}"
        )
    return found.pop()


def _derive_pentagon_rotations_chained(lookup, pent_positions, res):
    res = 6  # fine cells → straddling pairs carry non-zero trailing digits
    """Chain pentagon-position rotations around each vertex: adjacent
    faces' grids align exactly across their shared edge, so point PAIRS
    straddling the edge (one sample per side, same true cell) must index
    identically; each face's rotation follows from its already-known
    neighbor, starting at the home face (rotation 0)."""
    for bc, fmap in pent_positions.items():
        hf = BASE_CELL_DATA[bc][0]
        vlat, vlng = _face_ijk_to_geo(hf, *BASE_CELL_DATA[bc][1:4], 0)
        v_xyz = np.asarray(_geo_to_xyz(np.float64(vlat), np.float64(vlng)))
        ring = sorted(fmap.keys())
        if len(ring) != 5:
            raise AssertionError(
                f"pentagon bc {bc}: found {len(ring)} surrounding faces"
            )
        # order the 5 faces by azimuth around the vertex
        az = {}
        for f in ring:
            az[f] = float(
                _geo_azimuth(vlat, vlng, FACE_CENTER_GEO[f, 0], FACE_CENTER_GEO[f, 1])
            )
        ring = sorted(ring, key=lambda f: az[f])
        start = ring.index(hf)
        known = {hf: 0}
        order = [ring[(start + s) % 5] for s in range(5)]
        for idx in range(1, 5):
            fb = order[idx]
            fa = order[idx - 1]  # already known (chain)
            rot_a = known[fa]
            # shared edge of fa, fb: from the vertex toward the OTHER
            # common vertex of the two faces
            v2 = None
            for pbc in PENTAGON_BASE_CELLS:
                w = BASE_CELL_DATA[pbc]
                wlat, wlng = _face_ijk_to_geo(w[0], w[1], w[2], w[3], 0)
                w_xyz = np.asarray(_geo_to_xyz(np.float64(wlat), np.float64(wlng)))
                if np.dot(w_xyz, v_xyz) > 0.999:
                    continue  # the vertex itself
                da = np.dot(w_xyz, np.asarray(_geo_to_xyz(*FACE_CENTER_GEO[fa])))
                db = np.dot(w_xyz, np.asarray(_geo_to_xyz(*FACE_CENTER_GEO[fb])))
                if da > 0.5 and db > 0.5:  # vertex↔face-center cos≈0.795
                    v2 = w_xyz
                    break
            if v2 is None:
                raise AssertionError(
                    f"pentagon bc {bc}: no shared second vertex for faces "
                    f"{fa},{fb}"
                )
            candidates = set(range(6))
            n_used = 0
            for t in np.linspace(0.05, 0.72, 23):
                p = (1 - t) * v_xyz + t * v2  # chord point near the edge
                p = p / np.linalg.norm(p)
                plat = math.asin(p[2])
                plng = math.atan2(p[1], p[0])
                # offset toward each face center (stay in the same cell)
                for eps in (2e-7, 2e-6):
                    got_all = None
                    for (f_to, f_other) in ((fa, fb), (fb, fa)):
                        pass
                    ca = np.asarray(_geo_to_xyz(*FACE_CENTER_GEO[fa]))
                    cb = np.asarray(_geo_to_xyz(*FACE_CENTER_GEO[fb]))
                    pa = p + eps * (ca - p)
                    pa = pa / np.linalg.norm(pa)
                    pb = p + eps * (cb - p)
                    pb = pb / np.linalg.norm(pb)
                    la_a, lo_a = math.asin(pa[2]), math.atan2(pa[1], pa[0])
                    la_b, lo_b = math.asin(pb[2]), math.atan2(pb[1], pb[0])
                    xa = np.asarray(_geo_to_xyz(np.float64(la_a), np.float64(lo_a)))
                    xb = np.asarray(_geo_to_xyz(np.float64(la_b), np.float64(lo_b)))
                    if int(np.argmax(_FACE_XYZ @ xa)) != fa:
                        continue
                    if int(np.argmax(_FACE_XYZ @ xb)) != fb:
                        continue
                    ija = _anchored_ijk(la_a, lo_a, fa, res, fmap[fa])
                    ijb = _anchored_ijk(la_b, lo_b, fb, res, fmap[fb])
                    if ija is None or ijb is None:
                        continue
                    canonical = _assemble_h3(fa, *ija, res, None, (bc, rot_a))
                    if canonical == 0:
                        continue
                    still = {
                        r for r in candidates
                        if _assemble_h3(fb, *ijb, res, None, (bc, r)) == canonical
                    }
                    if still:
                        candidates = still
                        n_used += 1
            # 5 pentagon-ccw rotations are the identity (the deleted-K
            # adjust fires exactly once per 5-cycle, totalling 6 plain
            # rotations of every digit) — so {0,5} is ONE equivalence
            # class; canonicalize to 0
            if candidates == {0, 5}:
                candidates = {0}
            if len(candidates) != 1 or n_used < 3:
                raise AssertionError(
                    f"pentagon rotation underdetermined: bc {bc} face {fb} "
                    f"candidates {candidates} from {n_used} samples"
                )
            known[fb] = candidates.pop()
            lookup[(fb,) + fmap[fb]] = (bc, known[fb])


def _project_onto_face(lat, lng, face, res):
    """Gnomonic projection of a point onto a SPECIFIC face's res grid
    (no argmax face selection) → (x, y)."""
    xyz = np.asarray(_geo_to_xyz(np.float64(lat), np.float64(lng)))
    dot = float(np.clip(_FACE_XYZ[face] @ xyz, -1.0, 1.0))
    r = math.acos(dot)
    if r < EPSILON:
        return 0.0, 0.0
    az = _geo_azimuth(FACE_CENTER_GEO[face, 0], FACE_CENTER_GEO[face, 1], lat, lng)
    theta = _posangle(FACE_AXES_AZ_I[face] - _posangle(float(az)))
    if _is_class_iii(res):
        theta = _posangle(theta - M_AP7_ROT_RADS)
    rr = math.tan(r) / RES0_U_GNOMONIC * (M_SQRT7 ** res)
    return rr * math.cos(theta), rr * math.sin(theta)


def _assemble_h3(face, i, j, k, res, lookup, bc_rot=None):
    """Digit extraction + base-cell resolution + pentagon adjustments —
    the body of faceijk.c _faceIjkToH3, parameterized so table
    derivation can probe candidate rotations."""
    if res == 0:
        if max(i, j, k) > 2:
            return 0
        bc, _rot = bc_rot if bc_rot is not None else lookup[(face, i, j, k)]
        return _h3_make(0, bc, [])
    digits = [0] * res
    ci, cj, ck = i, j, k
    for r in range(res - 1, -1, -1):
        li, lj, lk = ci, cj, ck
        if _is_class_iii(r + 1):
            ci, cj, ck = _up_ap7(ci, cj, ck)
            di, dj, dk = _down_ap7(ci, cj, ck)
        else:
            ci, cj, ck = _up_ap7r(ci, cj, ck)
            di, dj, dk = _down_ap7r(ci, cj, ck)
        ui, uj, uk = _ijk_normalize(li - di, lj - dj, lk - dk)
        digits[r] = _DIGIT_FROM_UNIT[(ui, uj, uk)]
    if max(ci, cj, ck) > 2:
        return 0
    if bc_rot is not None:
        bc, rots = bc_rot
    else:
        bc, rots = lookup[(face, ci, cj, ck)]
    h = _h3_make(res, bc, digits)
    if bc in PENTAGON_BASE_CELLS:
        if _h3_leading_nonzero(h) == K_AXES:
            if _bc_is_cw_offset(bc, face):
                h = _h3_rotate60(h, _ROT60CW)
            else:
                h = _h3_rotate60(h, _ROT60CCW)
        for _ in range(rots):
            h = _h3_rotate_pent60ccw(h)
    else:
        for _ in range(rots):
            h = _h3_rotate60(h, _ROT60CCW)
    return h


# (derivation is invoked after the H3 bit helpers below are defined)


def _derive_face_neighbors():
    """faceNeighbors equivalent (faceijk.c): for each face, the adjacent
    face across the IJ / KI / JK quadrants plus the coordinate-frame
    change (ccw 60° rotations + a translation unit vector that scales
    with 7^(res/2)). DERIVED by solving the integer frame map at a
    mid-edge overage position of the class II res-2 grid (well away
    from the pentagon vertices where frames meet at 72°), then verified
    exact on several other overage positions."""
    def rot_axial(a1, a2, times):
        # rotate60ccw is linear on the unnormalized lattice:
        # (i,j,k)→(i+k, i+j, j+k); in axial (i-k, j-k): (a1,a2)→(a1-a2, a1)
        for _ in range(times):
            a1, a2 = a1 - a2, a1
        return a1, a2

    def derive_at(dres):
        """Solve the integer frame map at class II res ``dres`` from
        ON-EDGE lattice points — the only positions where two faces'
        grids coincide geometrically (cell centers on the shared edge
        arc are exact fixed points of the edge reflection symmetry)."""
        scale = _unit_scale(dres)
        max_dim = _max_dim(dres)
        a, b = (3 * max_dim) // 7, (4 * max_dim) // 7  # mid-edge offsets
        edge_pts = {
            "ij": [(max_dim - a, a, 0), (max_dim - b, b, 0), (max_dim // 2, max_dim - max_dim // 2, 0)],
            "ki": [(max_dim - a, 0, a), (max_dim - b, 0, b), (max_dim // 2, 0, max_dim - max_dim // 2)],
            "jk": [(0, max_dim - a, a), (0, max_dim - b, b), (0, max_dim // 2, max_dim - max_dim // 2)],
        }
        # a point just beyond the edge identifies the neighboring face
        beyond = {
            "ij": (max_dim - a + 1, a, 0),
            "ki": (max_dim - a + 1, 0, a),
            "jk": (0, max_dim - a + 1, a),
        }

        def forced_ijk(lat, lng, f):
            x, y = _project_onto_face(lat, lng, f, dres)
            return _hex2d_to_ijk(x, y)

        res_map = {}
        for face in range(20):
            for qname, pts in edge_pts.items():
                blat, blng = _face_ijk_to_geo(face, *beyond[qname], dres)
                xyz = np.asarray(_geo_to_xyz(np.float64(blat), np.float64(blng)))
                order = np.argsort(-(_FACE_XYZ @ xyz))
                nf = int(order[0]) if int(order[0]) != face else int(order[1])
                # map each on-edge lattice point into nf's frame
                src_ax, dst_ax = [], []
                for (pi, pj, pk) in pts:
                    lat, lng = _face_ijk_to_geo(face, pi, pj, pk, dres)
                    # exactness guard: centers on the edge must coincide
                    ni, nj, nk = forced_ijk(lat, lng, nf)
                    nlat, nlng = _face_ijk_to_geo(nf, ni, nj, nk, dres)
                    if abs(nlat - lat) + abs(nlng - lng) > 1e-9:
                        raise AssertionError(
                            f"face {face} quad {qname}: edge point "
                            f"({pi},{pj},{pk}) not shared with face {nf}"
                        )
                    src_ax.append((pi - pk, pj - pk))
                    dst_ax.append((ni - nk, nj - nk))
                d_src = (src_ax[1][0] - src_ax[0][0], src_ax[1][1] - src_ax[0][1])
                d_dst = (dst_ax[1][0] - dst_ax[0][0], dst_ax[1][1] - dst_ax[0][1])
                rot = next(
                    (r for r in range(6) if rot_axial(*d_src, r) == d_dst), None
                )
                if rot is None:
                    raise AssertionError(
                        f"face {face} quad {qname}: no 60° rotation maps "
                        f"edge direction {d_src} to {d_dst}"
                    )
                r1 = rot_axial(*src_ax[0], rot)
                ti, tj = dst_ax[0][0] - r1[0], dst_ax[0][1] - r1[1]
                if ti % scale or tj % scale:
                    raise AssertionError(
                        f"face {face} quad {qname}: translate {ti},{tj} "
                        f"not a multiple of unit scale {scale}"
                    )
                # verify on the third edge point
                r3 = rot_axial(*src_ax[2], rot)
                if (r3[0] + ti, r3[1] + tj) != dst_ax[2]:
                    raise AssertionError(
                        f"face {face} quad {qname}: frame map failed "
                        f"third-point verification"
                    )
                res_map[(face, qname)] = (nf, rot, ti // scale, tj // scale)
        return res_map

    out = derive_at(2)
    # consistency: the unit map must be res-independent
    if derive_at(4) != out:
        raise AssertionError("face frame maps differ between res 2 and 4")
    return out


def _max_dim(res: int) -> int:
    """maxDimByCIIres for class II res."""
    return 2 * 7 ** (res // 2)


def _unit_scale(res: int) -> int:
    return 7 ** (res // 2)


_FACE_NEIGHBORS = _derive_face_neighbors()


def _adjust_overage_class_ii(face, i, j, k, res, pent_leading_4):
    """faceijk.c _adjustOverageClassII (substrate=False): if (i,j,k) has
    overflowed ``face``'s patch at class II ``res``, move to the
    neighboring face's coordinate frame. Returns
    (overage, face, i, j, k)."""
    max_dim = _max_dim(res)
    if i + j + k <= max_dim:
        return False, face, i, j, k
    if k > 0:
        if j > 0:
            quad = "jk"
        else:
            quad = "ki"
            if pent_leading_4:
                # translate origin to the pentagon vertex, rotate cw 60°
                i, j, k = i - max_dim, j, k
                i, j, k = (i + j, j + k, i + k)  # rotate60cw unnormalized
                i, j, k = i + max_dim, j, k
    else:
        quad = "ij"
    nf, rot, ti, tj = _FACE_NEIGHBORS[(face, quad)]
    for _ in range(rot):
        i, j, k = _ijk_rotate60ccw(i, j, k)
    scale = _unit_scale(res)
    ai, aj = (i - k) + ti * scale, (j - k) + tj * scale
    i, j, k = _ijk_normalize(ai, aj, 0)
    return True, nf, i, j, k


# ------------------------------------------------------- H3 index bits


def _h3_make(res: int, base_cell: int, digits) -> int:
    h = 0x0800000000000000  # mode 1 (cell)
    h |= res << 52
    h |= base_cell << 45
    v = 0
    for r in range(1, 16):
        d = digits[r - 1] if r <= res else 7
        v |= d << (3 * (15 - r))
    return h | v


def _h3_res(h: int) -> int:
    return (h >> 52) & 0xF


def _h3_base_cell(h: int) -> int:
    return (h >> 45) & 0x7F


def _h3_digit(h: int, r: int) -> int:
    return (h >> (3 * (15 - r))) & 0x7


def _h3_set_digit(h: int, r: int, d: int) -> int:
    shift = 3 * (15 - r)
    return (h & ~(0x7 << shift)) | (d << shift)


def _h3_leading_nonzero(h: int) -> int:
    for r in range(1, _h3_res(h) + 1):
        d = _h3_digit(h, r)
        if d:
            return d
    return 0


def _h3_rotate60(h: int, table) -> int:
    for r in range(1, _h3_res(h) + 1):
        h = _h3_set_digit(h, r, table[_h3_digit(h, r)])
    return h


def _h3_rotate_pent60ccw(h: int) -> int:
    found = False
    for r in range(1, _h3_res(h) + 1):
        d = _ROT60CCW[_h3_digit(h, r)]
        h = _h3_set_digit(h, r, d)
        if not found and d != 0:
            found = True
            if _h3_leading_nonzero(h) == K_AXES:
                h = _h3_rotate60(h, _ROT60CCW)
    return h


def _bc_is_cw_offset(bc: int, face: int) -> bool:
    d = BASE_CELL_DATA[bc]
    return d[5] == face or d[6] == face


# run the import-time derivations now that all helpers exist
_FACE_LOOKUP = derive_face_lookup()


# ----------------------------------------------------- core conversions


def _face_ijk_to_h3(face: int, i: int, j: int, k: int, res: int) -> int:
    """faceijk.c _faceIjkToH3 (scalar)."""
    return _assemble_h3(face, i, j, k, res, _FACE_LOOKUP)


def latlng_to_cell(lat_deg: float, lng_deg: float, res: int) -> int:
    """geo → H3 cell index (scalar reference path)."""
    lat, lng = math.radians(lat_deg), math.radians(lng_deg)
    face, x, y = _geo_to_hex2d(lat, lng, res)
    i, j, k = _hex2d_to_ijk(x, y)
    return _face_ijk_to_h3(face, i, j, k, res)


def _h3_to_face_ijk(h: int):
    """h3Index.c _h3ToFaceIjk (scalar): cell → canonical (face, ijk)."""
    bc = _h3_base_cell(h)
    res = _h3_res(h)
    if bc in PENTAGON_BASE_CELLS and _h3_leading_nonzero(h) == IK_AXES:
        h = _h3_rotate60(h, _ROT60CW)
    face, i, j, k = BASE_CELL_DATA[bc][:4]
    possible_overage = True
    if bc not in PENTAGON_BASE_CELLS and (
        res == 0 or (i == 0 and j == 0 and k == 0)
    ):
        possible_overage = False
    for r in range(1, res + 1):
        if _is_class_iii(r):
            i, j, k = _down_ap7(i, j, k)
        else:
            i, j, k = _down_ap7r(i, j, k)
        i, j, k = _neighbor(i, j, k, _h3_digit(h, r))
    if not possible_overage:
        return face, i, j, k, res, False
    oi, oj, ok = i, j, k
    adj_res = res
    if _is_class_iii(res):
        i, j, k = _down_ap7r(i, j, k)
        adj_res += 1
    pent_leading_4 = (
        bc in PENTAGON_BASE_CELLS and _h3_leading_nonzero(h) == I_AXES
    )
    over, face2, i2, j2, k2 = _adjust_overage_class_ii(
        face, i, j, k, adj_res, pent_leading_4
    )
    if over:
        face, i, j, k = face2, i2, j2, k2
        if bc in PENTAGON_BASE_CELLS:
            while True:
                over, face, i, j, k = _adjust_overage_class_ii(
                    face, i, j, k, adj_res, False
                )
                if not over:
                    break
        if adj_res != res:
            i, j, k = _up_ap7r(i, j, k)
    elif adj_res != res:
        i, j, k = oi, oj, ok
    return face, i, j, k, res, over


def cell_to_latlng(h: int) -> tuple[float, float]:
    """H3 cell → center (lat, lng) degrees (scalar reference path)."""
    face, i, j, k, res, _ = _h3_to_face_ijk(h)
    lat, lng = _face_ijk_to_geo(face, i, j, k, res)
    return math.degrees(lat), math.degrees(lng)


def get_resolution(h: int) -> int:
    return _h3_res(h)


def is_pentagon(h: int) -> bool:
    return _h3_base_cell(h) in PENTAGON_BASE_CELLS and _h3_leading_nonzero(h) == 0


def is_valid_cell(h: int) -> bool:
    if h >> 63 or ((h >> 59) & 0xF) != 1:
        return False
    if _h3_base_cell(h) >= NUM_BASE_CELLS:
        return False
    res = _h3_res(h)
    for r in range(1, res + 1):
        if _h3_digit(h, r) == 7:
            return False
    for r in range(res + 1, 16):
        if _h3_digit(h, r) != 7:
            return False
    return True


# ----------------------------------------------------- hierarchy


def cell_to_parent(h: int, parent_res: int) -> int:
    res = _h3_res(h)
    if parent_res > res or parent_res < 0:
        raise ValueError("parent_res must be ≤ cell res")
    out = (h & ~(0xF << 52)) | (parent_res << 52)
    for r in range(parent_res + 1, 16):
        out = _h3_set_digit(out, r, 7)
    return out


def cell_to_children(h: int, child_res: int) -> list[int]:
    res = _h3_res(h)
    if child_res < res:
        raise ValueError("child_res must be ≥ cell res")
    if child_res == res:
        return [h]
    out = []
    base = (h & ~(0xF << 52)) | (child_res << 52)
    pent = is_pentagon(h)
    digits = [0] * (child_res - res)

    def rec(level, is_pent_path):
        if level == len(digits):
            hh = base
            for idx, d in enumerate(digits):
                hh = _h3_set_digit(hh, res + 1 + idx, d)
            out.append(hh)
            return
        for d in range(7):
            if is_pent_path and d == K_AXES:
                continue  # deleted subsequence under a pentagon center
            digits[level] = d
            rec(level + 1, is_pent_path and d == CENTER)

    rec(0, pent)
    return out


# ----------------------------------------------------- neighbors / rings


def _cell_neighbors(h: int) -> list[int]:
    """The (≤6) cells sharing an edge with h.

    No neighbor tables: each neighbor's center is ESTIMATED from the
    cell's canonical face frame (one unit hex step in gnomonic space —
    off-face extension error is a few % of the cell pitch, far below
    the half-cell needed to misindex) and the estimate is resolved by
    the exact ``latlng_to_cell``. Symmetric by construction; pentagon
    distortion folds two estimates onto one cell → 5 neighbors."""
    face, i, j, k, res, _ = _h3_to_face_ijk(h)
    cx, cy = _ijk_to_hex2d(i, j, k)
    out = []
    for d in (K_AXES, J_AXES, JK_AXES, I_AXES, IK_AXES, IJ_AXES):
        u = _UNIT_VECS[d]
        dx, dy = _ijk_to_hex2d(u[0], u[1], u[2])
        lat, lng = _hex2d_to_geo(cx + dx, cy + dy, face, res)
        nh = latlng_to_cell(math.degrees(lat), math.degrees(lng), res)
        if nh and nh != h:
            out.append(nh)
    seen, uniq = set(), []
    for c in out:
        if c not in seen:
            seen.add(c)
            uniq.append(c)
    return uniq


def grid_disk(h: int, k: int) -> list[int]:
    """All cells within grid distance k (BFS over edge neighbors —
    exact, pentagon-safe, no neighbor tables)."""
    seen = {h}
    frontier = [h]
    for _ in range(k):
        nxt = []
        for c in frontier:
            for n in _cell_neighbors(c):
                if n not in seen:
                    seen.add(n)
                    nxt.append(n)
        frontier = nxt
    return sorted(seen)


# ----------------------------------------------------- vectorized front

_IS_PENT = np.zeros(NUM_BASE_CELLS, dtype=bool)
for _bc in PENTAGON_BASE_CELLS:
    _IS_PENT[_bc] = True

# face lookup as dense arrays: (20,3,3,3) → bc / rot
_FACE_BC = np.full((20, 3, 3, 3), -1, dtype=np.int64)
_FACE_ROT = np.zeros((20, 3, 3, 3), dtype=np.int64)
for (_f, _i, _j, _k), (_b, _r) in _FACE_LOOKUP.items():
    _FACE_BC[_f, _i, _j, _k] = _b
    _FACE_ROT[_f, _i, _j, _k] = _r

_ROT60CCW_LUT = np.array([_ROT60CCW[d] for d in range(7)], dtype=np.int64)
# _ROT60CCW_POW[r, d] = digit d rotated ccw r times (r ∈ 0..5)
_ROT60CCW_POW = np.empty((6, 7), dtype=np.int64)
_ROT60CCW_POW[0] = np.arange(7)
for _r in range(1, 6):
    _ROT60CCW_POW[_r] = _ROT60CCW_LUT[_ROT60CCW_POW[_r - 1]]
_DIGIT_LUT = np.full((3, 3, 3), -1, dtype=np.int64)
for _u, _d in _DIGIT_FROM_UNIT.items():
    _DIGIT_LUT[_u] = _d


def _ijk_normalize_vec(i, j, k):
    neg = np.minimum(np.minimum(i, j), k)
    i, j, k = i - neg, j - neg, k - neg
    return i, j, k


def _hex2d_to_ijk_vec(x, y):
    """Vectorized _hex2dToCoordIJK."""
    a1, a2 = np.abs(x), np.abs(y)
    x2 = a2 / M_SIN60
    x1 = a1 + x2 / 2.0
    m1 = x1.astype(np.int64)
    m2 = x2.astype(np.int64)
    r1, r2 = x1 - m1, x2 - m2
    i = np.empty_like(m1)
    j = np.empty_like(m2)
    lo = r1 < 0.5
    c1 = r1 < 1.0 / 3.0
    # branch A: r1 < 1/3
    bA = lo & c1
    i = np.where(bA, m1, 0)
    j = np.where(bA, np.where(r2 < (1.0 + r1) / 2.0, m2, m2 + 1), 0)
    # branch B: 1/3 ≤ r1 < 1/2
    bB = lo & ~c1
    jB = np.where(r2 < (1.0 - r1), m2, m2 + 1)
    iB = np.where(((1.0 - r1) <= r2) & (r2 < 2.0 * r1), m1 + 1, m1)
    i = np.where(bB, iB, i)
    j = np.where(bB, jB, j)
    # branch C: 1/2 ≤ r1 < 2/3
    c2 = r1 < 2.0 / 3.0
    bC = ~lo & c2
    jC = np.where(r2 < (1.0 - r1), m2, m2 + 1)
    iC = np.where((2.0 * r1 - 1.0 < r2) & (r2 < 1.0 - r1), m1, m1 + 1)
    i = np.where(bC, iC, i)
    j = np.where(bC, jC, j)
    # branch D: r1 ≥ 2/3
    bD = ~lo & ~c2
    i = np.where(bD, m1 + 1, i)
    j = np.where(bD, np.where(r2 < r1 / 2.0, m2, m2 + 1), j)
    # fold back negatives
    xneg = x < 0.0
    jeven = j % 2 == 0
    axisi = np.where(jeven, j // 2, (j + 1) // 2)
    diff = i - axisi
    i = np.where(xneg, np.where(jeven, i - 2 * diff, i - (2 * diff + 1)), i)
    yneg = y < 0.0
    i = np.where(yneg, i - (2 * j + 1) // 2, i)
    j = np.where(yneg, -j, j)
    k = np.zeros_like(i)
    return _ijk_normalize_vec(i, j, k)


def _up_ap7_vec(i, j, k, rotated: bool):
    di, dj = i - k, j - k
    if rotated:
        ni = np.round((2 * di + dj) / 7.0).astype(np.int64)
        nj = np.round((3 * dj - di) / 7.0).astype(np.int64)
    else:
        ni = np.round((3 * di - dj) / 7.0).astype(np.int64)
        nj = np.round((di + 2 * dj) / 7.0).astype(np.int64)
    return _ijk_normalize_vec(ni, nj, np.zeros_like(ni))


def _down_ap7_vec(i, j, k, rotated: bool):
    if rotated:
        return _ijk_normalize_vec(3 * i + k, i + 3 * j, j + 3 * k)
    return _ijk_normalize_vec(3 * i + j, 3 * j + k, i + 3 * k)


def latlng_to_cell_vec(lat_deg, lng_deg, res: int) -> np.ndarray:
    """Vectorized geo → H3 over numpy arrays (degrees). The Arrow-batch
    hot path: face selection is one (n×20) matmul; the per-resolution
    digit extraction is `res` rounds of flat vector math; pentagon
    adjustment and base-cell rotations are mask-vectorized."""
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    xyz = _geo_to_xyz(lat, lng)  # (n,3)
    dots = xyz @ _FACE_XYZ.T  # (n,20)
    face = np.argmax(dots, axis=1)
    best = np.clip(dots[np.arange(len(face)), face], -1.0, 1.0)
    r = np.arccos(best)
    fc_lat = FACE_CENTER_GEO[face, 0]
    fc_lng = FACE_CENTER_GEO[face, 1]
    az = _geo_azimuth(fc_lat, fc_lng, lat, lng)
    theta = np.mod(FACE_AXES_AZ_I[face] - np.mod(az, 2 * np.pi), 2 * np.pi)
    if _is_class_iii(res):
        theta = np.mod(theta - M_AP7_ROT_RADS, 2 * np.pi)
    rr = np.tan(r) / RES0_U_GNOMONIC * (M_SQRT7 ** res)
    rr = np.where(r < EPSILON, 0.0, rr)
    x = rr * np.cos(theta)
    y = rr * np.sin(theta)
    i, j, k = _hex2d_to_ijk_vec(x, y)
    # digit extraction res → 1
    n = len(i)
    digits = np.zeros((n, max(res, 1)), dtype=np.int64)
    for rlev in range(res - 1, -1, -1):
        rot = not _is_class_iii(rlev + 1)
        li, lj, lk = i, j, k
        i, j, k = _up_ap7_vec(i, j, k, rot)
        di, dj, dk = _down_ap7_vec(i, j, k, rot)
        ui, uj, uk = _ijk_normalize_vec(li - di, lj - dj, lk - dk)
        digits[:, rlev] = _DIGIT_LUT[ui, uj, uk]
    ii = np.clip(i, 0, 2)
    jj = np.clip(j, 0, 2)
    kk = np.clip(k, 0, 2)
    bc = _FACE_BC[face, ii, jj, kk]
    rots = _FACE_ROT[face, ii, jj, kk]
    # assemble digit payload
    pent = _IS_PENT[bc]
    # non-pentagon base-cell rotations: bulk digit rotation via the
    # (rots × digit) LUT — common for points near face edges, must not
    # fall to the scalar path
    np_rot = (~pent) & (rots > 0)
    if res > 0 and np_rot.any():
        idx = np.flatnonzero(np_rot)
        r_idx = rots[idx]
        sub = digits[idx, :res]
        digits[idx, :res] = _ROT60CCW_POW[r_idx[:, None], sub]
    h = np.full(n, 0x0800000000000000, dtype=np.int64)
    h |= np.int64(res) << np.int64(52)
    h |= bc << np.int64(45)
    payload = np.zeros(n, dtype=np.int64)
    for rlev in range(1, 16):
        d = digits[:, rlev - 1] if rlev <= res else np.full(n, 7, dtype=np.int64)
        payload |= d << np.int64(3 * (15 - rlev))
    h |= payload
    # pentagon fixups (≈1.8% of the globe; exact scalar path, deduped —
    # all points in the same pentagon sub-cell share the fixup)
    if res > 0 and pent.any():
        idx = np.flatnonzero(pent)
        cache: dict = {}
        for m in idx:
            key = (int(h[m]), int(face[m]))
            hh = cache.get(key)
            if hh is None:
                hh = _h3_make(res, int(bc[m]), digits[m, :res].tolist())
                if _h3_leading_nonzero(hh) == K_AXES:
                    if _bc_is_cw_offset(int(bc[m]), int(face[m])):
                        hh = _h3_rotate60(hh, _ROT60CW)
                    else:
                        hh = _h3_rotate60(hh, _ROT60CCW)
                for _ in range(int(rots[m])):
                    hh = _h3_rotate_pent60ccw(hh)
                cache[key] = hh
            h[m] = hh
    return h


def polygon_to_cells(ring_lats, ring_lons, res: int) -> np.ndarray:
    """Covering cell set of a polygon ring (degrees): cells whose center
    lies inside the ring plus a 1-ring conservative boundary cover, on
    true H3 cells."""
    from .pip import points_in_ring

    ring_lats = np.asarray(ring_lats, dtype=np.float64)
    ring_lons = np.asarray(ring_lons, dtype=np.float64)
    # seed: densified boundary samples + interior grid samples at ~half
    # a cell-edge spacing, indexed then BFS-expanded 1 ring
    edge_km = 1107.712591 / (7.0 ** (res / 2.0))
    step = max(edge_km / 111.32 / 2.0, 1e-6)
    lat0, lat1 = ring_lats.min(), ring_lats.max()
    lon0, lon1 = ring_lons.min(), ring_lons.max()
    glat = np.arange(lat0 - step, lat1 + 2 * step, step)
    glon = np.arange(lon0 - step, lon1 + 2 * step, step)
    gg_lat, gg_lon = np.meshgrid(glat, glon)
    gg_lat, gg_lon = gg_lat.ravel(), gg_lon.ravel()
    inside = points_in_ring(gg_lat, gg_lon, ring_lats, ring_lons)
    pts_lat = [gg_lat[inside]]
    pts_lon = [gg_lon[inside]]
    nv = len(ring_lats)
    for a in range(nv):
        b = (a + 1) % nv
        seg = max(
            np.hypot(ring_lats[b] - ring_lats[a], ring_lons[b] - ring_lons[a]),
            1e-12,
        )
        steps = max(int(np.ceil(seg / step)), 1)
        t = np.linspace(0, 1, steps, endpoint=False)
        pts_lat.append(ring_lats[a] + t * (ring_lats[b] - ring_lats[a]))
        pts_lon.append(ring_lons[a] + t * (ring_lons[b] - ring_lons[a]))
    alllat = np.concatenate(pts_lat)
    alllon = np.concatenate(pts_lon)
    seed = np.unique(latlng_to_cell_vec(alllat, alllon, res))
    out = set()
    for c in seed:
        out.add(int(c))
        for nb in _cell_neighbors(int(c)):
            out.add(nb)
    return np.array(sorted(out), dtype=np.int64)


def cell_to_string(h: int) -> str:
    return format(h, "x")


def string_to_cell(s: str) -> int:
    return int(s, 16)
