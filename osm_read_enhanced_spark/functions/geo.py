"""Geodesic + slippy-tile kernels.

Two flavours of each:
- Column-expression builders (``*_col``) — pure ``pyspark.sql.functions``
  arithmetic, JVM-side, whole-stage-codegen'd. These are the hot-path
  versions (no Python at all) and the shapes mirrored by the DuckDB
  oracle SQL in ``__spark_entry__``.
- numpy kernels (``*_np``) — used inside pandas UDFs by operators that
  are already in an Arrow batch (PIP refine, bbox-index probes).

Slippy z/x/y math per the public OSM wiki formula; haversine per the
standard great-circle formula (engine-only operators, SURVEY.md §2.9).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0


# ------------------------------------------------------------ Column exprs


def haversine_col(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters, pure Column arithmetic."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon / 2), 2)
    # clamp for fp safety at antipodes
    a = F.least(a, F.lit(1.0))
    return F.lit(2 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def tile_x_col(lon: Column, z) -> Column:
    """Slippy tile x = floor((lon+180)/360 * 2^z)."""
    n = F.pow(F.lit(2.0), z).cast("double") if isinstance(z, Column) else F.lit(float(2**z))
    x = F.floor((lon + 180.0) / 360.0 * n)
    return F.least(F.greatest(x, F.lit(0)), (n - 1).cast("long")).cast("long")


def tile_y_col(lat: Column, z) -> Column:
    """Slippy tile y = floor((1 - asinh(tan(lat))/pi)/2 * 2^z).

    Uses ln(tan+sec) (identical to asinh∘tan) so the DuckDB oracle can
    mirror it verbatim."""
    n = F.pow(F.lit(2.0), z).cast("double") if isinstance(z, Column) else F.lit(float(2**z))
    rlat = F.radians(lat)
    y = F.floor((1.0 - F.log(F.tan(rlat) + 1.0 / F.cos(rlat)) / float(np.pi)) / 2.0 * n)
    return F.least(F.greatest(y, F.lit(0)), (n - 1).cast("long")).cast("long")


def tile_key_col(lat: Column, lon: Column, z: int) -> Column:
    """Packed z/x/y key: (z<<58) | (x<<29) | y (z ≤ 29)."""
    x = tile_x_col(lon, z)
    y = tile_y_col(lat, z)
    return (F.lit(z).cast("long") * F.lit(1 << 58) + x * F.lit(1 << 29) + y).cast("long")


# ------------------------------------------------------------ numpy kernels


def haversine_np(lat1, lon1, lat2, lon2) -> np.ndarray:
    lat1, lon1 = np.radians(np.asarray(lat1, dtype=np.float64)), np.radians(
        np.asarray(lon1, dtype=np.float64)
    )
    lat2, lon2 = np.radians(np.asarray(lat2, dtype=np.float64)), np.radians(
        np.asarray(lon2, dtype=np.float64)
    )
    a = (
        np.sin((lat2 - lat1) / 2) ** 2
        + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2) ** 2
    )
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def tile_xy_np(lat, lon, z: int) -> tuple[np.ndarray, np.ndarray]:
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    n = float(2**z)
    x = np.floor((lon + 180.0) / 360.0 * n)
    rlat = np.radians(lat)
    y = np.floor((1.0 - np.arcsinh(np.tan(rlat)) / np.pi) / 2.0 * n)
    x = np.clip(x, 0, n - 1).astype(np.int64)
    y = np.clip(y, 0, n - 1).astype(np.int64)
    return x, y


def tile_bounds_np(z: int, x, y) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(west, south, east, north) degrees of tile z/x/y."""
    n = float(2**z)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    west = x / n * 360.0 - 180.0
    east = (x + 1) / n * 360.0 - 180.0
    north = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * y / n))))
    south = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * (y + 1) / n))))
    return west, south, east, north


def path_length_m_col(lats: Column, lons: Column) -> Column:
    """Total haversine length (m) of a polyline stored as two aligned
    arrays — pure Column math (sequence + aggregate left fold), the
    per-way geometry measure for assembled OSM ways. <2-point paths are
    0 (explicit guard: ANSI sequence(start, stop) steps -1 when
    start > stop instead of yielding empty)."""

    def seg(acc, i):
        return acc + haversine_col(
            F.element_at(lats, i),
            F.element_at(lons, i),
            F.element_at(lats, i + 1),
            F.element_at(lons, i + 1),
        )

    n = F.size(lats)
    total = F.aggregate(F.sequence(F.lit(1), n - 1), F.lit(0.0), seg)
    return F.when(n >= 2, total).otherwise(F.lit(0.0))


def ring_area_m2_col(lats: Column, lons: Column) -> Column:
    """Planar shoelace area (m²) of a closed ring (last edge wraps to
    the first vertex), with longitude scaled by cos(mean lat) — the
    standard small-polygon approximation (exact same fold order as the
    DuckDB oracle mirror, so floats agree bit-for-bit). Pure Column
    math; <3-point rings are 0."""
    n = F.size(lats)
    m_per_deg = F.lit(np.pi * EARTH_RADIUS_M / 180.0)
    mean_lat = F.try_divide(F.aggregate(lats, F.lit(0.0), lambda a, x: a + x), n)
    kx = m_per_deg * F.cos(F.radians(mean_lat))

    def cross(acc, i):
        j = F.pmod(i, n) + 1  # wrap: last vertex pairs with the first
        return acc + (
            F.element_at(lons, i) * F.element_at(lats, j)
            - F.element_at(lons, j) * F.element_at(lats, i)
        )

    two_a_deg = F.aggregate(F.sequence(F.lit(1), n), F.lit(0.0), cross)
    area = F.abs(two_a_deg) / 2.0 * kx * m_per_deg
    return F.when(n >= 3, area).otherwise(F.lit(0.0))


def centroid_col(vals: Column) -> Column:
    """Arithmetic mean of an array column (vertex centroid leg);
    empty arrays → null (try_divide, ANSI-safe)."""
    return F.try_divide(F.aggregate(vals, F.lit(0.0), lambda a, x: a + x), F.size(vals))
