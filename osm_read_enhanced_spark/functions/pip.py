"""Point-in-polygon kernels: vectorized ray casting (points × edges).

Engine-only operator (SURVEY.md §2.5 J4): the exact refine step after a
coarse candidate step. Runs inside Arrow batches — numpy broadcasting
over (n_points × n_edges), never per-row Python.

- ``points_in_ring``: many points against one ring.
- ``ring_edges`` + ``pairs_in_rings``: many (point, ring) pairs against
  many rings at once — the edges of a whole layer are concatenated once
  and bucketed per ring into horizontal bands; each pair is expanded
  only to the edges of its y's band (4.6 band slots per candidate
  instead of 41 ring edges on the ``pip_tiles`` star polygons), in
  fixed-size chunks, and the crossing parity is one ``np.add.reduceat``
  per chunk. Bit-identical to ``points_in_ring`` pair by pair.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

# (pair, band slot) elements per chunk of ``pairs_in_rings``: bounds its
# scratch memory (about a dozen 8-byte arrays this long) whatever the
# number of pairs.
_EDGE_CHUNK = 1 << 16
# edges per chunk of the band build in ``ring_edges``
_BAND_BUILD_EDGES = 1 << 13


def points_in_ring(plat, plon, ring_lats, ring_lons) -> np.ndarray:
    """Even-odd ray cast: bool mask of points inside the closed ring.

    Boundary behaviour follows the half-open convention (a point exactly
    on a lower edge counts inside, upper edge outside) — deterministic
    and double-count-free when rings tile a plane.
    """
    plat = np.asarray(plat, dtype=np.float64)
    plon = np.asarray(plon, dtype=np.float64)
    y1 = np.asarray(ring_lats, dtype=np.float64)
    x1 = np.asarray(ring_lons, dtype=np.float64)
    y2 = np.roll(y1, -1)
    x2 = np.roll(x1, -1)
    # (n_points, n_edges) broadcast
    py = plat[:, None]
    px = plon[:, None]
    cond = (y1[None, :] > py) != (y2[None, :] > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1[None, :] + (py - y1[None, :]) / (y2[None, :] - y1[None, :]) * (
            x2[None, :] - x1[None, :]
        )
    crossings = cond & (px < xint)
    return crossings.sum(axis=1) % 2 == 1


class RingEdges(NamedTuple):
    """The edges of many closed rings, concatenated: ring r owns edges
    ``start[r]:start[r + 1]``; edge j runs from vertex j to the ring's
    next vertex, wrapping to its first (as ``np.roll`` does).

    Each ring's edges are also bucketed into horizontal bands: ring r
    owns bands ``band_start[r]:band_start[r + 1]`` of height
    ``band_h[r]`` from ``ymin[r]`` (see ``_band``), and band k lists, as
    int32 edge indices, the edges ``slots[slot_start[k]:slot_start[k + 1]]``
    whose y-range meets it."""

    start: np.ndarray
    y1: np.ndarray
    y2: np.ndarray
    x1: np.ndarray
    dy: np.ndarray
    dx: np.ndarray
    ymin: np.ndarray
    band_h: np.ndarray
    band_start: np.ndarray
    slot_start: np.ndarray
    slots: np.ndarray


def _band(y, ymin, band_h, n_bands) -> np.ndarray:
    """``clip(floor((y - ymin) / band_h), 0, n_bands - 1)`` as floats, NaN
    for a NaN y. Monotone in y, so the band of any y between an edge's
    endpoints lies between the bands of its endpoints; clipping (not
    dropping) keeps y values past the top band's float edge."""
    with np.errstate(invalid="ignore", over="ignore"):
        return np.clip(np.floor((y - ymin) / band_h), 0, n_bands - 1)


def ring_edges(offsets, lats, lons) -> RingEdges:
    """CSR rings (ring r = vertices ``offsets[r]:offsets[r + 1]`` of the
    flat ``lats``/``lons``) → their concatenated, banded edges.

    A ring starts with about 2 edges per band; its band height doubles
    until it holds at most 4 × edges + bands slots (a comb ring whose
    every edge spans its height would otherwise cost edges × bands). An
    edge with a NaN y never crosses a ray and is left out of the bands.
    The bands are built ``_BAND_BUILD_EDGES`` edges (or one bigger ring)
    at a time: every Python worker builds them at once when a layer
    arrives, so their scratch memory adds up across workers."""
    start = np.asarray(offsets, dtype=np.int64)
    y1 = np.asarray(lats, dtype=np.float64)
    x1 = np.asarray(lons, dtype=np.float64)
    nxt = np.arange(1, len(y1) + 1)
    nonempty = start[1:] > start[:-1]
    nxt[start[1:][nonempty] - 1] = start[:-1][nonempty]
    y2 = y1[nxt]
    dx = x1[nxt] - x1
    del nxt

    parts, lo, n_rings = [], 0, len(start) - 1
    while not parts or lo < n_rings:  # one (empty) part when there are no rings
        cut = int(np.searchsorted(start, start[lo] + _BAND_BUILD_EDGES, side="right")) - 1
        hi = min(max(cut, lo + 1), n_rings)
        a, b = start[lo], start[hi]
        parts.append(_ring_bands(y1[a:b], y2[a:b], start[lo : hi + 1] - a, first_edge=a))
        lo = hi
    ymin, band_h, n_bands, slot_counts, slots = (np.concatenate(c) for c in zip(*parts))
    del parts
    band_start = np.zeros(len(start), dtype=np.int64)
    np.cumsum(n_bands, out=band_start[1:])
    slot_start = np.zeros(len(slot_counts) + 1, dtype=np.int32)
    np.cumsum(slot_counts, out=slot_start[1:])
    return RingEdges(start, y1, y2, x1, y2 - y1, dx,
                     ymin, band_h, band_start, slot_start, slots)


def _ring_bands(y1, y2, start, first_edge=0):
    """The bands of rings whose edges run from ``y1`` to ``y2``, ring r
    owning ``start[r]:start[r + 1]`` (``start[0] == 0``) → per ring
    (ymin, band height, band count), per band its slot count, and the
    slots: int32 edge indices, offset by ``first_edge``, band by band."""
    n_edges = np.diff(start)
    ymin = np.zeros(len(n_edges))
    span = np.zeros(len(n_edges))
    full = np.flatnonzero(n_edges)
    if full.size:
        finite_y = np.where(np.isfinite(y1), y1, np.nan)
        lo = np.fmin.reduceat(finite_y, start[full])
        span[full] = np.fmax.reduceat(finite_y, start[full]) - lo
        ymin[full] = np.nan_to_num(lo, nan=0.0)
    n_bands = np.maximum((n_edges + 1) // 2, 1)
    with np.errstate(invalid="ignore", over="ignore"):
        band_h = span / n_bands
    flat = ~((band_h > 0) & np.isfinite(band_h))  # no usable height: one band
    n_bands[flat], band_h[flat] = 1, 1.0

    live = np.flatnonzero(~(np.isnan(y1) | np.isnan(y2)))
    ring = np.repeat(np.arange(len(n_edges)), n_edges)[live]
    ylo, yhi = np.minimum(y1, y2)[live], np.maximum(y1, y2)[live]
    while True:
        args = ymin[ring], band_h[ring], n_bands[ring]
        lo, hi = _band(ylo, *args), _band(yhi, *args)
        n_slots = np.bincount(ring, weights=hi - lo + 1, minlength=len(n_edges))
        over = (n_slots > 4 * n_edges + n_bands) & (n_bands > 1)
        if not over.any():
            break
        band_h[over] *= 2
        n_bands[over] = (n_bands[over] + 1) // 2

    band_start = np.cumsum(n_bands) - n_bands
    counts = (hi - lo + 1).astype(np.int64)
    seg = np.cumsum(counts) - counts
    band = np.repeat(band_start[ring] + lo.astype(np.int64) - seg, counts)
    band += np.arange(len(band))
    slots = np.repeat((live + first_edge).astype(np.int32), counts)
    slots = slots[np.argsort(band, kind="stable")]
    return ymin, band_h, n_bands, np.bincount(band, minlength=n_bands.sum()), slots


def pairs_in_rings(plat, plon, ring, edges: RingEdges) -> np.ndarray:
    """Even-odd ray cast of point k against ring ``ring[k]`` for every k:
    the same arithmetic and half-open rule as ``points_in_ring``, so the
    mask equals it bit for bit; an empty ring, or a NaN point, contains
    nothing. Each pair is tested only against the edges of the band its
    y falls in, since no other edge of the ring can straddle that y."""
    plat = np.asarray(plat, dtype=np.float64)
    plon = np.asarray(plon, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.int64)
    band_lo = edges.band_start[ring]
    band = _band(plat, edges.ymin[ring], edges.band_h[ring],
                 edges.band_start[ring + 1] - band_lo)
    known = ~np.isnan(band)
    k = band_lo + np.where(known, band, 0).astype(np.int64)
    first = edges.slot_start[k]
    n_slots = np.where(known, edges.slot_start[k + 1] - first, 0)
    inside = np.zeros(len(ring), dtype=bool)
    todo = np.flatnonzero(n_slots)  # reduceat needs non-empty segments
    ends = np.cumsum(n_slots[todo])
    lo = 0
    while lo < len(todo):
        done = ends[lo - 1] if lo else 0
        hi = max(int(np.searchsorted(ends, done + _EDGE_CHUNK, side="right")), lo + 1)
        pairs = todo[lo:hi]
        counts = n_slots[pairs]
        seg = np.cumsum(counts) - counts
        edge = edges.slots[np.repeat(first[pairs] - seg, counts) + np.arange(int(counts.sum()))]
        py = np.repeat(plat[pairs], counts)
        y1 = edges.y1[edge]
        cond = (y1 > py) != (edges.y2[edge] > py)
        hit = np.flatnonzero(cond)
        e = edge[hit]
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = edges.x1[e] + (py[hit] - y1[hit]) / edges.dy[e] * edges.dx[e]
        crossings = np.zeros(len(edge), dtype=np.uint8)  # sums wrap at 256: parity kept
        crossings[hit] = np.repeat(plon[pairs], counts)[hit] < xint
        inside[pairs] = np.add.reduceat(crossings, seg) % 2 == 1
        lo = hi
    return inside


def ring_area_deg2(ring_lats, ring_lons) -> float:
    """Signed shoelace area (degree² units; sign = orientation)."""
    y = np.asarray(ring_lats, dtype=np.float64)
    x = np.asarray(ring_lons, dtype=np.float64)
    return float(0.5 * np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))
