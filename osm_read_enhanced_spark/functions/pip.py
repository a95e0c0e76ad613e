"""Point-in-polygon kernels: vectorized ray casting (points × edges).

Engine-only operator (SURVEY.md §2.5 J4): the exact refine step after a
coarse candidate step. Runs inside Arrow batches — numpy broadcasting
over (n_points × n_edges), never per-row Python.

- ``points_in_ring``: many points against one ring.
- ``ring_edges`` + ``pairs_in_rings``: many (point, ring) pairs against
  many rings at once — the edges of a whole layer are concatenated once,
  each pair is expanded to its ring's edges in fixed-size chunks, and
  the crossing parity is one ``np.add.reduceat`` per chunk. Bit-identical
  to ``points_in_ring`` pair by pair.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

# (pair, edge) elements per chunk of ``pairs_in_rings``: bounds its
# scratch memory (about a dozen 8-byte arrays this long) whatever the
# number of pairs.
_EDGE_CHUNK = 1 << 16


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
    next vertex, wrapping to its first (as ``np.roll`` does)."""

    start: np.ndarray
    y1: np.ndarray
    y2: np.ndarray
    x1: np.ndarray
    dy: np.ndarray
    dx: np.ndarray


def ring_edges(offsets, lats, lons) -> RingEdges:
    """CSR rings (ring r = vertices ``offsets[r]:offsets[r + 1]`` of the
    flat ``lats``/``lons``) → their concatenated edges."""
    start = np.asarray(offsets, dtype=np.int64)
    y1 = np.asarray(lats, dtype=np.float64)
    x1 = np.asarray(lons, dtype=np.float64)
    nxt = np.arange(1, len(y1) + 1)
    nonempty = start[1:] > start[:-1]
    nxt[start[1:][nonempty] - 1] = start[:-1][nonempty]
    y2, x2 = y1[nxt], x1[nxt]
    return RingEdges(start, y1, y2, x1, y2 - y1, x2 - x1)


def pairs_in_rings(plat, plon, ring, edges: RingEdges) -> np.ndarray:
    """Even-odd ray cast of point k against ring ``ring[k]`` for every k:
    the same arithmetic and half-open rule as ``points_in_ring``, so the
    mask equals it bit for bit; an empty ring contains nothing."""
    plat = np.asarray(plat, dtype=np.float64)
    plon = np.asarray(plon, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.int64)
    first = edges.start[ring]
    n_edges = edges.start[ring + 1] - first
    inside = np.zeros(len(ring), dtype=bool)
    todo = np.flatnonzero(n_edges)  # reduceat needs non-empty segments
    ends = np.cumsum(n_edges[todo])
    lo = 0
    while lo < len(todo):
        done = ends[lo - 1] if lo else 0
        hi = max(int(np.searchsorted(ends, done + _EDGE_CHUNK, side="right")), lo + 1)
        pairs = todo[lo:hi]
        counts = n_edges[pairs]
        seg = np.cumsum(counts) - counts
        edge = np.repeat(first[pairs] - seg, counts) + np.arange(int(counts.sum()))
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
