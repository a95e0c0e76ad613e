"""Uniform-grid candidate index over polygon bboxes, pure numpy.

Built once per task from the broadcast polygon layer (SURVEY.md §2.5 J4)
and probed once per point batch. Every point falls in exactly one cell;
the cell's CSR row lists every box overlapping the cell, and the exact
bbox test keeps the (point, box) pairs whose box contains the point.
That is the same pair set as ``STRtree.query_points`` (which stays as
this index's test reference), each pair emitted once, with no per-level
fan-out and no Python loop per node or per box.

Cell sizing: the side starts at the median box width and height and
doubles until the (cell, box) entries are at most 8·n + cells — so one
box spanning the extent among many small ones coarsens the grid rather
than filling every cell — and the cell count is at most 16·n, which
bounds the CSR offsets when tiny boxes are scattered over a wide extent.
Boxes and points share one monotone cell formula, so a point on a cell
edge always lands in a cell its box covers. A box with a non-finite
(or overflow-sized) or inverted coordinate is left out: it matches
nothing and leaves the other boxes' candidates unchanged.
"""

from __future__ import annotations

import numpy as np

_ENTRIES_PER_BOX = 8
_CELLS_PER_BOX = 16
# beyond this a coordinate difference can overflow to inf and the cell
# sizing would never settle: such boxes are left out like NaN ones
_MAX_COORD = np.finfo(np.float64).max / 2


def _start_side(widths: np.ndarray, extent: float, n: int) -> float:
    side = float(np.median(widths))
    if side > 0:
        return side
    # zero-width boxes: about sqrt(n) columns, one if the extent is flat too
    side = extent / np.ceil(np.sqrt(n))
    return side if side > 0 else 1.0


def _cells(v: np.ndarray, origin: float, side: float) -> np.ndarray:
    """The one cell formula for box corners and points (monotone in v)."""
    return np.floor((v - origin) / side).astype(np.int64)


def _expand(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """CSR rows → flat positions: starts[i] .. starts[i]+counts[i]-1."""
    total = int(counts.sum())
    first = np.cumsum(counts) - counts
    return np.repeat(starts - first, counts) + np.arange(total)


class GridIndex:
    def __init__(self, boxes: np.ndarray):
        """boxes: (n, 4) [minx, miny, maxx, maxy]."""
        boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
        ok = (
            (np.abs(boxes) < _MAX_COORD).all(axis=1)
            & (boxes[:, 0] <= boxes[:, 2])
            & (boxes[:, 1] <= boxes[:, 3])
        )
        members = np.flatnonzero(ok)
        if members.size == 0:
            self.extent = None
            return
        b = boxes[members]
        m = len(b)
        x0, y0 = b[:, 0].min(), b[:, 1].min()
        x1, y1 = b[:, 2].max(), b[:, 3].max()
        self.extent = (x0, y0, x1, y1)
        sx = _start_side(b[:, 2] - b[:, 0], x1 - x0, m)
        sy = _start_side(b[:, 3] - b[:, 1], y1 - y0, m)
        while True:
            # column/row counts in float first: a tiny side must not overflow
            nx = np.floor((x1 - x0) / sx) + 1
            ny = np.floor((y1 - y0) / sy) + 1
            if nx * ny <= _CELLS_PER_BOX * m:
                cx0, cx1 = _cells(b[:, 0], x0, sx), _cells(b[:, 2], x0, sx)
                cy0, cy1 = _cells(b[:, 1], y0, sy), _cells(b[:, 3], y0, sy)
                ncx = cx1 - cx0 + 1
                per_box = ncx * (cy1 - cy0 + 1)
                if per_box.sum() <= _ENTRIES_PER_BOX * m + nx * ny:
                    break
            sx, sy = 2 * sx, 2 * sy
        nx, ny = int(nx), int(ny)
        self.side = (sx, sy)
        self.nx = nx
        # (cell, box) entries: box i covers cells cx0..cx1 × cy0..cy1
        box = np.repeat(np.arange(m), per_box)
        k = _expand(np.zeros(m, dtype=np.int64), per_box)
        cell = (cy0[box] + k // ncx[box]) * nx + cx0[box] + k % ncx[box]
        order = np.argsort(cell, kind="stable")
        self.entries = members[box[order]]
        # per-entry box columns: the probe's bbox test reads them in entry
        # order, contiguous, instead of gathering (n, 4) rows per candidate
        self.entry_bounds = tuple(np.ascontiguousarray(boxes[self.entries, j]) for j in range(4))
        self.start = np.zeros(nx * ny + 1, dtype=np.int64)
        np.cumsum(np.bincount(cell, minlength=nx * ny), out=self.start[1:])

    def query_point(self, x: float, y: float) -> np.ndarray:
        """Indices (original) of boxes containing (x, y)."""
        _, bi = self.query_points(np.array([x]), np.array([y]))
        return bi

    def query_points(self, xs: np.ndarray, ys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Batch probe: returns (point_idx, box_idx) candidate pairs, one
        per box containing the point (NaN points match nothing)."""
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        if self.extent is None or xs.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        x0, y0, x1, y1 = self.extent
        sx, sy = self.side
        p = np.flatnonzero((xs >= x0) & (xs <= x1) & (ys >= y0) & (ys <= y1))
        px, py = xs[p], ys[p]
        cell = _cells(py, y0, sy) * self.nx + _cells(px, x0, sx)
        first = self.start[cell]
        counts = self.start[cell + 1] - first
        pi = np.repeat(p, counts)
        pos = _expand(first, counts)
        minx, miny, maxx, maxy = (b[pos] for b in self.entry_bounds)
        x, y = xs[pi], ys[pi]
        m = (minx <= x) & (maxx >= x) & (miny <= y) & (maxy >= y)
        return pi[m], self.entries[pos[m]]
