"""STR-packed static R-tree over polygon bboxes, pure numpy.

The SpatialSpark/Sedona "broadcast R-tree per partition" pattern
(SURVEY.md §2.5 J4). The broadcast point-in-polygon probe now uses
``grid_index.GridIndex``; this tree stays as the grid's test reference
and as an independent bbox-candidate counter. Query returns (point, box)
pairs with the point inside the box.

Sort-Tile-Recursive bulk load: sort by center-x into vertical slices,
sort each slice by center-y, pack leaves of size `leaf_size`, then build
parent levels the same way.
"""

from __future__ import annotations

import numpy as np


class STRtree:
    def __init__(self, boxes: np.ndarray, leaf_size: int = 16):
        """boxes: (n, 4) [minx, miny, maxx, maxy]."""
        boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
        self.n = len(boxes)
        self.leaf_size = leaf_size
        if self.n == 0:
            self.levels = []
            self.order = np.empty(0, dtype=np.int64)
            return
        cx = (boxes[:, 0] + boxes[:, 2]) / 2
        cy = (boxes[:, 1] + boxes[:, 3]) / 2
        n_leaves = int(np.ceil(self.n / leaf_size))
        n_slices = int(np.ceil(np.sqrt(n_leaves)))
        per_slice = int(np.ceil(self.n / n_slices))
        order = np.argsort(cx, kind="stable")
        for s in range(n_slices):
            sl = order[s * per_slice : (s + 1) * per_slice]
            sl_sorted = sl[np.argsort(cy[sl], kind="stable")]
            order[s * per_slice : (s + 1) * per_slice] = sl_sorted
        self.order = order  # original indices in packed leaf order
        # level 0 = leaf node bboxes
        levels = []
        cur = boxes[order]
        while len(cur) > 1:
            n_nodes = int(np.ceil(len(cur) / leaf_size))
            pad = n_nodes * leaf_size - len(cur)
            if pad:
                cur = np.vstack(
                    [cur, np.tile([np.inf, np.inf, -np.inf, -np.inf], (pad, 1))]
                )
            grouped = cur.reshape(n_nodes, leaf_size, 4)
            nodes = np.empty((n_nodes, 4))
            nodes[:, 0] = grouped[:, :, 0].min(axis=1)
            nodes[:, 1] = grouped[:, :, 1].min(axis=1)
            nodes[:, 2] = grouped[:, :, 2].max(axis=1)
            nodes[:, 3] = grouped[:, :, 3].max(axis=1)
            levels.append(nodes)
            cur = nodes
        self.levels = levels  # levels[0] over entries, last = root(s)
        self.entry_boxes = boxes[order]

    def query_point(self, x: float, y: float) -> np.ndarray:
        """Indices (original) of boxes containing (x, y)."""
        _, bi = self.query_points(np.array([x]), np.array([y]))
        return bi

    def query_points(self, xs: np.ndarray, ys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Batch probe: returns (point_idx, box_idx) candidate pairs.

        Vectorized per level across all points (points × nodes pruned by
        bbox): good when the tree is small relative to the batch."""
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        if self.n == 0 or xs.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        # candidate (point, node) pairs start at root level
        top = len(self.levels) - 1
        if top < 0:
            # single entry, no internal levels
            eb = self.entry_boxes
            pi, bi = np.nonzero(
                (eb[None, :, 0] <= xs[:, None])
                & (eb[None, :, 2] >= xs[:, None])
                & (eb[None, :, 1] <= ys[:, None])
                & (eb[None, :, 3] >= ys[:, None])
            )
            return pi, self.order[bi]
        nodes = self.levels[top]
        pi, ni = np.nonzero(
            (nodes[None, :, 0] <= xs[:, None])
            & (nodes[None, :, 2] >= xs[:, None])
            & (nodes[None, :, 1] <= ys[:, None])
            & (nodes[None, :, 3] >= ys[:, None])
        )
        for lvl in range(top - 1, -1, -1):
            child = ni[:, None] * self.leaf_size + np.arange(self.leaf_size)[None, :]
            pi = np.repeat(pi, self.leaf_size)
            child = child.ravel()
            keep = child < len(self.levels[lvl])
            pi, child = pi[keep], child[keep]
            nodes = self.levels[lvl]
            m = (
                (nodes[child, 0] <= xs[pi])
                & (nodes[child, 2] >= xs[pi])
                & (nodes[child, 1] <= ys[pi])
                & (nodes[child, 3] >= ys[pi])
            )
            pi, ni = pi[m], child[m]
        # expand leaf nodes to entries
        entry = ni[:, None] * self.leaf_size + np.arange(self.leaf_size)[None, :]
        pi = np.repeat(pi, self.leaf_size)
        entry = entry.ravel()
        keep = entry < self.n
        pi, entry = pi[keep], entry[keep]
        eb = self.entry_boxes[entry]
        m = (
            (eb[:, 0] <= xs[pi])
            & (eb[:, 2] >= xs[pi])
            & (eb[:, 1] <= ys[pi])
            & (eb[:, 3] >= ys[pi])
        )
        return pi[m], self.order[entry[m]]
