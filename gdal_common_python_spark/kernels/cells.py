"""Hierarchical cell index (H3/S2-style surrogate), pure numpy.

The reference has no spatial index at all — its spatial join is an O(n*m)
nested loop (lib/join.py:42-55). The north rule requires an H3/S2-style cell
index as the join accelerator; neither `h3` nor `s2sphere` is installed, so
this is a deterministic lat/lon quadtree grid with H3-like properties:

- 64-bit ids: ``id = (res << 58) | (ix << 29) | iy`` with
  ``ix = floor((lon+180) / (360/2^res))``, ``iy = floor((lat+90)/(180/2^res))``,
  res in [0, 29].
- parent/child by index halving/doubling (strict hierarchy, like H3 res 7-12);
- ring neighborhoods (``disk``) for kNN cell-ring expansion.

Cells are a pure join/partition key: correctness never depends on the cell
scheme (candidate pairs are always refined by the exact geometry kernels),
so an exact-H3 implementation is unnecessary (SURVEY.md §1.2).
"""

from __future__ import annotations

import numpy as np

RES_MIN, RES_MAX = 0, 29
RES_SHIFT, IX_SHIFT = 58, 29
_IDX_MASK = (1 << IX_SHIFT) - 1
ORIGIN = (180.0, 90.0)  # lon, lat offset of the grid's south-west corner


def cell_size(res: int) -> tuple[float, float]:
    """(lon_width, lat_height) of a cell at `res`, degrees."""
    return 360.0 / (1 << res), 180.0 / (1 << res)


def _index(v, res: int, axis: int) -> np.ndarray:
    """Clamped grid index of lon (axis 0) / lat (axis 1) values at `res`."""
    v = np.asarray(v, dtype=np.float64)
    i = np.floor((v + ORIGIN[axis]) / cell_size(res)[axis])
    return np.clip(i, 0, (1 << res) - 1).astype(np.int64)


def encode(lon, lat, res: int) -> np.ndarray:
    """Vectorized lon/lat -> int64 cell id at resolution `res`."""
    return pack(res, _index(lon, res, 0), _index(lat, res, 1))


def decode(cell: np.ndarray):
    """int64 cell id -> (res, ix, iy)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> RES_SHIFT).astype(np.int64)
    ix = (cell >> IX_SHIFT) & _IDX_MASK
    iy = cell & _IDX_MASK
    return res, ix, iy


def parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    """Ancestor cell at a coarser resolution (bit-shift hierarchy)."""
    res, ix, iy = decode(cell)
    shift = res - parent_res
    return (
        (np.int64(parent_res) << RES_SHIFT)
        | ((ix >> shift) << IX_SHIFT)
        | (iy >> shift)
    )


def pack(res: int, ix, iy) -> np.ndarray:
    ix = np.asarray(ix, dtype=np.int64)
    iy = np.asarray(iy, dtype=np.int64)
    return (np.int64(res) << RES_SHIFT) | (ix << IX_SHIFT) | iy


def cover_bbox(xmin: float, ymin: float, xmax: float, ymax: float, res: int) -> np.ndarray:
    """All cells at `res` whose rectangle intersects the bbox (the polygon
    covering used by the cell-partitioned spatial join, SURVEY §2.3 J2)."""
    ixs = np.arange(_index(xmin, res, 0), _index(xmax, res, 0) + 1, dtype=np.int64)
    iys = np.arange(_index(ymin, res, 1), _index(ymax, res, 1) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ixs, iys, indexing="ij")
    return pack(res, gx.ravel(), gy.ravel())


def disk(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev ring distance k (kNN ring expansion)."""
    res, ix, iy = decode(np.int64(cell))
    res = int(res)
    n = 1 << res
    ixs = np.arange(max(0, int(ix) - k), min(n - 1, int(ix) + k) + 1, dtype=np.int64)
    iys = np.arange(max(0, int(iy) - k), min(n - 1, int(iy) + k) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ixs, iys, indexing="ij")
    return pack(res, gx.ravel(), gy.ravel())


def ring_min_distance(cell: int, k: int, px: float, py: float) -> float:
    """Lower bound on planar distance from (px,py) to any point OUTSIDE the
    k-disk of `cell` — the kNN termination test: once the k-th candidate's
    distance <= this bound, no farther ring can improve the result
    (SURVEY §7 hard-part 5)."""
    res, ix, iy = decode(np.int64(cell))
    n = 1 << int(res)
    w, h = 360.0 / n, 180.0 / n
    x0 = -180.0 + (int(ix) - k) * w
    x1 = -180.0 + (int(ix) + k + 1) * w
    y0 = -90.0 + (int(iy) - k) * h
    y1 = -90.0 + (int(iy) + k + 1) * h
    return float(min(px - x0, x1 - px, py - y0, y1 - py))


def pick_resolution(widths: np.ndarray, lo: int = 4, hi: int = 12, max_cells: int = 64) -> int:
    """Choose a join resolution from a sample of zone bbox widths (degrees):
    finest res whose cell is still >= the median width / sqrt(max_cells),
    clamped to [lo, hi]. Coarser = fewer exploded rows, finer = better
    pruning; this balances the two (SURVEY §4 custom decision 1)."""
    med = float(np.median(widths)) if len(widths) else 1.0
    med = max(med, 1e-9)
    target = med * max(1.0, np.sqrt(max_cells) / 8.0)
    res = int(np.floor(np.log2(360.0 / target)))
    return max(lo, min(hi, res))
