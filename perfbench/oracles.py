"""Reference answers computed in plain numpy, independent of
``sedona_db_spark``. They run outside every timed phase.

Inputs are random doubles, so no probe point lies on a polygon edge, no two
kNN distances tie and no pair sits exactly at the dwithin distance: on these
inputs the half-open crossing-number rule and strict comparisons are exact.
"""

from __future__ import annotations

import json
from typing import Dict, List, Sequence, Tuple

import numpy as np


def crossing_number_inside(px: np.ndarray, py: np.ndarray,
                           ring: np.ndarray) -> np.ndarray:
    """Point-in-ring by counting edge crossings of a ray towards +x.

    ``ring`` is a closed (n, 2) vertex array. Each edge counts when it
    straddles the point's y under the half-open rule ``[y0, y1)``."""
    inside = np.zeros(len(px), dtype=bool)
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        straddles = (y0 <= py) != (y1 <= py)
        if not straddles.any():
            continue
        idx = np.nonzero(straddles)[0]
        t = (py[idx] - y0) / (y1 - y0)
        hit = px[idx] < x0 + t * (x1 - x0)
        inside[idx[hit]] ^= True
    return inside


def points_per_polygon(px: np.ndarray, py: np.ndarray,
                       rings: Sequence[np.ndarray]) -> Dict[int, int]:
    """{polygon index: points strictly inside}, polygons with none left out."""
    counts = {}
    for i, ring in enumerate(rings):
        sel = ((px >= ring[:, 0].min()) & (px <= ring[:, 0].max())
               & (py >= ring[:, 1].min()) & (py <= ring[:, 1].max()))
        idx = np.nonzero(sel)[0]
        n = int(crossing_number_inside(px[idx], py[idx], ring).sum())
        if n:
            counts[i] = n
    return counts


def knn_pairs(qx, qy, bx, by, k: int, block: int = 256) -> np.ndarray:
    """Brute-force k nearest builds of every probe, as a sorted (n*k, 3)
    array of (probe index, build index, rank starting at 1)."""
    out = []
    b = np.stack([bx, by])
    for s in range(0, len(qx), block):
        d2 = (qx[s:s + block, None] - b[0]) ** 2 + (qy[s:s + block, None] - b[1]) ** 2
        part = np.argpartition(d2, k - 1, axis=1)[:, :k]
        order = np.take_along_axis(d2, part, axis=1).argsort(axis=1)
        nearest = np.take_along_axis(part, order, axis=1)
        rows = np.arange(s, s + len(nearest))
        for r in range(k):
            out.append(np.stack([rows, nearest[:, r], np.full(len(rows), r + 1)], axis=1))
    return sort_rows(np.concatenate(out))


def dwithin_pairs(qx, qy, bx, by, d: float, block: int = 256) -> np.ndarray:
    """Brute-force (probe index, build index) pairs at distance <= d,
    sorted."""
    out = []
    for s in range(0, len(qx), block):
        d2 = (qx[s:s + block, None] - bx) ** 2 + (qy[s:s + block, None] - by) ** 2
        i, j = np.nonzero(d2 <= d * d)
        out.append(np.stack([i + s, j], axis=1))
    return sort_rows(np.concatenate(out))


def sort_rows(a: np.ndarray) -> np.ndarray:
    a = np.asarray(a, dtype=np.int64)
    return a[np.lexsort(a.T[::-1])]


def window_counts(x, y, windows: Sequence[Tuple[float, float, float, float]]) -> List[int]:
    """Points inside each closed window (xmin, ymin, xmax, ymax)."""
    return [int(((x >= a) & (x <= c) & (y >= b) & (y <= d)).sum())
            for a, b, c, d in windows]


def footer_bbox(footers: Sequence[bytes], column: str) -> List[float]:
    """Union of the ``geo`` footer bboxes of ``column`` over part files."""
    boxes = [json.loads(f)["columns"][column]["bbox"] for f in footers]
    return [min(b[0] for b in boxes), min(b[1] for b in boxes),
            max(b[2] for b in boxes), max(b[3] for b in boxes)]
