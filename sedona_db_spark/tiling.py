"""Quadkey grid tiling — the from-scratch replacement for H3/S2 cells.

The reference joins through a single shared-memory Hilbert R-tree
(`rust/sedona-spatial-join/src/index.rs:775-900`). That design cannot exist
on a 1000-executor cluster, so our engine partitions space with a uniform
quadtree grid over lon/lat:

* a cell at ``level`` L is one of 2^L × 2^L rectangles over the world box
  (configurable bounds for planar data);
* ``cell_id`` packs (level, morton(ix, iy)) into one int64, so Z-order
  ranges double as spatial ranges → the pages table can be
  **range-partitioned by cell_id** and parquet min/max stats on cell_id
  give row-group pruning for free (the Spark analogue of the reference's
  GeoParquet bbox pruning, `rust/sedona-geoparquet/src/file_opener.rs:169-280`);
* point → exactly ONE cell (hot side never explodes);
* polygon/envelope → the set of cells its bbox overlaps (small side
  explodes; PBSM reference-point dedup keeps pairs unique).

Everything is vectorized numpy — these run inside pandas UDFs over Arrow
batches on the 10^12-row side.
"""

from __future__ import annotations

from typing import Tuple

import numpy as np

WORLD = (-180.0, -90.0, 180.0, 90.0)
MAX_LEVEL = 26  # 2*26 + 5 bits < 63


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Interleave: spread the low 26 bits of v so there is a 0 between each."""
    v = v.astype(np.uint64)
    v &= np.uint64(0x3FFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def morton(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return (_part1by1(np.asarray(ix)) | (_part1by1(np.asarray(iy)) << np.uint64(1))).astype(np.int64)


class Grid:
    """Uniform quadtree grid over a bounding box at a fixed level."""

    def __init__(self, level: int, bounds: Tuple[float, float, float, float] = WORLD):
        if not (0 <= level <= MAX_LEVEL):
            raise ValueError(f"level must be in [0, {MAX_LEVEL}]")
        self.level = level
        self.bounds = bounds
        self.nx = 1 << level
        self.cw = (bounds[2] - bounds[0]) / self.nx  # cell width
        self.ch = (bounds[3] - bounds[1]) / self.nx  # cell height

    # -- index math ----------------------------------------------------------
    def xy_to_ij(self, x: np.ndarray, y: np.ndarray):
        ix = np.floor((np.asarray(x, dtype=np.float64) - self.bounds[0]) / self.cw).astype(np.int64)
        iy = np.floor((np.asarray(y, dtype=np.float64) - self.bounds[1]) / self.ch).astype(np.int64)
        np.clip(ix, 0, self.nx - 1, out=ix)
        np.clip(iy, 0, self.nx - 1, out=iy)
        return ix, iy

    def cell_of_points(self, x: np.ndarray, y: np.ndarray) -> np.ndarray:
        """Vectorized point -> cell_id (the 10^12-row hot path)."""
        ix, iy = self.xy_to_ij(x, y)
        return self.pack(ix, iy)

    def pack(self, ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
        return (np.int64(self.level) << np.int64(58)) | morton(ix, iy)

    def unpack(self, cell_id: np.ndarray):
        m = np.asarray(cell_id, dtype=np.uint64) & np.uint64((1 << 58) - 1)

        def compact(v):
            v &= np.uint64(0x5555555555555555)
            v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
            v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
            v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
            v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
            v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
            return v.astype(np.int64)

        return compact(m.copy()), compact(m >> np.uint64(1))

    # -- envelope covering ---------------------------------------------------
    def cover_env_ranges(self, xmin, ymin, xmax, ymax):
        """Vectorized bbox -> inclusive (ix0, iy0, ix1, iy1) index ranges."""
        ix0, iy0 = self.xy_to_ij(xmin, ymin)
        ix1, iy1 = self.xy_to_ij(xmax, ymax)
        return ix0, iy0, ix1, iy1

    def cover_env_cells(self, xmin: float, ymin: float, xmax: float, ymax: float) -> np.ndarray:
        """All cell_ids overlapped by one bbox."""
        ix0, iy0, ix1, iy1 = self.cover_env_ranges(
            np.array([xmin]), np.array([ymin]), np.array([xmax]), np.array([ymax])
        )
        ixs = np.arange(ix0[0], ix1[0] + 1)
        iys = np.arange(iy0[0], iy1[0] + 1)
        gx, gy = np.meshgrid(ixs, iys)
        return self.pack(gx.ravel(), gy.ravel())

    def cell_env(self, cell_id) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        ix, iy = self.unpack(cell_id)
        xmin = self.bounds[0] + ix * self.cw
        ymin = self.bounds[1] + iy * self.ch
        return xmin, ymin, xmin + self.cw, ymin + self.ch

    def neighbors_within(self, cell_id: np.ndarray, radius: int) -> np.ndarray:
        """Chebyshev ring: all cells within `radius` cells of each input.

        Used by the grid kNN join ring expansion (replaces the reference's
        global R-tree neighbor search, `index.rs:499-676`).
        """
        ix, iy = self.unpack(np.asarray(cell_id))
        offs = np.arange(-radius, radius + 1)
        ox, oy = np.meshgrid(offs, offs)
        nix = ix[:, None] + ox.ravel()[None, :]
        niy = iy[:, None] + oy.ravel()[None, :]
        ok = (nix >= 0) & (nix < self.nx) & (niy >= 0) & (niy < self.nx)
        return self.pack(np.where(ok, nix, 0), np.where(ok, niy, 0)), ok


_SPREAD8 = [sum(((v >> b) & 1) << (2 * b) for b in range(8)) for v in range(256)]


def cell_expr(grid: "Grid", x_col, y_col):
    """Pure-Spark (whole-stage-codegen) point -> cell_id expression.

    The same morton interleave as `Grid.pack`, written as Column bit math —
    when x/y exist as plain columns (e.g. the pages table's lon/lat), cell
    assignment costs ZERO python and fuses into the scan stage. Bits are
    spread by a 256-entry table, one lookup per 8 bits of the level, so
    each clamped cell index appears at most 4 times and an array of many
    levels still compiles."""
    from functools import reduce

    from pyspark.sql import functions as F

    lut = F.array(*[F.lit(v) for v in _SPREAD8]).cast("array<bigint>")

    def spread(c):
        return reduce(lambda a, b: a.bitwiseOR(b), [
            F.shiftleft(lut[F.shiftright(c, 8 * k).bitwiseAND(F.lit(0xFF)).cast("int")], 16 * k)
            for k in range(max(1, (grid.level + 7) // 8))])

    x0, y0 = grid.bounds[0], grid.bounds[1]
    ix = F.floor((x_col - F.lit(x0)) / F.lit(grid.cw)).cast("long")
    iy = F.floor((y_col - F.lit(y0)) / F.lit(grid.ch)).cast("long")
    ix = F.greatest(F.lit(0), F.least(ix, F.lit(grid.nx - 1)))
    iy = F.greatest(F.lit(0), F.least(iy, F.lit(grid.nx - 1)))
    return F.lit(grid.level << 58).bitwiseOR(spread(ix)).bitwiseOR(
        F.shiftleft(spread(iy), 1)
    )


def cell_level(cell_id) -> np.ndarray:
    """Level encoded in a packed cell_id (hierarchy accessor)."""
    return (np.asarray(cell_id, dtype=np.int64) >> np.int64(58)).astype(np.int64)


def cell_parent(cell_id, dlevel: int = 1) -> np.ndarray:
    """Ancestor `dlevel` levels up: drop 2 morton bits per level (the
    S2/H3 parent analogue — valid because a level-L cell's morton code is
    its parent's code with two extra low bits)."""
    c = np.asarray(cell_id, dtype=np.int64)
    lvl = cell_level(c)
    if np.any(lvl < dlevel):
        raise ValueError("cell above requested parent level")
    m = (c & np.int64((1 << 58) - 1)) >> np.int64(2 * dlevel)
    return ((lvl - dlevel) << np.int64(58)) | m


def cell_children(cell_id) -> np.ndarray:
    """The 4 child cells one level down, for each input cell (flattened)."""
    c = np.asarray(cell_id, dtype=np.int64).ravel()
    lvl = cell_level(c)
    if np.any(lvl >= MAX_LEVEL):
        raise ValueError("cell already at max level")
    m = (c & np.int64((1 << 58) - 1)) << np.int64(2)
    base = ((lvl + 1) << np.int64(58)) | m
    return (base[:, None] + np.arange(4, dtype=np.int64)[None, :]).ravel()


def adaptive_cover_env(xmin: float, ymin: float, xmax: float, ymax: float,
                       bounds: Tuple[float, float, float, float] = WORLD,
                       max_level: int = 12, max_cells: int = 256):
    """Disjoint mixed-level quadtree covering of one bbox (the S2
    `RegionCoverer` analogue).

    Descends from the level-0 root; a cell strictly inside the OPEN bbox is
    emitted at its current (coarse) level with ``full=True`` and never
    refined, so a continent-sized envelope costs O(perimeter) boundary
    cells instead of O(area) fine cells — this is what bounds the build
    side explosion under 1000x geometry-size skew. Cells still straddling
    the boundary at ``max_level`` (or once ``max_cells`` would be
    exceeded) are emitted with ``full=False``.

    Returns ``(cell_ids int64[], full bool[])``; the union of cells covers
    the bbox, cells are pairwise disjoint (a point maps to exactly one via
    `Grid.cell_of_points` at the cell's own level).
    """
    bx0, by0, bx1, by1 = bounds
    ix = np.zeros(1, dtype=np.int64)
    iy = np.zeros(1, dtype=np.int64)
    out_ids: list = []
    out_full: list = []
    count = 0
    for L in range(0, max_level + 1):
        nx = 1 << L
        cw = (bx1 - bx0) / nx
        ch = (by1 - by0) / nx
        cx0 = bx0 + ix * cw
        cy0 = by0 + iy * ch
        cx1 = cx0 + cw
        cy1 = cy0 + ch
        inter = (cx0 <= xmax) & (cx1 >= xmin) & (cy0 <= ymax) & (cy1 >= ymin)
        # strict: full cells may not touch the bbox boundary, so boundary
        # points always land in a partial (refined) cell
        full = inter & (cx0 > xmin) & (cx1 < xmax) & (cy0 > ymin) & (cy1 < ymax)
        partial = inter & ~full
        nfull = int(full.sum())
        if nfull:
            g = Grid(L, bounds)
            out_ids.append(g.pack(ix[full], iy[full]))
            out_full.append(np.ones(nfull, dtype=bool))
            count += nfull
        pix, piy = ix[partial], iy[partial]
        if len(pix) == 0:
            break
        if L == max_level or count + 4 * len(pix) > max_cells:
            g = Grid(L, bounds)
            out_ids.append(g.pack(pix, piy))
            out_full.append(np.zeros(len(pix), dtype=bool))
            count += len(pix)
            break
        ix = np.repeat(pix * 2, 4) + np.tile(np.array([0, 1, 0, 1]), len(pix))
        iy = np.repeat(piy * 2, 4) + np.tile(np.array([0, 0, 1, 1]), len(pix))
    if not out_ids:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=bool)
    return np.concatenate(out_ids), np.concatenate(out_full)


def pick_level_for_envelopes(widths: np.ndarray, heights: np.ndarray,
                             bounds=WORLD, target_cells_per_geom: float = 4.0,
                             min_level: int = 2, max_level: int = 16) -> int:
    """Choose a grid level so a typical build-side envelope covers about
    ``target_cells_per_geom`` cells — the analogue of the reference's
    speculative stats-driven execution-mode selection
    (`rust/sedona-spatial-join/src/refine/exec_mode_selector.rs:26-110`).
    """
    w = float(np.nanmedian(widths)) if len(widths) else 0.0
    h = float(np.nanmedian(heights)) if len(heights) else 0.0
    span = max(bounds[2] - bounds[0], bounds[3] - bounds[1])
    size = max(w, h)
    if size <= 0 or not np.isfinite(size):
        return max_level
    # cell edge ≈ size * sqrt(target) is ~target cells per envelope
    import math

    level = int(math.floor(math.log2(span / (size * (target_cells_per_geom ** 0.5) / 2.0))))
    return int(min(max(level, min_level), max_level))
