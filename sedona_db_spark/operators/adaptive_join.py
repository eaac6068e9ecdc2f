"""Adaptive (mixed-level) point-in-polygon join — the skew path.

The fixed-level two-phase join (`spatial_join`) picks ONE grid level from a
sample; that is the right plan when build geometries are similar-sized,
but a layer mixing continent-scale and parcel-scale polygons forces a bad
compromise: a fine level explodes the big polygons into millions of cover
cells, a coarse level floods the small polygons' cells with candidates.

This operator instead covers each build geometry with a DISJOINT
mixed-level quadtree covering (`tiling.adaptive_cover_env`, the S2
RegionCoverer analogue — reference design provenance:
`rust/sedona-spatial-join/src/index.rs` uses one shared R-tree, which
adapts per-node; a distributed engine gets the same adaptivity from
per-geometry coverings):

* big geometry -> few coarse cells + a ring of fine boundary cells
  (O(perimeter), not O(area): bounded explosion under any size skew);
* interior cells are flagged ``full`` — candidates landing there skip the
  exact refine entirely (for axis-rect geometries, where cell-inside-bbox
  == cell-inside-geometry; general geometries conservatively refine);
* probe points emit ONE cell per level present in the covering (pure
  whole-stage-codegen bit math via `tiling.cell_expr` when lon/lat exist
  as columns) — a log-factor on the 10^12-row side instead of a
  multiplicative cover-cell factor on either side;
* coverings are disjoint, so a (point, polygon) pair meets in at most one
  cell: NO pair-dedup shuffle (the fixed-level join needs PBSM
  reference-point dedup).

Inner join, point probe side, predicate in {within, intersects, contains
(poly contains point), covers, covered_by}.
"""

from __future__ import annotations

from typing import Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

from ..geometry import algos, wkb
from ..tiling import WORLD, Grid, cell_expr, adaptive_cover_env
from .fanout import fan_out
from .spatial_join import _point_in_polygon_refine_udf, _point_xy


def _adaptive_cover_udf(bounds, max_level: int, max_cells: int):
    """Per-geometry mixed-level covering; `full` cells encoded as
    ``-cell_id - 1`` so one array<long> column carries both (decoded with
    JVM sign math after the explode — no struct Arrow overhead)."""

    @F.pandas_udf(ArrayType(LongType()))
    def cover(s: pd.Series) -> pd.Series:
        out = []
        for v in s:
            if v is None:
                out.append([])
                continue
            g = wkb.parse(bytes(v))
            if g is None or g.is_empty:
                out.append([])
                continue
            xmin, ymin, xmax, ymax = algos.bounds(g)
            ids, full = adaptive_cover_env(
                xmin, ymin, xmax, ymax, bounds=bounds,
                max_level=max_level, max_cells=max_cells,
            )
            if full.any() and not wkb.is_axis_rect(g):
                # full == inside-the-ENVELOPE; only exact for axis rects.
                # General geometries keep the mixed-level covering benefit
                # but every candidate refines.
                full = np.zeros_like(full)
            enc = np.where(full, -ids - 1, ids)
            out.append(enc.tolist())
        return pd.Series(out)

    return cover


def adaptive_pip_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "within",
    left_geom: str = "geom",
    right_geom: str = "geom",
    left_xy: Optional[Tuple[str, str]] = None,
    bounds=WORLD,
    max_level: int = 12,
    max_cells: int = 256,
) -> DataFrame:
    """Join point rows of ``left`` to the geometries of ``right`` whose
    relation ``predicate`` holds, using per-geometry adaptive coverings.

    ``left_xy=(x_col, y_col)`` keeps the probe side entirely JVM-side
    (cell assignment fuses into the scan); otherwise the point WKB column
    ``left_geom`` is decoded once by a vectorized UDF.

    Returns left columns + right columns (minus the right geometry, which
    is consumed by the covering/refine machinery). Inner join only.
    """
    if predicate not in ("within", "intersects", "contains", "covers", "covered_by"):
        raise ValueError(f"unsupported predicate for adaptive join: {predicate}")

    cover = _adaptive_cover_udf(bounds, max_level, max_cells)
    r_cols = [c for c in right.columns if c != right_geom]
    R = (
        fan_out(right)
        .withColumn("_enc", F.explode(cover(F.col(right_geom))))
        .withColumn("_full", F.col("_enc") < 0)
        .withColumn(
            "_cell",
            F.when(F.col("_enc") < 0, -F.col("_enc") - 1).otherwise(F.col("_enc")),
        )
        # geometry bytes shuffle only for boundary (partial) cells
        .withColumn("_rwkb", F.when(~F.col("_full"), F.col(right_geom)))
        .select("_cell", "_full", "_rwkb", *r_cols)
        .persist()
    )
    levels = sorted(
        r[0] for r in R.select(F.shiftright("_cell", 58).alias("l")).distinct().collect()
    )
    if not levels:
        # empty build side -> empty inner join with the output schema
        out = left
        for c in r_cols:
            out = out.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
        return out.where(F.lit(False))

    if left_xy is not None:
        L1 = left.withColumn("_px", F.col(left_xy[0])).withColumn("_py", F.col(left_xy[1]))
    else:
        L1 = (left.withColumn("_pxy", _point_xy(F.col(left_geom)))
              .withColumn("_px", F.col("_pxy.x")).withColumn("_py", F.col("_pxy.y"))
              .drop("_pxy"))
    # one candidate row per covering level; disjointness of each covering
    # guarantees at most one cell match per (point, geometry) -> no dedup
    cells = F.array(*[
        cell_expr(Grid(l, bounds), F.col("_px"), F.col("_py")) for l in levels
    ])
    L1 = L1.withColumn("_cell", F.explode(cells))

    j = L1.join(R, "_cell")
    refine = _point_in_polygon_refine_udf(predicate)
    j = j.where(F.col("_full") | refine(F.col("_px"), F.col("_py"), F.col("_rwkb")))
    return j.drop("_cell", "_full", "_rwkb", "_px", "_py")
