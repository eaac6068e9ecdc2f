"""Distributed spatial join: ``left PREDICATE right`` with OGC semantics.

The reference's `SpatialJoinExec` (`rust/sedona-spatial-join/src/exec.rs`)
builds ONE in-memory index over the build side, probes it and refines the
candidates in the same operator. Two routes serve that contract here.

BROADCAST PROBE (``_broadcast_probe``) — every predicate, relations and
``dwithin``, with a broadcast right side and no ``left_xy``: BUILD a
columnar cell index over the collected right side on the driver
(``_ProbeIndex``; for ``dwithin`` each build envelope is expanded by its
own distance) and broadcast it; PROBE it with ``np.searchsorted`` and
REFINE exactly in one ``mapInArrow`` pass per left Arrow batch; bring the
right payload back by a broadcast hash join on ``_rid``.

CELL JOIN — shuffled right sides and ``left_xy`` joins (the latter with
zero Python in the plan, the streaming path):

    1. PREFILTER  — cover each geometry with quadkey grid cells
                    (`tiling.Grid`): points → exactly 1 cell (cheap,
                    vectorized); polygons/envelopes → exploded to the cells
                    their bbox overlaps (the small side).
    2. EQUI-JOIN  — ordinary hash join on `cell` (broadcast when the
                    polygon side is small; AQE handles skewed cells,
                    salting available via `salt_hot_cells`).
    3. DEDUP      — a candidate pair can meet in several cells when BOTH
                    sides are exploded; we emit it only in the cell that
                    contains the pair's bbox-intersection corner (the
                    classic PBSM reference-point trick) → no
                    dropDuplicates shuffle. Point sides are never exploded,
                    so the common case has zero dedup cost.
    4. REFINE     — exact predicate, evaluated by the batched numpy
                    kernels: candidates arrive grouped by polygon id, so a
                    single polygon tests its whole candidate batch with one
                    vectorized ray-cast (`algos.locate_points_in_polygon`).

Join types Inner/Left/Right/Semi/Anti mirror `exec.rs:102-109` +
`stream.rs:292-388` (the cell join's unmatched tracking is an anti-join on
matched ids instead of the reference's visited-bitmap).

Distance joins (ST_DWithin) expand each build envelope by its distance
before indexing or covering it — the analogue of `operand_evaluator.rs:307`
(`expand_rect_in_place`).

Kernel dispatch by argument type: every route decision (point left side,
rectangle / areal / point right side, the geography point-left check, the
kNN build mode) is a set test over the ``wkb.shape_kinds`` codes of one
side, and a fast route needs the codes of EVERY row, never a sample's:

* a collected side (broadcast right, kNN build, samples) is classified
  on the driver in full;
* a non-broadcast right side is classified by one Spark job
  (``_side_kinds``), run only when the free 1000-row sample allows a fast
  route;
* the left side of a cell join is confirmed in the JVM
  (``_point_offenders``): only the rows that are not little-endian XY
  points are classified. The broadcast probe needs no confirm: it picks
  the kernel of each row as it decodes it.

Each call logs its route on the ``sedona_db_spark.plan`` logger.
"""

from __future__ import annotations

import logging
from typing import Optional

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DoubleType,
    LongType,
    MapType,
    StructField,
    StructType,
)

from ..geometry import algos, wkb
from ..tiling import WORLD, Grid, cell_expr, pick_level_for_envelopes
from .fanout import fan_out

# Byte cap for broadcasting the right side: the probe index with its build
# WKB, or the covered cells of a dwithin join (same ballpark as
# spark.sql.autoBroadcastJoinThreshold scaled for polygon payloads). Above
# this the join shuffles on cells.
BROADCAST_BYTES_CAP = 64 * 1024 * 1024

_PLAN_LOG = logging.getLogger("sedona_db_spark.plan")
_KIND_NAMES = ("null", "point", "rect", "areal", "other")  # wkb.KIND_* codes


def _log_plan(op: str, **plan) -> None:
    """One INFO record per join on the ``sedona_db_spark.plan`` logger: the
    route taken and what decided it. ``record.plan`` holds the fields."""
    _PLAN_LOG.info("%s %s", op, " ".join(f"{k}={v}" for k, v in plan.items()),
                   extra={"plan": plan})


def _log_route(route: str, est_bytes, build_rows, kinds, grid_level: int) -> None:
    _log_plan("spatial_join", route=route, est_bytes=est_bytes, build_rows=build_rows,
              right_kinds=sorted(_KIND_NAMES[k] for k in kinds), grid_level=grid_level)


def _wide_id(seed: int, cols):
    """2x64-bit content-derived row id (two independent xxhash64 seeds,
    concatenated) — recomputation-stable and collision-safe at 10^12 rows
    where a single 64-bit hash hits ~50% birthday collision at 5B rows."""
    return F.concat_ws(
        "|",
        F.xxhash64(F.lit(seed), *cols).cast("string"),
        F.xxhash64(F.lit(seed + 1), *cols).cast("string"),
    )


def _hashable(df: DataFrame):
    """The columns of ``df`` as hash inputs: a map, which Spark refuses to
    hash, as its sorted entries."""
    return [F.array_sort(F.map_entries(F.col(f.name))) if isinstance(f.dataType, MapType)
            else F.col(f.name) for f in df.schema.fields]


def _estimate_bytes(df: DataFrame, geom_col: str):
    """``(rows, estimated geometry payload bytes)`` — row count x (avg WKB
    + 64 B of per-row overhead), the broadcast decision input, like
    spark.sql.autoBroadcastJoinThreshold but measured on the actual
    geometry column."""
    stats = df.agg(
        F.count("*").alias("n"),
        F.avg(F.length(F.col(geom_col))).alias("avg_wkb"),
    ).collect()[0]
    n = int(stats["n"] or 0)
    return n, n * (float(stats["avg_wkb"] or 0.0) + 64.0)

RELATION_FNS = {
    "intersects": algos.intersects,
    "contains": algos.contains,
    "within": algos.within,
    "covers": algos.covers,
    "covered_by": algos.covered_by,
    "touches": algos.touches,
    "crosses": algos.crosses,
    "overlaps": algos.overlaps,
    "equals": algos.equals,
}

# predicate -> which side must contain the other (for planner notes only)
_INVERT = {  # mirrors SpatialPredicate::invert (spatial_predicate.rs:217-229)
    "contains": "within",
    "within": "contains",
    "covers": "covered_by",
    "covered_by": "covers",
}

# predicates with a point x polygon kernel (left point PRED right polygon)
_PIP_PREDS = ("within", "covered_by", "intersects", "touches")
_AREAL_KINDS = {wkb.KIND_RECT, wkb.KIND_AREAL}
_POINT_KINDS = {wkb.KIND_NULL, wkb.KIND_POINT}


def _is_le_point_expr(col: str):
    """JVM-only exact little-endian XY-point test: 21 bytes + LE POINT
    header — one narrow whole-stage-codegen scan, zero Python. Rows that
    fail it are not necessarily non-points (big-endian, EWKB and Z/M
    points fail it too); ``_point_offenders`` and ``_side_kinds`` hand
    exactly those rows to ``wkb.shape_kinds``."""
    return (F.length(col) == 21) & (
        F.expr(f"substring(`{col}`, 1, 5)") == F.lit(wkb._LE_POINT_HDR)
    )


_OFFENDER_CAP = 20  # non-LE-point rows a point route may admit


def _point_offenders(df: DataFrame, col: str) -> np.ndarray:
    """Shape kinds of up to ``_OFFENDER_CAP + 1`` non-NULL rows of
    ``df[col]`` that fail ``_is_le_point_expr``, by one limit-ed JVM-only
    scan. When at most ``_OFFENDER_CAP`` come back they are ALL such rows,
    so the point test over them is a full confirm of the side. The rows
    come back through an aggregate: a plain ``collect`` of a limit would
    scan a side with no offenders in serial waves of 1, 4, 16, ...
    partitions, one job each; this plan is two jobs at any width."""
    rows = (df.where(F.col(col).isNotNull() & ~_is_le_point_expr(col))
            .limit(_OFFENDER_CAP + 1).agg(F.collect_list(col)).collect()[0][0])
    return wkb.shape_kinds(rows)


def _side_kinds(df: DataFrame, col: str) -> set:
    """Every ``wkb.shape_kinds`` code present in ``df[col]``, by one Spark
    job. LE XY points are told apart in the JVM and reach the Python
    classifier as NULL, so a point side ships no WKB to Python."""
    le = _is_le_point_expr(col)

    @F.pandas_udf(ByteType())
    def kinds(s: pd.Series) -> pd.Series:
        return pd.Series(wkb.shape_kinds(s))

    k = F.when(le, F.lit(wkb.KIND_POINT)).otherwise(kinds(F.when(~le, F.col(col))))
    return {int(r[0]) for r in df.select(k.alias("k")).distinct().collect()}


def _raise_on_nonpoint(bufs, valid, side: str, op: str) -> None:
    """Strict-decode guard for point-kernel refines: a NON-NULL row whose
    shape kind is not POINT raises loudly instead of being masked out
    (routes checked on a sample or a capped offender scan would otherwise
    silently drop rows beyond it — ADVICE r3 medium). NULL and POINT EMPTY
    rows decode invalid in every encoding and pass. Vectorized: the common
    all-valid batch returns at once."""
    if bool(np.all(valid)):
        return
    bufs = bufs.to_pylist() if isinstance(bufs, pa.Array) else list(bufs)
    kinds = wkb.shape_kinds([bufs[i] for i in np.nonzero(~np.asarray(valid))[0]])
    if np.any((kinds != wkb.KIND_NULL) & (kinds != wkb.KIND_POINT)):
        raise ValueError(
            f"{op}: {side} side must be point geometries "
            "(non-point row beyond the sampled prefix)"
        )


def _once(udf):
    """Evaluate a pandas UDF once per row. Catalyst pushes a filter on a
    UDF column (explicit, or the ``isnotnull`` inferred from a join key or
    an ``explode``) below the Project and runs the UDF again inside it;
    nothing is pushed through a nondeterministic expression, so the UDF
    runs once — and a later filter stays above it too. The UDFs are pure,
    so retries reproduce them. Refines, whose ``_ok`` is projected away
    after its filter, already run once and stay deterministic."""
    return udf.asNondeterministic()


_XY = StructType([StructField("x", DoubleType()), StructField("y", DoubleType())])


def _point_xy(geom: Column, strict: Optional[tuple] = None,
              grid: Optional[Grid] = None) -> Column:
    """WKB point column -> ``struct<x, y>`` in one decode pass; NULL,
    non-point and NaN coordinates are null. ``strict=(side, op)`` raises
    on a non-NULL non-point row (routes decided by a sample). ``grid``
    adds the ``cell`` (numpy, like the cover UDF; building a
    ``tiling.cell_expr`` column costs ~0.1 s of planning time per join)."""
    fields = _XY.fields + ([StructField("cell", LongType())] if grid is not None else [])

    @F.pandas_udf(StructType(fields))
    def point_xy(s: pd.Series) -> pd.DataFrame:
        x, y, valid = wkb.decode_points_xy(s)
        if strict is not None:
            _raise_on_nonpoint(s, valid, *strict)
        out = pd.DataFrame({"x": np.where(valid, x, np.nan),
                            "y": np.where(valid, y, np.nan)})
        if grid is not None:
            ok = valid & ~np.isnan(x) & ~np.isnan(y)
            # nullable Int64: None into an int64 Series would upcast to
            # float64 and corrupt cell ids above 2^53
            cell = pd.Series(grid.cell_of_points(np.where(ok, x, 0.0), np.where(ok, y, 0.0)),
                             dtype="Int64")
            cell[~ok] = pd.NA
            out["cell"] = cell
        return out

    return _once(point_xy)(geom)


def _bounds_udf():
    @F.pandas_udf("xmin double, ymin double, xmax double, ymax double")
    def geom_bounds(s: pd.Series) -> pd.DataFrame:
        env = wkb.xy_env(s)[2]
        return pd.DataFrame(env, columns=["xmin", "ymin", "xmax", "ymax"])

    return _once(geom_bounds)


def _ranges(starts: np.ndarray, counts: np.ndarray):
    """``(owner, values)``: the concatenated ``arange(s, s + c)`` of every
    (start, count) pair and the pair each value came from — the
    repeat/cumsum trick, no Python loop."""
    owner = np.repeat(np.arange(len(counts)), counts)
    at = np.arange(int(counts.sum())) - np.repeat(np.cumsum(counts) - counts, counts)
    return owner, at + np.repeat(starts, counts)


def _env_cells(grid: Grid, env: np.ndarray, cap: Optional[int] = None):
    """``(row, cells, counts)``: the cells each (n, 4) envelope overlaps,
    row-major (y outer, x inner) like ``Grid.cover_env_cells``. NaN
    envelopes cover nothing; rows over ``cap`` cells are counted, not
    listed."""
    ok = ~np.isnan(env).any(axis=1)
    ix0, iy0, ix1, iy1 = grid.cover_env_ranges(*np.where(ok[:, None], env, 0.0).T)
    w = np.where(ok, np.maximum(ix1 - ix0 + 1, 0), 0)
    cnt = w * np.maximum(iy1 - iy0 + 1, 0)
    row, k = _ranges(np.zeros(len(cnt), np.int64), cnt if cap is None else np.where(cnt > cap, 0, cnt))
    return row, grid.pack(ix0[row] + k % w[row], iy0[row] + k // w[row]), cnt


def _cover_cells_udf(grid: Grid):
    """(geometry, expansion distance) -> ``struct<x, y, cells>``: the
    cells the expanded envelope overlaps (null for NULL/empty geometry or
    NULL/NaN distance) and, for points, x/y — one pass decodes and covers
    a point side."""
    schema = StructType([*_XY.fields, StructField("cells", ArrayType(LongType()))])

    @F.pandas_udf(schema)
    def cover(s: pd.Series, d: pd.Series) -> pd.DataFrame:
        x, y, env, _ = wkb.xy_env(s)
        dd = d.to_numpy(np.float64, na_value=np.nan)[:, None]
        env = env + np.array([-1.0, -1.0, 1.0, 1.0]) * dd
        _, cells, cnt = _env_cells(grid, env)
        parts = np.split(cells, np.cumsum(cnt)[:-1])
        ok = ~np.isnan(env[:, 0])
        return pd.DataFrame({
            "x": x, "y": y,
            "cells": pd.Series([p if o else None for p, o in zip(parts, ok)], dtype=object),
        })

    return _once(cover)


def _dwithin_pairs(abuf, bbuf, dd: np.ndarray) -> np.ndarray:
    """``DWithin(a, b, d)`` of aligned WKB pairs (None: NULL; NULL and NaN
    distances match nothing), the dwithin kernel of both routes.
    Vectorized fast path for 2-vertex segments / points on BOTH sides (the
    trajectory-join candidate shape — round 5: the per-row parse+distance
    loop was the sf1 scale cliff in cpa_join's prefilter); unrecognized
    layouts fall back to the exact scalar kernel row by row."""
    a4, arec = wkb.decode_seg4(abuf)
    b4, brec = wkb.decode_seg4(bbuf)
    fast = arec & brec & ~np.isnan(dd)
    out = np.zeros(len(abuf), dtype=bool)
    ii = np.nonzero(fast)[0]
    if len(ii):
        out[ii] = algos.seg_seg_distance(a4[ii], b4[ii]) <= dd[ii]
    for i in np.nonzero(~fast)[0]:
        x, y, t = abuf[i], bbuf[i], dd[i]
        out[i] = (False if (x is None or y is None or t != t)
                  else algos.dwithin(wkb.parse(x), wkb.parse(y), float(t)))
    return out


def _refine_udf(predicate: str):
    """Exact-predicate refine over candidate pairs.

    Receives (left_wkb, right_wkb[, dist]) per candidate. Point×polygon
    candidates take the vectorized group path in `spatial_join` instead;
    this generic refiner handles arbitrary geometry pairs.
    """
    if predicate == "dwithin":

        @F.pandas_udf(BooleanType())
        def refine(a: pd.Series, b: pd.Series, d: pd.Series) -> pd.Series:
            return pd.Series(_dwithin_pairs(
                [None if x is None else bytes(x) for x in a],
                [None if y is None else bytes(y) for y in b],
                d.to_numpy(np.float64, na_value=np.nan)))

        return refine

    fn = RELATION_FNS[predicate]

    @F.pandas_udf(BooleanType())
    def refine(a: pd.Series, b: pd.Series) -> pd.Series:
        # group identical right-side geometries (broadcast polygons repeat
        # across candidates) and reuse the parsed object — the analogue of
        # the reference's prepared-geometry cache (refine/geos.rs)
        cache = {}

        def get(v):
            g = cache.get(v)
            if g is None:
                g = wkb.parse(v)
                cache[v] = g
            return g

        return pd.Series(
            [
                False if (x is None or y is None) else bool(fn(get(x), get(y)))
                for x, y in zip(a, b)
            ],
            dtype=bool,
        )

    return refine


def _pip_keep(predicate: str, loc: np.ndarray) -> np.ndarray:
    """``point PREDICATE polygon`` from the point's location: within (and
    contains) the open interior, touches the boundary, the other point
    predicates the closed polygon."""
    if predicate in ("within", "contains"):
        return loc == algos.INTERIOR
    if predicate == "touches":
        return loc == algos.BOUNDARY
    return loc != algos.OUTSIDE


def _point_in_polygon_refine_udf(predicate: str):
    """Vectorized refine for the hot case: left side is points.

    Candidates are processed per Arrow batch; within a batch we group by
    the polygon buffer and run ONE vectorized ray-cast per polygon over all
    its candidate points — no per-row Python on the 10^12-row side.
    """

    @F.pandas_udf(BooleanType())
    def refine(px: pd.Series, py: pd.Series, poly_wkb: pd.Series) -> pd.Series:
        n = len(px)
        out = np.zeros(n, dtype=bool)
        xs = px.to_numpy(dtype=np.float64, na_value=np.nan)
        ys = py.to_numpy(dtype=np.float64, na_value=np.nan)
        groups: dict = {}
        for i, v in enumerate(poly_wkb):
            if v is not None:
                groups.setdefault(v, []).append(i)
        for v, idxs in groups.items():
            ii = np.array(idxs)
            out[ii] = _pip_keep(predicate, algos.locate_points_in_geometry(xs[ii], ys[ii], wkb.parse(v)))
        return pd.Series(out)

    return refine


_BIG_CELLS = 4096  # an indexed envelope over more cells is scanned, not listed


def _nonflat(x0, y0, x1, y1):
    """Grid bounds from a box: the box, with a degenerate side widened."""
    tiny = 2.0 ** -20 * max(x1 - x0, y1 - y0, abs(x0), abs(y0), abs(x1), abs(y1), 1.0)
    return x0, y0, max(x1, x0 + tiny), max(y1, y0 + tiny)


class _EnvIndex:
    """Columnar cell index over envelopes (*Columnar Formatted Inverted
    Index*, ICDE 2025): ``keys``, the cells every (n, 4) ``env`` covers,
    sorted; ``ords[k]``, the envelope under ``keys[k]``; ``rids``, one id per
    envelope. An envelope over ``_BIG_CELLS`` cells is not listed but kept
    in ``big``, which every probe row scans. With ``dist`` every envelope
    grows by its row's distance plus a rounding slack, and a NULL or NaN
    distance covers nothing. The grid spans ``bounds`` (outside it, cells
    clamp to the edge), or the (expanded) envelopes when ``bounds`` is None,
    at ``grid_level``, or at a level fitted to those envelopes."""

    def __init__(self, env: np.ndarray, rids: np.ndarray, grid_level: Optional[int],
                 dist: Optional[np.ndarray] = None, bounds=WORLD):
        if dist is not None:
            pad = dist + 2.0 ** -40 * (np.abs(env).max(axis=1) + np.abs(dist))
            env = env + pad[:, None] * np.array([-1.0, -1.0, 1.0, 1.0])
        e = env[~np.isnan(env[:, 0])]
        if bounds is None:
            bounds = _nonflat(*e[:, :2].min(axis=0), *e[:, 2:].max(axis=0)) if len(e) else WORLD
        if grid_level is None:
            grid_level = pick_level_for_envelopes(e[:, 2] - e[:, 0], e[:, 3] - e[:, 1], bounds)
        self.env, self.rids, self.dist, self.grid = env, rids, dist, Grid(grid_level, bounds)
        row, cells, cnt = _env_cells(self.grid, env, cap=_BIG_CELLS)
        order = np.argsort(cells, kind="stable")
        self.keys, self.ords = cells[order], row[order]
        self.big = np.nonzero(cnt > _BIG_CELLS)[0]

    def candidates(self, env: np.ndarray):
        """Deduplicated (probe row, indexed row) pairs whose envelopes
        overlap. A probe row looks up the cells its envelope covers, or
        scans the indexed envelopes when that touches fewer entries."""
        nb = len(self.env)
        row, cells, cnt = _env_cells(self.grid, env, cap=len(self.keys))
        lo = np.searchsorted(self.keys, cells, "left")
        hit, pos = _ranges(lo, np.searchsorted(self.keys, cells, "right") - lo)
        big = np.nonzero(cnt > len(self.keys))[0]
        every = np.arange(len(env))
        i = np.concatenate([row[hit], np.repeat(big, nb), np.repeat(every, len(self.big))])
        j = np.concatenate([self.ords[pos], np.tile(np.arange(nb), len(big)),
                            np.tile(self.big, len(env))])
        if (cnt > 1).any() or (len(big) and len(self.big)):  # a pair found twice
            u = np.unique(i * nb + j)
            i, j = u // nb, u % nb
        b, e = self.env[j], env[i]
        ok = (b[:, 0] <= e[:, 2]) & (b[:, 2] >= e[:, 0]) & (b[:, 1] <= e[:, 3]) & (b[:, 3] >= e[:, 1])
        return i[ok], j[ok]


class _ProbeIndex(_EnvIndex):
    """``_EnvIndex`` over the build rows of a broadcast join, broadcast with
    the build WKB and ``_rid``s; a worker parses each build geometry once
    (``geom``)."""

    def __init__(self, bufs, rids: np.ndarray, grid_level: Optional[int],
                 dist: Optional[np.ndarray] = None):
        arr = pa.array(bufs, pa.binary())
        self.bufs = arr.to_pylist()
        self.x, self.y, env, _ = wkb.xy_env(arr)
        super().__init__(env, rids, grid_level, dist)
        self.kinds = wkb.shape_kinds(self.bufs)
        self._geoms = {}

    def geom(self, j: int):
        g = self._geoms.get(j)
        if g is None:
            g = self._geoms[j] = wkb.parse(self.bufs[j])
        return g

    def match(self, predicate: str, arr: pa.Array):
        """(probe row, build row) pairs of a batch of left WKB satisfying
        ``left PREDICATE build``: points against polygons by one vectorised
        point-in-polygon per build row, other pairs by the exact predicate."""
        x, y, env, geoms = wkb.xy_env(arr)
        i, j = self.candidates(env)
        if predicate == "dwithin":
            return self._dwithin(arr, x, y, i, j)
        pip = (predicate in _PIP_PREDS) & np.isin(self.kinds[j], list(_AREAL_KINDS)) & ~np.isnan(x[i])
        ok = np.zeros(len(i), dtype=bool)
        grp = np.nonzero(pip)[0][np.argsort(j[pip], kind="stable")]
        for g in np.split(grp, np.nonzero(np.diff(j[grp]))[0] + 1):
            if len(g):
                loc = algos.locate_points_in_geometry(x[i[g]], y[i[g]], self.geom(j[g[0]]))
                ok[g] = _pip_keep(predicate, loc)
        fn = RELATION_FNS[predicate]
        for k in np.nonzero(~pip)[0]:
            a = geoms.get(i[k])
            a = wkb.point(x[i[k]], y[i[k]]) if a is None else a
            ok[k] = bool(fn(a, self.geom(j[k])))
        return i[ok], j[ok]

    def _dwithin(self, arr: pa.Array, x, y, i, j):
        """Point x point pairs by the cell join's column refine,
        ``sqrt(dx*dx + dy*dy) <= d`` on the decoded x/y (NaN never
        matches); every other pair by the dwithin kernel."""
        d = self.dist[j]
        pp = ~np.isnan(x[i]) & ~np.isnan(self.x[j])
        dx, dy = x[i] - self.x[j], y[i] - self.y[j]
        with np.errstate(invalid="ignore"):
            ok = pp & (np.sqrt(dx * dx + dy * dy) <= d) & ~np.isnan(d)
        k = np.nonzero(~pp)[0]
        if len(k):
            ok[k] = _dwithin_pairs(arr.take(pa.array(i[k], pa.int64())).to_pylist(),
                                   [self.bufs[t] for t in j[k]], d[k])
        return i[ok], j[ok]


def _broadcast_probe(L: DataFrame, R: DataFrame, lgeom: str, rgeom: str, predicate: str,
                     how: str, grid_level: Optional[int], est_bytes) -> DataFrame:
    """Join against a broadcast right side (module docstring, BROADCAST
    PROBE); a ``dwithin`` right side carries its distance in ``_dist``."""
    semi = {"left_semi": True, "semi": True, "left_anti": False, "anti": False}.get(how)
    outer_l = how in ("left", "full", "outer", "full_outer")
    outer_r = how in ("right", "full", "outer", "full_outer")
    if semi is None and how not in ("inner", "left") and not outer_r:
        raise ValueError(f"unsupported how={how!r}")
    # _rid hashes the whole right row: equal ids, equal geometry and distance
    dwithin = predicate == "dwithin"
    cols = ["_rid", rgeom] + (["_dist"] if dwithin else [])
    rows = {r[0]: r[1:] for r in R.select(*cols).collect()}
    dist = np.array([r[1] for r in rows.values()], np.float64) if dwithin else None  # NULL: NaN
    index = _ProbeIndex([r[0] for r in rows.values()], np.fromiter(rows, np.int64, len(rows)),
                        grid_level, dist)
    _log_route("broadcast_probe", est_bytes, len(rows), set(index.kinds.tolist()),
               index.grid.level)
    bc = L.sparkSession.sparkContext.broadcast(index)
    gi = L.columns.index(lgeom)

    def probe(batches):
        ix = bc.value
        for batch in batches:
            i, j = ix.match(predicate, batch.column(gi))
            if semi is not None:
                hit = np.unique(i)
                yield batch.take(hit if semi else np.setdiff1d(np.arange(batch.num_rows), hit))
                continue
            miss = np.setdiff1d(np.arange(batch.num_rows), i) if outer_l else i[:0]
            rid = pa.array(np.concatenate([ix.rids[j], miss]),  # NULL _rid for misses
                           mask=np.arange(len(i) + len(miss)) >= len(i))
            yield batch.take(np.concatenate([i, miss])).append_column("_rid", rid)

    fields = L.schema.fields + ([] if semi is not None else [StructField("_rid", LongType())])
    out = L.mapInArrow(probe, StructType(fields))
    out_l = [F.col(c).alias(c[3:]) for c in L.columns]
    if semi is not None:
        return out.select(*out_l)
    out_r = [F.col(c).alias(c[3:]) for c in R.columns if c not in ("_rid", "_dist")]
    res = out.join(F.broadcast(R), "_rid", "left" if outer_l else "inner").select(*out_l, *out_r)
    if outer_r:
        null_l = [F.lit(None).cast(f.dataType).alias(f.name[3:]) for f in L.schema.fields]
        res = res.union(R.join(out.select("_rid"), "_rid", "left_anti").select(*null_l, *out_r))
    return res


def spatial_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    left_geom: str = "geometry",
    right_geom: str = "geometry",
    how: str = "inner",
    distance=None,
    grid_level: Optional[int] = None,
    broadcast_right: Optional[bool] = None,
    left_is_points: Optional[bool] = None,
    left_xy: Optional[tuple] = None,
    right_is_rects: Optional[bool] = None,
    salt_replicas: int = 0,
) -> DataFrame:
    """Spatial join: ``left PREDICATE right`` with OGC semantics.

    predicate: intersects|contains|within|covers|covered_by|touches|
               crosses|overlaps|equals|dwithin
    how: inner|left|right|left_semi|left_anti
    distance: for dwithin — a literal or a Column (column-valued distances
              match the reference's `tests/test_sjoin.py` cases)
    left_xy: optional (x_col, y_col) names on `left` holding the point
             coordinates as plain doubles (e.g. the pages table's lon/lat).
             Unlocks the ALL-JVM fast path: cell assignment by codegen bit
             math (`tiling.cell_expr`) and — when the right side is
             axis-aligned rectangles — a pure-column refine, i.e. zero
             Python in the whole join.
    """
    predicate = predicate.lower()
    how = how.lower()
    if predicate != "dwithin" and predicate not in RELATION_FNS:
        raise ValueError(f"unknown predicate {predicate!r}")

    # Geography dispatch: columns tagged edges=spherical must take the
    # great-circle joins — planar degree math on geography is a silent
    # wrong answer (the reference dispatches on the Geography type).
    from ..types import get_geom_meta

    l_edges = (get_geom_meta(left, left_geom) or {}).get("edges", "planar")
    r_edges = (get_geom_meta(right, right_geom) or {}).get("edges", "planar")
    if l_edges != r_edges:
        raise ValueError(
            f"spatial_join mixes edges semantics: left {left_geom!r} is "
            f"{l_edges}, right {right_geom!r} is {r_edges} — transform one side"
        )
    l_crs = (get_geom_meta(left, left_geom) or {}).get("crs")
    r_crs = (get_geom_meta(right, right_geom) or {}).get("crs")
    if l_crs is not None and r_crs is not None and l_crs != r_crs:
        # the reference raises on CRS mismatch between geometry args
        # (sedona-schema datatypes matcher); joining EPSG:3857 meters
        # against EPSG:4326 degrees is a silent wrong answer
        raise ValueError(
            f"CRS mismatch: left {left_geom!r} has {l_crs!r}, right "
            f"{right_geom!r} has {r_crs!r}; use ST_Transform first"
        )
    if l_edges == "spherical":
        if predicate == "dwithin":
            if distance is None or isinstance(distance, Column):
                raise NotImplementedError(
                    "geography dwithin needs a literal meters distance"
                )
            return geography_dwithin_join(
                left, right, distance_m=float(distance),
                left_geom=left_geom, right_geom=right_geom, how=how,
            )
        # Point left side, confirmed in the JVM; rows past the offender cap
        # are caught by the refine's strict decode.
        if not np.all(_point_offenders(left, left_geom) == wkb.KIND_POINT):
            raise NotImplementedError(
                "geography relation joins support a POINT left side vs a "
                "polygon right side (great-circle PIP); for other shapes "
                "use geography_dwithin_join or project to a planar CRS"
            )
        return geography_pip_join(
            left, right, predicate=predicate,
            left_geom=left_geom, right_geom=right_geom, how=how,
        )

    # Narrow scans (single-row-group parquet = one unsplittable task) would
    # run the whole broadcast-join pipeline — cell UDFs, refine, agg — on a
    # single core while the rest of the cluster idles. No-op whenever the
    # scan already carries >= defaultParallelism partitions (any real
    # corpus), so at scale this costs nothing.
    left = fan_out(left)
    right = fan_out(right)

    # column-valued dwithin distance is evaluated against the ORIGINAL right
    # frame before prefixing (matches the reference's column-distance joins,
    # `python/sedonadb/tests/test_sjoin.py` in /root/reference)
    if predicate == "dwithin":
        if distance is None:
            raise ValueError("dwithin requires a distance")
        dexpr = F.lit(float(distance)) if isinstance(distance, (int, float)) else distance
        right = right.withColumn("__sj_dist", dexpr.cast("double"))

    # prefix every column so the two sides can never collide (output keeps
    # original names, duplicates allowed — same contract as df.join)
    #
    # Row ids are CONTENT-DERIVED (xxhash64 of the whole row), not
    # monotonically_increasing_id, which is recomputation-dependent: the
    # plans that re-reference these subtrees could mis-pair rows under AQE
    # re-optimization or task retries (VERDICT.md "What's wrong" item 6).
    # Identical rows share an id, so no route rejoins a payload by an id
    # that several distinct matches share: the cell join's matched pairs
    # carry both payloads, and the probe route matches each distinct right
    # row once, its payload join on _rid returning every copy once. _lid and
    # _ridw are 2x64-bit (collisions negligible at 10^12 rows); _rid is one
    # bigint keying the byte-capped broadcast side.
    lcols, rcols = left.columns, [c for c in right.columns if c != "__sj_dist"]
    L = left.select([F.col(c).alias(f"_l_{c}") for c in lcols])
    R = right.select(
        [F.col(c).alias(f"_r_{c}") for c in rcols]
        + ([F.col("__sj_dist").alias("_dist")] if "__sj_dist" in right.columns else [])
    )
    _r_payload = _hashable(R)
    R = R.withColumn("_rid", F.xxhash64(F.lit(3), *_r_payload))
    lgeom = f"_l_{left_geom}"
    rgeom = f"_r_{right_geom}"
    dist_col = "_dist" if predicate == "dwithin" else None

    # --- broadcast decision FIRST: a broadcast right side is collected
    # once, and that collect serves every planner decision.
    est = None
    if broadcast_right is None:
        # BYTE-based, like spark.sql.autoBroadcastJoinThreshold: estimated
        # geometry payload (row count x avg WKB size) must fit a broadcast.
        # The round-1 build used a bare 2M-row threshold, which at ~1 KB of
        # WKB per polygon pushes GBs through the driver (VERDICT item 2).
        try:
            est = _estimate_bytes(R, rgeom)[1]
            broadcast_right = est <= BROADCAST_BYTES_CAP
        except Exception:
            broadcast_right = False
    if broadcast_right and left_xy is None:
        return _broadcast_probe(L, R, lgeom, rgeom, predicate, how, grid_level, est)

    L = L.withColumn("_lid", _wide_id(1, _hashable(L)))
    R = R.withColumn("_ridw", _wide_id(5, _r_payload))
    rs_cols = [rgeom] + ([dist_col] if dist_col else [])
    if broadcast_right:
        # byte-capped by the decision above (or asserted by the caller,
        # same contract as F.broadcast)
        _rsample_rows = R.select(*rs_cols).collect()
    else:
        # ONE sampled collect drives the grid level and the dwithin
        # expansion, and decides whether a full classification is worth a job
        _rsample_rows = R.select(*rs_cols).limit(1000).collect()

    # --- stats + grid level -------------------------------------------------
    if grid_level is None:
        env = wkb.xy_env([r[0] for r in _rsample_rows])[2]
        env = env[~np.isnan(env[:, 0])]
        widths, heights = env[:, 2] - env[:, 0], env[:, 3] - env[:, 1]
        if dist_col is not None:
            # dwithin covers envelopes EXPANDED by the distance — size the
            # grid for the expanded envelope or point sides explode to
            # millions of cells (analogue of expand_rect_in_place,
            # rust/sedona-spatial-join/src/operand_evaluator.rs:307)
            dsample = [float(r[1]) for r in _rsample_rows if r[1] is not None and r[1] == r[1]]
            dmed = float(np.median(dsample)) if dsample else 0.0
            widths = (widths if len(widths) else np.zeros(1)) + 2.0 * dmed
            heights = (heights if len(heights) else np.zeros(1)) + 2.0 * dmed
        grid_level = pick_level_for_envelopes(widths, heights)
    grid = Grid(grid_level)

    # --- routes: set tests over the shape kinds of each side -----------------
    # A fast route must hold for EVERY row: a heterogeneous side (points
    # first, polygons past a sample) routed by a sample alone would drop
    # its tail silently. The left side is confirmed in the JVM; the right
    # side's kinds are complete when broadcast, else the sample decides
    # whether the one-job full classification runs.
    if left_xy is not None:
        left_is_points = True
    elif left_is_points is None:
        off = _point_offenders(L, lgeom)
        left_is_points = len(off) <= _OFFENDER_CAP and bool(np.all(off == wkb.KIND_POINT))
    pip = bool(left_is_points) and predicate in _PIP_PREDS
    pp = bool(left_is_points) and predicate == "dwithin"
    fast = _AREAL_KINDS if pip else _POINT_KINDS if pp else set()
    rkinds = set()
    if right_is_rects and pip:
        rkinds = {wkb.KIND_RECT}  # the caller's assertion
    elif fast:
        rkinds = set(wkb.shape_kinds([r[0] for r in _rsample_rows]).tolist())
        if rkinds and rkinds <= fast and not broadcast_right:
            rkinds = _side_kinds(R, rgeom)
    # rect (admin boxes, tile grids, envelope layers): pure-column refine;
    # areal: vectorised PIP (a puntal/lineal row would read as "outside");
    # NULL disqualifies both, so they take the generic refiner
    if right_is_rects is None:
        right_is_rects = rkinds == {wkb.KIND_RECT}
    right_is_rects = pip and bool(right_is_rects)
    right_is_areal = pip and bool(rkinds) and rkinds <= _AREAL_KINDS
    right_is_points = pp and rkinds <= _POINT_KINDS
    _log_route("cell_join", est, len(_rsample_rows) if broadcast_right else None,
               rkinds, grid_level)
    if right_is_rects:
        rb0 = _bounds_udf()(F.col(rgeom))
        R = (
            R.withColumn("_rbx", rb0)
            .withColumn("_rx0", F.col("_rbx.xmin"))
            .withColumn("_ry0", F.col("_rbx.ymin"))
            .withColumn("_rx1", F.col("_rbx.xmax"))
            .withColumn("_ry1", F.col("_rbx.ymax"))
            .drop("_rbx")
        )

    # --- cover both sides -----------------------------------------------------
    # point left sides NEVER explode — for dwithin the distance expansion
    # lives entirely on the right side's covered envelope, so a point's own
    # cell is always matched (round 1 needlessly exploded points for
    # dwithin, which also dragged the PBSM dedup's bounds UDFs into the
    # candidate stream). A point side is decoded ONCE: the struct<x, y,
    # cell> feeds both the join key and the refine.
    cover = _cover_cells_udf(grid)
    if left_is_points:
        if left_xy is not None:
            px = F.col(f"_l_{left_xy[0]}").cast("double")
            py = F.col(f"_l_{left_xy[1]}").cast("double")
            Lc = L.withColumn("_cell", cell_expr(grid, px, py)).where(
                px.isNotNull() & py.isNotNull()
            )
        else:
            Lc = (L.withColumn("_lxy", _point_xy(F.col(lgeom), ("left", "spatial_join"), grid))
                  .withColumn("_cell", F.col("_lxy.cell"))
                  .where(F.col("_cell").isNotNull()))
            px, py = F.col("_lxy.x"), F.col("_lxy.y")
        left_exploded = False
    else:
        Lc = (
            L.withColumn("_lc", cover(F.col(lgeom), F.lit(0.0)))
            .where(F.col("_lc.cells").isNotNull())
            .withColumn("_cell", F.explode("_lc.cells"))
            .drop("_lc")
        )
        left_exploded = True

    Rc = (
        R.withColumn("_rc", cover(F.col(rgeom),
                                  F.col(dist_col) if dist_col else F.lit(0.0)))
        .where(F.col("_rc.cells").isNotNull())
        .select("*", F.col("_rc.x").alias("_rx"), F.col("_rc.y").alias("_ry"),
                F.explode("_rc.cells").alias("_cell"))
        .drop("_rc")
    )
    right_exploded = True

    if salt_replicas > 1 and not broadcast_right:
        # Zipf-skewed cells (hotspot cities) overwhelm single reduce tasks
        # in a shuffled cell join; salting splits each hot cell across
        # `salt_replicas` sub-keys — the big side picks one salt at random,
        # the small side replicates into all of them (SURVEY.md §4 skew row)
        Lc = Lc.withColumn(
            "_salt", (F.rand(42) * salt_replicas).cast("int")
        )
        Rc = Rc.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_replicas - 1)))
        )
        cand = Lc.join(Rc, on=["_cell", "_salt"], how="inner").drop("_salt")
    else:
        Rj = F.broadcast(Rc) if broadcast_right else Rc
        cand = Lc.join(Rj, on="_cell", how="inner")

    # --- PBSM dedup (only when both sides exploded) ----------------------------
    if left_exploded and right_exploded:
        # emit in the cell containing the reference corner of the bbox pair
        lb = _bounds_udf()(F.col(lgeom))
        rb = _bounds_udf()(F.col(rgeom))
        cand = cand.withColumn("_lb", lb).withColumn("_rb", rb)
        # dwithin: the right side covered an envelope EXPANDED by the
        # distance — dedup must reference the same expanded envelope, or
        # pairs whose raw bboxes are disjoint get dropped
        r_xmin = F.col("_rb.xmin") - (F.col(dist_col) if dist_col else F.lit(0.0))
        r_ymin = F.col("_rb.ymin") - (F.col(dist_col) if dist_col else F.lit(0.0))
        refx = F.greatest(F.col("_lb.xmin"), r_xmin)
        refy = F.greatest(F.col("_lb.ymin"), r_ymin)
        cell_env = _cell_env_exprs(grid, "_cell")
        cand = cand.where(
            (refx >= cell_env[0])
            & (refx < cell_env[2])
            & (refy >= cell_env[1])
            & (refy < cell_env[3])
            # clamp: reference corner outside world bounds lands in edge cell
            | ((refx >= grid.bounds[2]) & (cell_env[2] >= grid.bounds[2]))
            | ((refy >= grid.bounds[3]) & (cell_env[3] >= grid.bounds[3]))
        ).drop("_lb", "_rb")

    # --- refine -----------------------------------------------------------------
    if right_is_rects:
        # pure-column point-in-rectangle refine (whole-stage codegen)
        x0, y0, x1, y1 = (F.col(c) for c in ("_rx0", "_ry0", "_rx1", "_ry1"))
        inside_open = (px > x0) & (px < x1) & (py > y0) & (py < y1)
        inside_closed = (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
        if predicate == "within":
            ok = inside_open
        elif predicate in ("covered_by", "intersects"):
            ok = inside_closed
        else:  # touches: closed-box minus interior
            ok = inside_closed & ~inside_open
        cand = cand.withColumn("_ok", ok)
    elif right_is_areal:
        # vectorized PIP, polygon side `right`: point within -> interior,
        # covered_by/intersects -> not outside, touches -> boundary
        pipr = _point_in_polygon_refine_udf(predicate)
        cand = cand.withColumn("_ok", pipr(px, py, F.col(rgeom)))
    elif right_is_points:
        # column refine on the decoded x/y, so it becomes the join
        # condition. sqrt(dx*dx + dy*dy), NOT hypot: hypot rounds up to
        # 1 ulp differently from a SQL oracle (ADVICE item 4). Spark
        # orders NaN above every double (`x <= NaN` is true): guard it.
        d = F.col(dist_col)
        dx, dy = px - F.col("_rx"), py - F.col("_ry")
        cand = cand.withColumn(
            "_ok", (F.sqrt(dx * dx + dy * dy) <= d) & ~F.isnan(d))
    elif predicate == "dwithin":
        refine = _refine_udf("dwithin")
        cand = cand.withColumn("_ok", refine(F.col(lgeom), F.col(rgeom), F.col(dist_col)))
    else:
        refine = _refine_udf(predicate)
        cand = cand.withColumn("_ok", refine(F.col(lgeom), F.col(rgeom)))

    matched = cand.where(F.col("_ok"))

    out_l = [F.col(f"_l_{c}").alias(c) for c in lcols]
    out_r = [F.col(f"_r_{c}").alias(c) for c in rcols]

    if how == "inner":
        return matched.select(*out_l, *out_r)
    if how in ("left_semi", "semi"):
        ids = matched.select("_lid").distinct()
        return L.join(ids, "_lid", "left_semi").select(*out_l)
    if how in ("left_anti", "anti"):
        ids = matched.select("_lid").distinct()
        return L.join(ids, "_lid", "left_anti").select(*out_l)
    # Outer variants: matched pairs already carry BOTH payloads, so emit
    # them directly and add null-padded unmatched rows via left_anti on the
    # content-derived ids (the visited-bitmap variants of the reference,
    # stream.rs:292-388). NEVER rejoin payloads by content id — identical
    # input rows share an id, so an id-keyed rejoin multiplies their
    # matches k-fold (round-2 advisor HIGH finding).
    null_r = [F.lit(None).cast(R.schema[f"_r_{c}"].dataType).alias(c) for c in rcols]
    null_l = [F.lit(None).cast(L.schema[f"_l_{c}"].dataType).alias(c) for c in lcols]
    if how == "left":
        inner = matched.select(*out_l, *out_r)
        l_unmatched = (
            L.join(matched.select("_lid").distinct(), "_lid", "left_anti")
            .select(*out_l, *null_r)
        )
        # positional union: output may legitimately carry duplicate column
        # names (same contract as df.join), which unionByName rejects
        return inner.union(l_unmatched)
    if how == "right":
        inner = matched.select(*out_l, *out_r)
        r_unmatched = (
            R.join(matched.select("_ridw").distinct(), "_ridw", "left_anti")
            .select(*null_l, *out_r)
        )
        return inner.union(r_unmatched)
    if how in ("full", "outer", "full_outer"):
        inner = matched.select(*out_l, *out_r)
        l_unmatched = (
            L.join(matched.select("_lid").distinct(), "_lid", "left_anti")
            .select(*out_l, *null_r)
        )
        r_unmatched = (
            R.join(matched.select("_ridw").distinct(), "_ridw", "left_anti")
            .select(*null_l, *out_r)
        )
        return inner.union(l_unmatched).union(r_unmatched)
    raise ValueError(f"unsupported how={how!r}")


def _cell_env_exprs(grid: Grid, cell_col: str):
    """Pure-Spark (codegen'd) cell -> envelope, via bit math on the quadkey."""
    m = F.col(cell_col).cast("bigint")
    # de-interleave in SQL would be heavy; instead use a pandas UDF once
    @F.pandas_udf(
        StructType(
            [
                StructField("x0", DoubleType()),
                StructField("y0", DoubleType()),
                StructField("x1", DoubleType()),
                StructField("y1", DoubleType()),
            ]
        )
    )
    def envs(c: pd.Series) -> pd.DataFrame:
        x0, y0, x1, y1 = grid.cell_env(c.to_numpy(dtype=np.int64))
        return pd.DataFrame({"x0": x0, "y0": y0, "x1": x1, "y1": y1})

    e = envs(m)
    return (e.getField("x0"), e.getField("y0"), e.getField("x1"), e.getField("y1"))


_M_PER_DEG_LAT = 111194.9266  # pi/180 * mean earth radius


def geography_dwithin_join(
    left: DataFrame,
    right: DataFrame,
    distance_m: float,
    left_geom: str = "geometry",
    right_geom: str = "geometry",
    broadcast_right: Optional[bool] = None,
    strategy: str = "auto",
    how: str = "inner",
) -> DataFrame:
    """Geography (spherical-edges) distance join.

    The reference's spatial-join optimizer only rewrites PLANAR joins —
    geography falls back to an exact nested-loop join
    (rust/sedona-spatial-join/src/optimizer.rs:1015-1055 in /root/reference).
    We improve on that fallback with a LAT-LON CELL equi-join prefilter.
    Latitude: two points within ``distance_m`` differ by at most
    distance_m / 111.19 km in latitude (exactly — a degree of latitude is
    never shorter than that). Longitude: from the haversine identity
    sin²(Δλ/2) = (sin²(d/2R) − sin²(Δφ/2)) / (cosφ₁·cosφ₂), any pair
    within d and with both |φ| ≤ φmax satisfies
    Δλ ≤ 2·asin(sin(d/2R)/cos φmax), so each latitude band gets its own
    longitude band width computed from the extreme |φ| reachable by pairs
    touching it (bands near the poles collapse to a single bucket). The
    join key is the (latband, lonband) cell; the build side explodes to
    its ≤9 neighboring cells (deduped), so the candidate join stays an
    equi-join at any scale and candidate volume tracks output volume
    instead of |L|·|R_band|. Longitude bands are equal-width modulo 360°,
    so antimeridian-straddling pairs land in circularly-adjacent cells
    and survive the prefilter; the haversine refine then measures them
    correctly where a planar join would find nothing.

    ``strategy='auto'`` picks the broadcast nested loop only when BOTH
    the build side fits the broadcast cap AND |L|·|R| stays under
    ~32M pairs — a 64 MB build side can still mean billions of
    Python-refined pairs (sf1: 150k × 10k = 1.5e9), which is a scale
    cliff, not a plan."""
    left = fan_out(left)  # broadcast path is shuffle-free for the probe side
    lcols, rcols = left.columns, right.columns
    L = left.select([F.col(c).alias(f"_l_{c}") for c in lcols])
    R = right.select([F.col(c).alias(f"_r_{c}") for c in rcols])
    lg, rg = f"_l_{left_geom}", f"_r_{right_geom}"

    if strategy == "auto":
        if broadcast_right is None:
            try:
                n_r, est = _estimate_bytes(R, rg)
                # broadcast here is a NESTED LOOP: every probe row meets
                # every build row in the Python refine, so cap the PAIR
                # count, not just the build bytes — a 1 MB build side
                # against a 150k probe is already 1.5e9 refined pairs
                broadcast_right = (
                    est <= BROADCAST_BYTES_CAP
                    and L.count() * max(n_r, 1) <= _GEOG_NL_PAIRS_CAP
                )
            except Exception:
                broadcast_right = False
        strategy = "broadcast" if broadcast_right else "banded"

    @F.pandas_udf(BooleanType())
    def refine(a: pd.Series, b: pd.Series) -> pd.Series:
        ax, ay, av = wkb.decode_points_xy(list(a))
        bx, by, bv = wkb.decode_points_xy(list(b))
        # strict decode: the band prefilter and this haversine kernel are
        # point-only; a non-point row must raise, not silently vanish in
        # the mask (ADVICE r3 medium — sample-decides-without-confirm)
        _raise_on_nonpoint(a, av, "left", "geography_dwithin_join")
        _raise_on_nonpoint(b, bv, "right", "geography_dwithin_join")
        d = algos.haversine_m(ax, ay, bx, by)
        return pd.Series(av & bv & (d <= distance_m))

    if strategy == "broadcast":
        cand = L.crossJoin(F.broadcast(R))
    else:
        cand = _geog_cell_candidates(L, R, lg, rg, distance_m)

    out = cand.where(refine(F.col(lg), F.col(rg)))
    return _geography_join_finish(out, L, R, lcols, rcols, how, seed=11)


_GEOG_NL_PAIRS_CAP = 32_000_000


def _geog_cell_candidates(L, R, lg: str, rg: str, distance_m: float):
    """(latband, lonband) cell-grid candidate join for spherical dwithin.

    Every expression below the two point-decode UDFs is built-in (stays in
    whole-stage codegen); the join is a plain equi-join on the cell struct
    so Spark's hash join / AQE handles distribution and skew. The build
    side explodes to its ≤9 neighboring cells — ``array_distinct`` keeps
    each (probe, build) candidate unique when the longitude ring has <3
    bands, so no dedup pass is needed after the refine.

    Longitude band width per latitude band lb is derived from the
    haversine bound Δλ ≤ 2·asin(sin(d/2R)/cos φmax) with
    φmax = (max(|lb|,|lb+1|) + 1)·band_deg — the extreme latitude any
    member of a qualifying pair touching band lb can reach (the partner
    may sit one band poleward). Bands where cos φmax ≤ sin(d/2R) have no
    finite Δλ bound (pole caps) and collapse to one bucket. The ring is
    divided into nlon = floor(360/Δλmax) EQUAL-width bands (never a
    narrow seam band at the antimeridian), so |Δλ| ≤ ring width always
    implies circular band-index distance ≤ 1 and the ±1 explode is
    sufficient — including for pairs straddling ±180°."""
    import math as _math

    band_deg = max(distance_m / _M_PER_DEG_LAT, 1e-9)
    sin_half = _math.sin(min(distance_m / (2.0 * algos.EARTH_RADIUS_M),
                             _math.pi / 2.0))

    def nlon_expr(lb):
        phimax = F.least(
            F.lit(89.999999),
            (F.greatest(F.abs(lb), F.abs(lb + F.lit(1))) + F.lit(1))
            * F.lit(band_deg),
        )
        cosphi = F.cos(F.radians(phimax))
        width = F.degrees(
            F.lit(2.0) * F.asin(F.least(F.lit(1.0), F.lit(sin_half) / cosphi))
        )
        return (
            F.when(cosphi <= F.lit(sin_half), F.lit(1))
            .otherwise(F.greatest(F.lit(1), F.floor(F.lit(360.0) / width)))
            .cast("long")
        )

    def lon_band(lonn, nlon):
        # equal-width bands: idx = floor(lonn * nlon / 360), clamped for
        # float edge cases at exactly 360/nlon multiples
        return F.least(
            F.floor(lonn * nlon / F.lit(360.0)), nlon - F.lit(1)
        ).cast("long")

    Lb = (
        L.withColumn("_gxy", _point_xy(F.col(lg)))
        .withColumn("_lb", F.floor(F.col("_gxy.y") / F.lit(band_deg)).cast("long"))
    )
    lonn_l = F.pmod(F.col("_gxy.x") + F.lit(180.0), F.lit(360.0))
    nlon_l = nlon_expr(F.col("_lb"))
    Lb = Lb.withColumn(
        "_cell",
        F.struct(
            F.col("_lb").alias("b"), lon_band(lonn_l, nlon_l).alias("l")
        ),
    ).drop("_gxy", "_lb")

    Rb = (
        R.withColumn("_gxy", _point_xy(F.col(rg)))
        .withColumn("_rb0", F.floor(F.col("_gxy.y") / F.lit(band_deg)).cast("long"))
    )
    lonn_r = F.pmod(F.col("_gxy.x") + F.lit(180.0), F.lit(360.0))
    cells = []
    for dt in (-1, 0, 1):
        tb = (F.col("_rb0") + F.lit(dt)).cast("long")
        nl = nlon_expr(tb)
        cl0 = lon_band(lonn_r, nl)
        for dl in (-1, 0, 1):
            cells.append(
                F.struct(
                    tb.alias("b"),
                    F.pmod(cl0 + F.lit(dl), nl).cast("long").alias("l"),
                )
            )
    Rb = Rb.withColumn(
        "_cell", F.explode(F.array_distinct(F.array(*cells)))
    ).drop("_gxy", "_rb0")
    return Lb.join(Rb, on="_cell", how="inner").drop("_cell")


def _geography_join_finish(out, L, R, lcols, rcols, how: str, seed: int):
    """Join-type finishing shared by the geography joins — full parity
    with the planar spatial_join's how= surface (round 4). Matched pairs
    carry both payloads (no id-keyed rejoin — identical rows share
    content ids, and a rejoin would multiply their matches); ids only
    drive unmatched/semi/anti detection, 2x64-bit for 10^12-row
    collision safety."""
    out_l = [F.col(f"_l_{c}").alias(c) for c in lcols]
    out_r = [F.col(f"_r_{c}").alias(c) for c in rcols]
    how = how.lower()
    if how == "inner":
        return out.select(*out_l, *out_r)
    lid = _wide_id(seed, _hashable(L))
    rid = _wide_id(seed + 2, _hashable(R))
    null_r = [F.lit(None).cast(R.schema[f"_r_{c}"].dataType).alias(c) for c in rcols]
    null_l = [F.lit(None).cast(L.schema[f"_l_{c}"].dataType).alias(c) for c in lcols]
    if how in ("left_semi", "left_anti"):
        matched = out.select(lid.alias("_lid")).distinct()
        side = "left_semi" if how == "left_semi" else "left_anti"
        return (
            L.withColumn("_lid", lid)
            .join(matched, "_lid", side)
            .select(*out_l)
        )
    inner = out.select(*out_l, *out_r)
    l_unmatched = (
        L.withColumn("_lid", lid)
        .join(out.select(lid.alias("_lid")).distinct(), "_lid", "left_anti")
        .select(*out_l, *null_r)
    )
    r_unmatched = (
        R.withColumn("_rid", rid)
        .join(out.select(rid.alias("_rid")).distinct(), "_rid", "left_anti")
        .select(*null_l, *out_r)
    )
    if how == "left":
        return inner.union(l_unmatched)
    if how == "right":
        return inner.union(r_unmatched)
    if how == "full":
        return inner.union(l_unmatched).union(r_unmatched)
    raise ValueError(f"unsupported how={how!r}")


def geography_pip_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    left_geom: str = "geometry",
    right_geom: str = "geometry",
    band_deg: float = 10.0,
    how: str = "inner",
) -> DataFrame:
    """Geography RELATION join: point left side vs polygon right side with
    GREAT-CIRCLE edge semantics (the reference's geography joins run s2
    predicates through the NLJ fallback, optimizer.rs:1015-1055; here the
    refine is the exact gnomonic spherical-PIP kernel and the prefilter is
    a latitude-band equi-join — scale-safe on both sides).

    predicate: within (interior only) | intersects/covered_by (boundary
    counts). Bands are latitude-only, so antimeridian-straddling data
    joins correctly. Each polygon's band range is padded by half its
    longest edge arc — a great-circle edge cannot stray farther in
    latitude from its endpoints than half its own length."""
    predicate = predicate.lower()
    if predicate not in ("within", "intersects", "covered_by"):
        raise ValueError(f"unsupported geography predicate {predicate!r}")
    from ..functions import geography as G

    left = fan_out(left)  # broadcast path is shuffle-free for the probe side
    lcols, rcols = left.columns, right.columns
    L = left.select([F.col(c).alias(f"_l_{c}") for c in lcols])
    R = right.select([F.col(c).alias(f"_r_{c}") for c in rcols])
    lg, rg = f"_l_{left_geom}", f"_r_{right_geom}"

    @F.pandas_udf(ArrayType(LongType()))
    def poly_bands(s: pd.Series) -> pd.Series:
        out = []
        for v in s:
            if v is None:
                out.append(None)
                continue
            g = wkb.parse(v)
            lats = g.all_coords()[:, 1]
            if not len(lats):
                out.append(None)
                continue
            if not g.polygons():
                # the refine's spherical PIP reads polygon rings only — a
                # puntal/lineal right row would silently test as "outside";
                # fail loud instead (same contract the docstring states)
                raise ValueError(
                    "geography relation join: right side must be polygonal "
                    "(POLYGON/MULTIPOLYGON); got a non-areal geometry"
                )
            # margin: half the longest edge's angular length (degrees)
            margin = 0.0
            for poly in g.polygons():
                for ring in poly.coords:
                    if len(ring) >= 2:
                        d = algos.haversine_m(ring[:-1, 0], ring[:-1, 1],
                                              ring[1:, 0], ring[1:, 1])
                        if len(d):
                            margin = max(margin, float(np.max(d)) / _M_PER_DEG_LAT / 2.0)
            lo = int(np.floor((float(np.min(lats)) - margin) / band_deg))
            hi = int(np.floor((float(np.max(lats)) + margin) / band_deg))
            out.append(list(range(lo, hi + 1)))
        return pd.Series(out, dtype=object)

    Lb = L.withColumn(
        "_band", F.floor(_point_xy(F.col(lg)).getField("y") / F.lit(band_deg)).cast("long"))
    Rb = (
        R.withColumn("_bands", poly_bands(F.col(rg)))
        .where(F.col("_bands").isNotNull())
        .withColumn("_band", F.explode("_bands"))
        .drop("_bands")
    )
    # byte-capped broadcast decision (round-2 VERDICT "What's wrong" #1:
    # this path used to broadcast unconditionally — a large polygon layer
    # would OOM the driver). Above the cap the band join shuffles on _band,
    # which is scale-safe on both sides like the dwithin variant.
    try:
        bcast = _estimate_bytes(R, rg)[1] <= BROADCAST_BYTES_CAP
    except Exception:
        bcast = False
    Rj = F.broadcast(Rb) if bcast else Rb
    cand = Lb.join(Rj, on="_band", how="inner").drop("_band")

    want_interior_only = predicate == "within"

    @F.pandas_udf(BooleanType())
    def refine(a: pd.Series, b: pd.Series) -> pd.Series:
        n = len(a)
        out = np.zeros(n, dtype=bool)
        ax, ay, av = wkb.decode_points_xy(list(a))
        # strict decode: non-null non-point left rows raise instead of
        # being masked out by `out &= av` below (which now only masks
        # genuine NULLs) — ADVICE r3 medium
        _raise_on_nonpoint(a, av, "left", "geography_pip_join")
        groups: dict = {}
        for i, v in enumerate(b):
            if v is not None:
                groups.setdefault(bytes(v), []).append(i)
        for v, idxs in groups.items():
            g = wkb.parse(v)
            ii = np.array(idxs)
            loc = G.locate_points_in_spherical_polygon(ax[ii], ay[ii], g)
            out[ii] = (loc == 2) if want_interior_only else (loc != 0)
        out &= av
        return pd.Series(out)

    out = cand.where(refine(F.col(lg), F.col(rg)))
    return _geography_join_finish(out, L, R, lcols, rcols, how, seed=21)


def _with_probe_ordinal(df: DataFrame, pid_col: str, pos_col: str) -> DataFrame:
    """Attach (partition id, offset within partition) — the probe row's
    arrival coordinates. Offsets are assigned by a streaming mapInPandas
    counter (batches of a partition arrive in order); like the reference's
    probe stream these coordinates describe THIS scan — they order output,
    never key a re-join, so task-retry recomputation cannot mis-pair rows
    (the reason monotonically_increasing_id stays banned elsewhere)."""
    from pyspark.sql.types import LongType, StructField, StructType

    df = df.withColumn(pid_col, F.spark_partition_id())
    # fresh StructType: StructType.add mutates in place, corrupting the
    # DataFrame's cached schema
    schema = StructType(list(df.schema.fields) + [StructField(pos_col, LongType(), False)])

    def gen(it):
        pos = 0
        for pdf in it:
            pdf[pos_col] = np.arange(pos, pos + len(pdf), dtype=np.int64)
            pos += len(pdf)
            yield pdf

    return df.mapInPandas(gen, schema)


def spatial_join_ordered(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    how: str = "inner",
    **kw,
) -> DataFrame:
    """:func:`spatial_join` with PROBE-SIDE ORDER PRESERVATION — output
    rows iterate in the left (probe) side's arrival order, matches of one
    probe row staying adjacent. The reference's SpatialJoinExec preserves
    probe order for Inner/Right joins for free from its single-node
    streaming probe (rust/sedona-spatial-join/src/exec.rs:204-225 in
    /root/reference); on a cluster the analogue is: tag each probe row
    with its (partition, offset) arrival coordinates, run the normal
    two-phase join, then RANGE-partition the (already filtered, much
    smaller) result on those coordinates and sortWithinPartitions — a
    narrow result-sized exchange, never a global driver-side sort of the
    corpus.

    ``how``: ``inner`` orders matched pairs by left (probe) arrival;
    ``right`` matches the reference's Right-outer guarantee — every RIGHT
    row appears (null-extended when unmatched) in the RIGHT side's
    arrival order — implemented by an internal side swap + predicate
    invert (exec.rs preserves the probe stream, and in a Right join the
    probe IS the preserved side). ``left`` is the mirror convenience."""
    how = how.lower()
    if how not in ("inner", "left", "right"):
        raise NotImplementedError(
            "probe-order preservation applies to inner/left/right joins "
            "(the reference preserves order for Inner/Right; use ORDER BY "
            "for full-outer)"
        )
    if how == "right":
        # swap sides so the preserved (right) side is the tagged probe,
        # run as a LEFT join with the predicate inverted, then restore
        # the caller's column order
        if isinstance(kw.get("distance"), Column):
            raise NotImplementedError(
                "right-ordered dwithin with a column-valued distance: "
                "swap the sides yourself so the distance column rides "
                "the probe side")
        swapped = dict(kw)
        lg = swapped.pop("left_geom", "geometry")
        rg = swapped.pop("right_geom", "geometry")
        # side-specific fast-path hints don't survive a swap
        for hint in ("left_is_points", "left_xy", "right_is_rects",
                     "broadcast_right"):
            swapped.pop(hint, None)
        out = spatial_join_ordered(
            right, left, predicate=_INVERT[predicate.lower()], how="left",
            left_geom=rg, right_geom=lg, **swapped)
        return out.select(*left.columns, *right.columns)
    pid_col, pos_col = "_probe_ord_pid", "_probe_ord_pos"
    if pid_col in left.columns or pos_col in left.columns:
        raise ValueError(f"column name collision on {pid_col}/{pos_col}")
    tagged = _with_probe_ordinal(left, pid_col, pos_col)
    J = spatial_join(tagged, right, predicate=predicate, how=how, **kw)
    nparts = max(tagged.rdd.getNumPartitions(), 1)
    return (
        J.repartitionByRange(nparts, pid_col, pos_col)
        .sortWithinPartitions(pid_col, pos_col)
        .drop(pid_col, pos_col)
    )


def knn_join_ordered(probe: DataFrame, build: DataFrame, k: int = 1, **kw) -> DataFrame:
    """:func:`..knn_join.knn_join` with probe-side order preservation —
    output iterates in probe arrival order, each probe row's k neighbors
    adjacent in rank order (the reference's kNN joins stream probe-ordered
    too, rust/sedona-spatial-join/src/exec.rs:204-225)."""
    from .knn_join import knn_join

    pid_col, pos_col = "_probe_ord_pid", "_probe_ord_pos"
    if pid_col in probe.columns or pos_col in probe.columns:
        raise ValueError(f"column name collision on {pid_col}/{pos_col}")
    tagged = _with_probe_ordinal(probe, pid_col, pos_col)
    J = knn_join(tagged, build, k=k, **kw)
    nparts = max(tagged.rdd.getNumPartitions(), 1)
    sort_cols = [pid_col, pos_col] + (["knn_rank"] if "knn_rank" in J.columns else [])
    return (
        J.repartitionByRange(nparts, pid_col, pos_col)
        .sortWithinPartitions(*sort_cols)
        .drop(pid_col, pos_col)
    )


def salt_hot_cells(df: DataFrame, cell_col: str, hot_threshold: int, replicas: int) -> DataFrame:
    """Skew mitigation: split cells whose row count exceeds `hot_threshold`
    into `replicas` salted sub-keys. Join the other side after exploding its
    matching cells × replicas. (Zipfian geotag hotspots — FIXTURES.md §1.)"""
    counts = df.groupBy(cell_col).count().where(F.col("count") > hot_threshold)
    hot = F.broadcast(counts.select(F.col(cell_col).alias("_hot_cell")))
    out = df.join(hot, df[cell_col] == F.col("_hot_cell"), "left")
    return out.withColumn(
        "_salt",
        F.when(F.col("_hot_cell").isNotNull(), (F.rand(42) * replicas).cast("int")).otherwise(0),
    ).drop("_hot_cell")
