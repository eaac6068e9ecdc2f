"""Spatial aggregate functions (reference: `rust/sedona-functions/src/
st_collect.rs`, `st_union_aggr.rs`, `st_intersection_aggr.rs`,
`st_envelope_aggr.rs`, `st_analyze_aggr.rs` + accumulator framework
`rust/sedona-expr/src/aggregate_udf.rs`, all in /root/reference).

Design for scale — each aggregate picks the cheapest Spark shape:

* **ST_Envelope_Aggr** is pure column math: derive (xmin…ymax) once with a
  vectorized bounds UDF (`wkb.xy_env`), then built-in min/max aggregation.
  No geometry objects ever shuffle; this is the one the 100 TB path uses
  for stats.
* **ST_Analyze_Aggr** likewise reduces per-row derived numerics with
  built-in aggregates (two-phase partial/final for free).
* **ST_Collect / ST_Union_Aggr / ST_Intersection_Aggr** genuinely need the
  geometries: collect_list of WKB + a finishing pandas UDF. The finish
  runs per GROUP; grouped aggregation distributes groups across executors.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..geometry import algos, overlay, wkb
from .st import _union as _pairwise_union


def bounds_struct(geom: Column) -> Column:
    """Vectorized geometry -> struct(xmin, ymin, xmax, ymax)."""

    @F.pandas_udf(
        StructType(
            [
                StructField("xmin", DoubleType()),
                StructField("ymin", DoubleType()),
                StructField("xmax", DoubleType()),
                StructField("ymax", DoubleType()),
            ]
        )
    )
    def b(s: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(wkb.xy_env(s)[2], columns=["xmin", "ymin", "xmax", "ymax"])

    return b(geom)


def envelope_aggr(df: DataFrame, geom_col: str, group_cols: Optional[List[str]] = None) -> DataFrame:
    """ST_Envelope_Aggr: aggregate bounding box as a WKB polygon column
    `envelope` (+ numeric xmin/ymin/xmax/ymax). Pure Spark min/max — no
    geometry shuffle (reference: st_envelope_aggr.rs)."""
    df = df.withColumn("_b", bounds_struct(F.col(geom_col)))
    aggs = [
        F.min("_b.xmin").alias("xmin"),
        F.min("_b.ymin").alias("ymin"),
        F.max("_b.xmax").alias("xmax"),
        F.max("_b.ymax").alias("ymax"),
    ]
    out = df.groupBy(*(group_cols or [])).agg(*aggs)

    @F.pandas_udf(BinaryType())
    def mkbox(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None
                if any(v is None or (isinstance(v, float) and np.isnan(v)) for v in t)
                else wkb.encode(wkb.box(*map(float, t)))
                for t in zip(xmin, ymin, xmax, ymax)
            ],
            dtype=object,
        )

    return out.withColumn("envelope", mkbox("xmin", "ymin", "xmax", "ymax"))


def _finish_group(kind: str, items) -> bytes:
    """Finish one group's WKB list for collect/union/intersection — shared
    by the DataFrame API (collect_list + finishing UDF) and the SQL
    GROUPED_AGG registrations."""
    geoms = [wkb.parse(bytes(v)) for v in items if v is not None] if items is not None else []
    geoms = [g for g in geoms if g is not None and not g.is_empty]
    if not geoms:
        # all-null group -> NULL (reference: test_aggregate.py
        # test_st_collect_all_null)
        return (None if kind == "collect"
                else wkb.encode(wkb.Geometry(wkb.GEOMETRYCOLLECTION, [])))
    if kind == "collect":
        # reference raises on mixed coordinate dimensions
        # (test_st_collect_mixed_dimensions)
        dims = {(g.has_z, g.has_m) for g in geoms}
        if len(dims) > 1:
            raise ValueError("ST_Collect does not support mixed dimension geometries")
        types = {g.type_id for g in geoms}
        if types == {wkb.POINT}:
            g = wkb.Geometry(wkb.MULTIPOINT, geoms)
        elif types == {wkb.LINESTRING}:
            g = wkb.Geometry(wkb.MULTILINESTRING, geoms)
        elif types == {wkb.POLYGON}:
            g = wkb.Geometry(wkb.MULTIPOLYGON, geoms)
        else:
            g = wkb.Geometry(wkb.GEOMETRYCOLLECTION, geoms)
    elif kind == "union":
        areal = [x for x in geoms if x.polygons()]
        others = [x for x in geoms if not x.polygons()]
        merged = []
        if areal:
            # dissolving cascaded union (balanced overlay fold)
            merged.append(overlay.union_all(areal))
        if others:
            g = others[0]
            for nxt in others[1:]:
                g = _pairwise_union(g, nxt)
            merged.append(g)
        g = merged[0]
        for nxt in merged[1:]:
            g = _pairwise_union(g, nxt)
    else:  # intersection
        from .st import _intersection

        g = geoms[0]
        for nxt in geoms[1:]:
            g = _intersection(g, nxt)
            if g.is_empty:
                break
    return wkb.encode(g)


def _finish_udf(kind: str):
    @F.pandas_udf(BinaryType())
    def finish(lists: pd.Series) -> pd.Series:
        return pd.Series([_finish_group(kind, items) for items in lists], dtype=object)

    return finish


def collect_aggr(df: DataFrame, geom_col: str, group_cols: Optional[List[str]] = None,
                 out_col: str = "collected") -> DataFrame:
    """ST_Collect: geometries of a group -> one multi-geometry/collection
    (reference: st_collect.rs:48-107)."""
    grouped = df.groupBy(*(group_cols or [])).agg(F.collect_list(geom_col).alias("_geoms"))
    return grouped.withColumn(out_col, _finish_udf("collect")(F.col("_geoms"))).drop("_geoms")


def union_aggr(df: DataFrame, geom_col: str, group_cols: Optional[List[str]] = None,
               out_col: str = "union_geom") -> DataFrame:
    """ST_Union_Aggr: dissolving union per group (reference:
    st_union_aggr.rs). Areal members merge through the exact overlay engine
    (cascaded balanced fold); puntal members dedupe coincident points."""
    grouped = df.groupBy(*(group_cols or [])).agg(F.collect_list(geom_col).alias("_geoms"))
    return grouped.withColumn(out_col, _finish_udf("union")(F.col("_geoms"))).drop("_geoms")


def intersection_aggr(df: DataFrame, geom_col: str, group_cols: Optional[List[str]] = None,
                      out_col: str = "intersection_geom") -> DataFrame:
    """ST_Intersection_Aggr: chained intersection per group (general
    polygons via the overlay engine)."""
    grouped = df.groupBy(*(group_cols or [])).agg(F.collect_list(geom_col).alias("_geoms"))
    return grouped.withColumn(out_col, _finish_udf("intersection")(F.col("_geoms"))).drop("_geoms")


_ANALYZE_FIELDS = [
    ("count", LongType()),
    ("puntal_count", LongType()),
    ("lineal_count", LongType()),
    ("polygonal_count", LongType()),
    ("collection_count", LongType()),
    ("total_points", LongType()),
    ("mean_points_per_geometry", DoubleType()),
    ("xmin", DoubleType()),
    ("ymin", DoubleType()),
    ("xmax", DoubleType()),
    ("ymax", DoubleType()),
]


def analyze_aggr(df: DataFrame, geom_col: str, group_cols: Optional[List[str]] = None) -> DataFrame:
    """ST_Analyze_Aggr: GeoStatistics over a geometry column (reference:
    st_analyze_aggr.rs:49-120 + rust/sedona-expr/src/statistics.rs).

    Two-phase: one vectorized UDF derives per-row numerics, then built-in
    aggregates reduce them — identical shape to the reference's
    accumulator, but map-side combine comes free from Spark."""

    @F.pandas_udf(
        StructType(
            [
                StructField("cls", StringType()),
                StructField("npts", LongType()),
                StructField("xmin", DoubleType()),
                StructField("ymin", DoubleType()),
                StructField("xmax", DoubleType()),
                StructField("ymax", DoubleType()),
            ]
        )
    )
    def derive(s: pd.Series) -> pd.DataFrame:
        cls, npts = [], []
        bb = np.full((len(s), 4), np.nan)
        for i, v in enumerate(s):
            if v is None:
                cls.append(None)
                npts.append(0)
                continue
            g = wkb.parse(v)
            if g.type_id == wkb.GEOMETRYCOLLECTION:
                cls.append("collection")
            elif g.type_id in (wkb.POLYGON, wkb.MULTIPOLYGON):
                cls.append("polygonal")
            elif g.type_id in (wkb.LINESTRING, wkb.MULTILINESTRING):
                cls.append("lineal")
            else:
                cls.append("puntal")
            npts.append(algos.num_points(g))
            bb[i] = algos.bounds(g)
        return pd.DataFrame(
            {"cls": cls, "npts": npts, "xmin": bb[:, 0], "ymin": bb[:, 1],
             "xmax": bb[:, 2], "ymax": bb[:, 3]}
        )

    d = df.withColumn("_a", derive(F.col(geom_col)))
    aggs = [
        F.count("_a.cls").alias("count"),
        F.sum(F.when(F.col("_a.cls") == "puntal", 1).otherwise(0)).alias("puntal_count"),
        F.sum(F.when(F.col("_a.cls") == "lineal", 1).otherwise(0)).alias("lineal_count"),
        F.sum(F.when(F.col("_a.cls") == "polygonal", 1).otherwise(0)).alias("polygonal_count"),
        F.sum(F.when(F.col("_a.cls") == "collection", 1).otherwise(0)).alias("collection_count"),
        F.sum("_a.npts").alias("total_points"),
        F.avg("_a.npts").alias("mean_points_per_geometry"),
        F.min("_a.xmin").alias("xmin"),
        F.min("_a.ymin").alias("ymin"),
        F.max("_a.xmax").alias("xmax"),
        F.max("_a.ymax").alias("ymax"),
    ]
    return d.groupBy(*(group_cols or [])).agg(*aggs)


def register_sql_aggregates(spark) -> None:
    """Register the 5 spatial aggregates as SQL GROUPED_AGG functions
    under the reference's SQL names (rust/sedona-functions/src/register.rs
    :105-112 in /root/reference): st_collect, st_union_aggr,
    st_intersection_aggr, st_envelope_aggr, st_analyze_aggr.

    Note on shape: SQL grouped-agg pandas UDFs see the whole group's WKB
    list on one executor (same as the reference's accumulator state). For
    the 100-TB path prefer the DataFrame APIs above — envelope/analyze
    there reduce per-row numerics with built-in min/max/sum aggregates
    (map-side partials, no geometry shuffle).

    st_analyze_aggr returns the stats as a JSON string in SQL (grouped-agg
    UDFs cannot return structs); the DataFrame API returns real columns.
    """
    import json

    from pyspark.sql.functions import pandas_udf

    def _mk_finish(kind):
        def f(s: pd.Series) -> Optional[bytes]:
            return _finish_group(kind, list(s))

        return f

    spark.udf.register("ST_Collect", pandas_udf(_mk_finish("collect"), BinaryType()))
    spark.udf.register("ST_Union_Aggr", pandas_udf(_mk_finish("union"), BinaryType()))
    spark.udf.register(
        "ST_Intersection_Aggr", pandas_udf(_mk_finish("intersection"), BinaryType())
    )

    def _envelope(s: pd.Series) -> Optional[bytes]:
        bb = wkb.xy_env(s)[2]
        if not len(bb) or np.all(np.isnan(bb[:, 0])):
            return None
        return wkb.encode(wkb.box(
            float(np.nanmin(bb[:, 0])), float(np.nanmin(bb[:, 1])),
            float(np.nanmax(bb[:, 2])), float(np.nanmax(bb[:, 3]))))

    spark.udf.register("ST_Envelope_Aggr", pandas_udf(_envelope, BinaryType()))
    # PostGIS alias spellings for the same accumulators
    spark.udf.register("ST_Extent", pandas_udf(_envelope, BinaryType()))
    spark.udf.register("ST_MemUnion", pandas_udf(_mk_finish("union"), BinaryType()))

    def _analyze(s: pd.Series) -> Optional[str]:
        counts = {"puntal": 0, "lineal": 0, "polygonal": 0, "collection": 0}
        total_pts, n = 0, 0
        bb = np.full((len(s), 4), np.nan)
        for i, v in enumerate(s):
            if v is None:
                continue
            g = wkb.parse(bytes(v))
            if g.type_id == wkb.GEOMETRYCOLLECTION:
                counts["collection"] += 1
            elif g.type_id in (wkb.POLYGON, wkb.MULTIPOLYGON):
                counts["polygonal"] += 1
            elif g.type_id in (wkb.LINESTRING, wkb.MULTILINESTRING):
                counts["lineal"] += 1
            else:
                counts["puntal"] += 1
            total_pts += algos.num_points(g)
            bb[i] = algos.bounds(g)
            n += 1
        if n == 0:
            return None
        return json.dumps({
            "count": n, "puntal_count": counts["puntal"],
            "lineal_count": counts["lineal"],
            "polygonal_count": counts["polygonal"],
            "collection_count": counts["collection"],
            "total_points": total_pts,
            "mean_points_per_geometry": total_pts / n,
            "xmin": float(np.nanmin(bb[:, 0])), "ymin": float(np.nanmin(bb[:, 1])),
            "xmax": float(np.nanmax(bb[:, 2])), "ymax": float(np.nanmax(bb[:, 3])),
        }, sort_keys=True)

    spark.udf.register(
        "ST_Analyze_Aggr", pandas_udf(_analyze, StringType())
    )
