"""Spatial aggregate tests (envelope/collect/union/analyze)."""

import numpy as np
import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

from sedona_db_spark.functions import aggregates as agg
from sedona_db_spark.geometry import algos, wkb

SCHEMA = StructType([
    StructField("grp", StringType()),
    StructField("geometry", BinaryType()),
])


def W(wkt):
    return wkb.encode(wkb.from_wkt(wkt))


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        ("a", W("POINT (1 2)")),
        ("a", W("POINT (5 8)")),
        ("a", W("LINESTRING (0 0, 2 0)")),
        ("b", W("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")),
        ("b", W("POINT (10 10)")),
        ("b", None),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_envelope_aggr(df):
    out = {r["grp"]: r for r in agg.envelope_aggr(df, "geometry", ["grp"]).collect()}
    assert (out["a"]["xmin"], out["a"]["ymin"], out["a"]["xmax"], out["a"]["ymax"]) == (0, 0, 5, 8)
    assert (out["b"]["xmin"], out["b"]["ymax"]) == (0, 10)
    env = wkb.parse(bytes(out["a"]["envelope"]))
    assert wkb.to_wkt(env) == "POLYGON ((0 0, 5 0, 5 8, 0 8, 0 0))"


def test_envelope_aggr_global(df):
    row = agg.envelope_aggr(df, "geometry").collect()[0]
    assert (row["xmin"], row["ymin"], row["xmax"], row["ymax"]) == (0, 0, 10, 10)


def test_envelope_aggr_on_mixed_rows(spark, mixed_wkb):
    """Per-row bounds, ``envelope_aggr`` and SQL ``ST_Envelope_Aggr`` over
    NULL, EMPTY (LE, BE, EWKB), BE/EWKB points and polygonal/lineal rows
    agree with ``algos.bounds``; a group of only NULL and EMPTY rows has
    no envelope."""
    rows = [("m", v) for v in mixed_wkb] + [("e", v) for v in mixed_wkb[:4]]
    df = spark.createDataFrame(rows, SCHEMA)
    env = np.array([algos.bounds(None if v is None else wkb.parse(v)) for v in mixed_wkb])
    want = (np.nanmin(env[:, 0]), np.nanmin(env[:, 1]), np.nanmax(env[:, 2]), np.nanmax(env[:, 3]))
    got = df.where("grp = 'm'").select(agg.bounds_struct(F.col("geometry")).alias("b")).collect()
    np.testing.assert_array_equal(
        np.array([[np.nan if v is None else v for v in r["b"]] for r in got]), env)
    out = {r["grp"]: r for r in agg.envelope_aggr(df, "geometry", ["grp"]).collect()}
    assert tuple(out["m"][f] for f in ("xmin", "ymin", "xmax", "ymax")) == want
    assert algos.bounds(wkb.parse(bytes(out["m"]["envelope"]))) == want
    assert out["e"]["xmin"] is None and out["e"]["envelope"] is None
    agg.register_sql_aggregates(spark)
    df.createOrReplaceTempView("mixed_env")
    sql = {r["grp"]: r["e"] for r in spark.sql(
        "SELECT grp, ST_Envelope_Aggr(geometry) AS e FROM mixed_env GROUP BY grp").collect()}
    assert algos.bounds(wkb.parse(bytes(sql["m"]))) == want and sql["e"] is None


def test_collect_aggr(spark):
    rows = [("a", W("POINT (1 1)")), ("a", W("POINT (2 2)"))]
    df = spark.createDataFrame(rows, SCHEMA)
    out = agg.collect_aggr(df, "geometry", ["grp"]).collect()[0]
    assert wkb.to_wkt(wkb.parse(bytes(out["collected"]))) == "MULTIPOINT ((1 1), (2 2))"


def test_union_aggr_disjoint_polygons(spark):
    rows = [
        ("a", W("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")),
        ("a", W("POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))")),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = agg.union_aggr(df, "geometry", ["grp"]).collect()[0]
    g = wkb.parse(bytes(out["union_geom"]))
    assert g.type_id == wkb.MULTIPOLYGON and len(g.coords) == 2


def test_union_aggr_dedupes_points(spark):
    rows = [("a", W("POINT (1 1)")), ("a", W("POINT (1 1)")), ("a", W("POINT (2 2)"))]
    df = spark.createDataFrame(rows, SCHEMA)
    out = agg.union_aggr(df, "geometry", ["grp"]).collect()[0]
    g = wkb.parse(bytes(out["union_geom"]))
    assert g.type_id == wkb.MULTIPOINT and len(g.coords) == 2


def test_intersection_aggr(spark):
    rows = [
        ("a", W("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")),
        ("a", W("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))")),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = agg.intersection_aggr(df, "geometry", ["grp"]).collect()[0]
    g = wkb.parse(bytes(out["intersection_geom"]))
    from sedona_db_spark.geometry import algos

    assert algos.area(g) == 25.0


def test_analyze_aggr(df):
    out = {r["grp"]: r for r in agg.analyze_aggr(df, "geometry", ["grp"]).collect()}
    a = out["a"]
    assert a["count"] == 3
    assert a["puntal_count"] == 2 and a["lineal_count"] == 1
    assert a["total_points"] == 4
    b = out["b"]
    assert b["count"] == 2  # null excluded
    assert b["polygonal_count"] == 1
    assert (b["xmin"], b["xmax"]) == (0, 10)


def test_collect_aggr_reference_semantics(spark):
    """Reference test_aggregate.py rows: mixed TYPES -> GC, all-null ->
    NULL, mixed coordinate DIMENSIONS -> error."""
    import pytest

    from sedona_db_spark.geometry import wkb as W

    # mixed types -> GEOMETRYCOLLECTION
    rows = [(0, W.encode(W.point(1, 2))),
            (0, W.encode(W.Geometry(W.LINESTRING, __import__("numpy").array([[3.0, 4.0], [5.0, 6.0]]))))]
    df = spark.createDataFrame(rows, "grp INT, geometry BINARY")
    out = agg.collect_aggr(df, "geometry", ["grp"]).collect()[0]
    assert W.to_wkt(W.parse(bytes(out["collected"]))) == (
        "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (3 4, 5 6))"
    )
    # all null -> NULL
    df2 = spark.createDataFrame([(0, None), (0, None)], "grp INT, geometry BINARY")
    assert agg.collect_aggr(df2, "geometry", ["grp"]).collect()[0]["collected"] is None
    # mixed dims -> error
    rows3 = [(0, W.encode(W.point(1, 2))), (0, W.encode(W.point(3, 4, z=5)))]
    df3 = spark.createDataFrame(rows3, "grp INT, geometry BINARY")
    with pytest.raises(Exception, match="mixed dimension"):
        agg.collect_aggr(df3, "geometry", ["grp"]).collect()
