"""GeoParquet round-trip + bbox pruning tests."""

import glob
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from sedona_db_spark.geometry import algos, wkb
from sedona_db_spark.sources import geoparquet as GP
from sedona_db_spark.types import get_geom_meta


def _pts_df(spark, n=200, seed=0):
    rng = np.random.default_rng(seed)
    x, y = rng.uniform(-170, 170, n), rng.uniform(-80, 80, n)
    rows = [(int(i), bytes(b)) for i, b in enumerate(wkb.encode_points_xy(x, y))]
    return spark.createDataFrame(rows, "id LONG, geometry BINARY"), x, y


def test_write_read_roundtrip(spark, tmp_path):
    df, x, y = _pts_df(spark, 100)
    path = str(tmp_path / "gp")
    meta = GP.write_geoparquet(df, path, ["geometry"])
    assert meta["version"].startswith("1.1")
    assert meta["primary_column"] == "geometry"
    col = meta["columns"]["geometry"]
    assert col["encoding"] == "WKB"
    bb = col["bbox"]
    assert bb[0] == float(x.min()) and bb[3] == float(y.max())

    back = GP.read_geoparquet(spark, path)
    assert back.count() == 100
    # geometry metadata re-attached
    gm = get_geom_meta(back, "geometry")
    assert gm and gm["crs"] == "OGC:CRS84"
    # footer key readable
    assert GP.read_geo_metadata(path)["columns"]["geometry"]["covering"]["bbox"]["xmin"] == [
        "geometry_bbox", "xmin"
    ]


def test_bbox_filter_prunes_rowgroups(spark, tmp_path):
    df, x, y = _pts_df(spark, 2000, seed=1)
    path = str(tmp_path / "gp2")
    # sort by x so row groups have tight disjoint bbox stats
    from sedona_db_spark.functions import st

    df = df.withColumn("px", st.ST_X(F.col("geometry"))).orderBy("px").drop("px")
    GP.write_geoparquet(df.repartitionByRange(8, F.lit(1)), path, ["geometry"])
    back = GP.read_geoparquet(spark, path)
    got = GP.filter_bbox(back, "geometry", -10, -90, 10, 90)
    want = int(((x >= -10) & (x <= 10)).sum())
    assert got.count() == want
    # the filter is on plain struct fields -> shows up as pushed filters
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "bbox" in plan


def test_write_refuses_null_crs(spark, tmp_path):
    df, _, _ = _pts_df(spark, 5)
    import pytest

    with pytest.raises(ValueError):
        GP.write_geoparquet(df, str(tmp_path / "x"), ["geometry"], crs=None)


def test_every_part_has_geo_footer_and_projjson(spark, tmp_path):
    """The writer emits the `geo` key in the SAME pass that writes the data
    (no post-write stamp/rewrite), with PROJJSON crs per GeoParquet 1.1."""
    import glob
    import json

    import pyarrow.parquet as pq

    df, _, _ = _pts_df(spark, 64)
    path = str(tmp_path / "gp3")
    meta = GP.write_geoparquet(df.repartition(4), path, ["geometry"])
    parts = glob.glob(path + "/*.parquet")
    assert len(parts) >= 1
    for part in parts:
        md = pq.ParquetFile(part).schema_arrow.metadata or {}
        assert GP.GEO_KEY in md
        entry = json.loads(md[GP.GEO_KEY])["columns"]["geometry"]
        crs = entry["crs"]
        assert isinstance(crs, dict)  # PROJJSON object, not a bare string
        assert crs["id"] == {"authority": "OGC", "code": "CRS84"}
        # per-file bbox present and self-consistent
        bb = entry["bbox"]
        assert bb[0] <= bb[2] and bb[1] <= bb[3]
    # dataset-level bbox is the envelope of the per-file bboxes
    assert meta["columns"]["geometry"]["bbox"][0] == min(
        json.loads((pq.ParquetFile(p).schema_arrow.metadata or {})[GP.GEO_KEY])[
            "columns"]["geometry"]["bbox"][0]
        for p in parts
    )


def test_native_point_encoding_read(spark, tmp_path):
    """GeoParquet 1.1 native point encoding (GeoArrow separated struct) is
    decoded to the engine's WKB convention on read — mirrors the
    reference's GeoParquetColumnEncoding handling (metadata.rs:44-63)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "native"
    path.mkdir()
    xs = [1.5, 2.5, -3.0]
    ys = [10.0, -20.0, 30.5]
    tbl = pa.table({
        "id": pa.array([0, 1, 2], pa.int64()),
        "geometry": pa.StructArray.from_arrays(
            [pa.array(xs, pa.float64()), pa.array(ys, pa.float64())], ["x", "y"]
        ),
    })
    geo = {
        "version": "1.1.0",
        "primary_column": "geometry",
        "columns": {"geometry": {"encoding": "point", "geometry_types": ["Point"]}},
    }
    tbl = tbl.replace_schema_metadata({b"geo": json.dumps(geo).encode()})
    pq.write_table(tbl, str(path / "part-0.parquet"))

    back = GP.read_geoparquet(spark, str(path))
    from pyspark.sql import functions as F

    from sedona_db_spark.functions import st

    rows = {r["id"]: (r["px"], r["py"]) for r in back.select(
        "id", st.ST_X(F.col("geometry")).alias("px"), st.ST_Y(F.col("geometry")).alias("py")
    ).collect()}
    for i in range(3):
        assert rows[i] == (xs[i], ys[i])


def test_write_refuses_bbox_overwrite_and_bad_version(spark, tmp_path):
    """Reference parity (io/test_parquet.py): rewriting a frame that
    already carries the v1.1 bbox covering column fails unless opted in;
    unknown version strings are rejected."""
    import pytest

    df, _, _ = _pts_df(spark, 20)
    p1 = str(tmp_path / "a")
    GP.write_geoparquet(df, p1, ["geometry"])
    back = GP.read_geoparquet(spark, p1)  # carries geometry_bbox
    assert "geometry_bbox" in back.columns
    with pytest.raises(ValueError, match="Can't overwrite GeoParquet 1.1 bbox"):
        GP.write_geoparquet(back, str(tmp_path / "b"), ["geometry"])
    # opt-in succeeds and round-trips
    GP.write_geoparquet(back, str(tmp_path / "b"), ["geometry"], overwrite_bbox_columns=True)
    assert GP.read_geoparquet(spark, str(tmp_path / "b")).count() == 20
    with pytest.raises(ValueError, match="Unexpected GeoParquet version"):
        GP.write_geoparquet(df, str(tmp_path / "c"), ["geometry"], version="not supported")


def test_geography_edges_roundtrip(spark, tmp_path):
    """Geography (spherical edges) round-trips through the GeoParquet
    footer like the reference (io/test_parquet.py::test_write_geoparquet_
    geography): writer propagates the column's edges metadata into the
    `geo` key, reader re-tags, and fn_for_edges dispatches the spherical
    kernel after the round trip."""
    from sedona_db_spark.functions.geography import fn_for_edges
    from sedona_db_spark.types import with_geom_meta

    path = str(tmp_path / "geog")
    df, _x, _y = _pts_df(spark, 40)
    geog = with_geom_meta(df, "geometry", crs="EPSG:4326", edges="spherical")
    meta = GP.write_geoparquet(geog, path, ["geometry"])
    assert meta["columns"]["geometry"]["edges"] == "spherical"

    back = GP.read_geoparquet(spark, path)
    md = get_geom_meta(back, "geometry")
    assert md["edges"] == "spherical"
    fn = fn_for_edges(back, "geometry", "st_area")
    from sedona_db_spark.functions.geography import ST_Area_Spherical

    assert fn is ST_Area_Spherical

    # planar write stays implicit (spec default: no edges key)
    p2 = str(tmp_path / "planar")
    meta2 = GP.write_geoparquet(df, p2, ["geometry"])
    assert "edges" not in meta2["columns"]["geometry"]
    back2 = GP.read_geoparquet(spark, p2)
    assert get_geom_meta(back2, "geometry")["edges"] == "planar"


_FIELDS = ["xmin", "ymin", "xmax", "ymax"]


def _mixed_df(spark, mixed_wkb, n=120):
    """Rows of the mixed WKB fixture in two geometry columns, 3 partitions."""
    m = len(mixed_wkb)
    rows = [(i, mixed_wkb[i % m], f"n{i}", mixed_wkb[(7 * i + 3) % m]) for i in range(n)]
    return spark.createDataFrame(
        rows, "id LONG, geometry BINARY, name STRING, other BINARY").repartition(3, "id")


def _bounds(col) -> np.ndarray:
    """(n, 4) per-row ``algos.bounds`` of a WKB column; NaN: NULL or empty."""
    return np.array([algos.bounds(None if v is None else wkb.parse(v)) for v in col.to_pylist()])


def _covering(col) -> np.ndarray:
    """(n, 4) values of a covering column; NaN: null field."""
    return np.array([[np.nan if v[f] is None else v[f] for f in _FIELDS] for v in col.to_pylist()])


def _box(env: np.ndarray) -> list:
    return [float(np.nanmin(env[:, 0])), float(np.nanmin(env[:, 1])),
            float(np.nanmax(env[:, 2])), float(np.nanmax(env[:, 3]))]


def _parts(path):
    return sorted(glob.glob(path + "/*.parquet"))


def test_covering_stats_and_footers_on_mixed_rows(spark, tmp_path, mixed_wkb):
    """Each `<geom>_bbox` row equals ``algos.bounds(wkb.parse(v))`` (null
    fields for NULL and EMPTY rows of any encoding), appended after the
    input columns; row-group statistics of every covering field are the
    NaN-skipping min/max and null count; the `geo` footer is exactly the
    1.1 document with the file's bboxes; and every returned bbox equals
    both the union of the footers and numpy min/max over all rows."""
    path = str(tmp_path / "mixed")
    cols = ["geometry", "other"]
    meta = GP.write_geoparquet(_mixed_df(spark, mixed_wkb), path, cols)
    bbox_type = pa.struct([(f, pa.float64()) for f in _FIELDS])
    everything = {c: [] for c in cols}
    footers = {c: [] for c in cols}
    for part in _parts(path):
        f = pq.ParquetFile(part)
        t = f.read()
        assert t.schema.names == ["id", "geometry", "name", "other", "geometry_bbox", "other_bbox"]
        stats = {}
        for rg in range(f.metadata.num_row_groups):
            r = f.metadata.row_group(rg)
            stats.update({r.column(k).path_in_schema: r.column(k).statistics
                          for k in range(r.num_columns)})
        assert f.metadata.num_row_groups == 1
        file_bb = {}
        for c in cols:
            assert t.schema.field(f"{c}_bbox").type == bbox_type
            assert t.column(f"{c}_bbox").null_count == 0
            want = _bounds(t.column(c))
            np.testing.assert_array_equal(_covering(t.column(f"{c}_bbox")), want)
            assert np.isnan(want).any() and not np.isnan(want).all()
            for k, fld in enumerate(_FIELDS):
                st = stats[f"{c}_bbox.{fld}"]
                v = want[:, k]
                assert (st.min, st.max) == (np.nanmin(v), np.nanmax(v))
                assert st.null_count == int(np.isnan(v).sum())
            file_bb[c] = _box(want)
            footers[c].append(file_bb[c])
            everything[c].append(want)
        doc = {"version": "1.1.0", "primary_column": "geometry", "columns": {
            c: {"encoding": "WKB", "geometry_types": [], "bbox": file_bb[c],
                "crs": GP.crs_to_projjson("OGC:CRS84"),
                "covering": {"bbox": {fld: [f"{c}_bbox", fld] for fld in _FIELDS}}}
            for c in cols}}
        assert f.schema_arrow.metadata[b"geo"] == json.dumps(doc).encode("utf-8")
    for c in cols:
        fb = np.array(footers[c])
        assert meta["columns"][c]["bbox"] == [fb[:, 0].min(), fb[:, 1].min(),
                                              fb[:, 2].max(), fb[:, 3].max()]
        assert meta["columns"][c]["bbox"] == _box(np.concatenate(everything[c]))


def test_overwrite_recomputes_stale_covering_in_place(spark, tmp_path, mixed_wkb):
    """With ``overwrite_bbox_columns=True`` a stale covering column keeps
    its position and gets every row's envelope recomputed."""
    stale = F.struct(*(F.lit(1.0).alias(f) for f in _FIELDS)).alias("geometry_bbox")
    df = _mixed_df(spark, mixed_wkb).select("id", stale, "geometry", "name")
    path = str(tmp_path / "over")
    GP.write_geoparquet(df, path, ["geometry"], overwrite_bbox_columns=True)
    n = 0
    for part in _parts(path):
        t = pq.read_table(part)
        assert t.schema.names == ["id", "geometry_bbox", "geometry", "name"]
        np.testing.assert_array_equal(_covering(t.column("geometry_bbox")),
                                      _bounds(t.column("geometry")))
        n += t.num_rows
    assert n == 120


def test_geoparquet_1_0_footer_has_no_covering(spark, tmp_path, mixed_wkb):
    """A 1.0 write stamps version 1.0.0, writes no covering column and no
    `covering` entry, and keeps each file's per-column bbox."""
    path = str(tmp_path / "v10")
    meta = GP.write_geoparquet(_mixed_df(spark, mixed_wkb), path, ["geometry"], version="1.0")
    assert meta["version"] == "1.0.0" and "covering" not in meta["columns"]["geometry"]
    boxes = []
    for part in _parts(path):
        md = pq.read_metadata(part)
        geo = json.loads(md.metadata[b"geo"])
        entry = geo["columns"]["geometry"]
        assert geo["version"] == "1.0.0" and "covering" not in entry
        assert "geometry_bbox" not in md.schema.to_arrow_schema().names
        assert entry["bbox"] == _box(_bounds(pq.read_table(part).column("geometry")))
        boxes.append(entry["bbox"])
    fb = np.array(boxes)
    assert meta["columns"]["geometry"]["bbox"] == [fb[:, 0].min(), fb[:, 1].min(),
                                                   fb[:, 2].max(), fb[:, 3].max()]


def test_write_plan_has_one_python_node(spark, tmp_path, monkeypatch):
    """The covering is computed inside the writer task: the write's plan
    evaluates Python once, in its `MapInArrow`, with no ArrowEvalPython."""
    df, _, _ = _pts_df(spark, 50)
    seen = []
    map_in_arrow = type(df).mapInArrow

    def spy(self, *a, **kw):
        seen.append(map_in_arrow(self, *a, **kw))
        return seen[-1]

    monkeypatch.setattr(type(df), "mapInArrow", spy)
    GP.write_geoparquet(df, str(tmp_path / "plan"), ["geometry"])
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
