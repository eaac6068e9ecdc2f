"""Spatial join differential tests.

Strategy mirrors the reference (`python/sedonadb/tests/test_sjoin.py`):
seeded random point/polygon tables, every predicate and join type, result
compared ROW-FOR-ROW against a brute-force oracle computed with the same
exact kernels (the oracle is O(n^2) python; the operator under test is the
distributed two-phase plan — agreement proves prefilter+dedup+refine add
and lose nothing)."""

import numpy as np
import pytest

from pyspark.sql.types import BinaryType, DoubleType, LongType, StructField, StructType

from sedona_db_spark.geometry import algos, wkb
from sedona_db_spark.operators.spatial_join import spatial_join


def make_points(n, seed, bounds=(0, 0, 100, 100)):
    rng = np.random.default_rng(seed)
    x = rng.uniform(bounds[0], bounds[2], n)
    y = rng.uniform(bounds[1], bounds[3], n)
    return [(i, bytes(b), float(d)) for i, (b, d) in enumerate(
        zip(wkb.encode_points_xy(x, y), rng.uniform(0, 10, n)))]


def make_polygons(n, seed, bounds=(0, 0, 100, 100), size=(2, 14), hole_rate=0.5):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        cx = rng.uniform(bounds[0], bounds[2])
        cy = rng.uniform(bounds[1], bounds[3])
        r = rng.uniform(*size) / 2
        nv = int(rng.integers(4, 10))
        theta = np.sort(rng.uniform(0, 2 * np.pi, nv))
        ring = np.column_stack([cx + r * np.cos(theta), cy + r * np.sin(theta)])
        ring = np.vstack([ring, ring[:1]])
        rings = [ring]
        if rng.uniform() < hole_rate:
            hr = r * 0.3
            ht = np.linspace(0, 2 * np.pi, 6)
            hole = np.column_stack([cx + hr * np.cos(ht), cy + hr * np.sin(ht)])
            rings.append(hole)
        g = wkb.Geometry(wkb.POLYGON, rings)
        rows.append((i, wkb.encode(g), float(rng.uniform(0, 10))))
    return rows


SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("geometry", BinaryType()),
    StructField("dist", DoubleType()),
])


def oracle_pairs(lrows, rrows, pred, distance=None, dist_side=None):
    fn = {
        "intersects": algos.intersects,
        "within": algos.within,
        "contains": algos.contains,
        "covers": algos.covers,
        "covered_by": algos.covered_by,
        "touches": algos.touches,
    }.get(pred)
    out = set()
    for lid, lw, ld in lrows:
        gl = wkb.parse(lw)
        for rid, rw, rd in rrows:
            gr = wkb.parse(rw)
            if pred == "dwithin":
                d = distance if distance is not None else (ld if dist_side == "left" else rd)
                ok = algos.dwithin(gl, gr, d)
            else:
                ok = fn(gl, gr)
            if ok:
                out.add((lid, rid))
    return out


@pytest.fixture(scope="module")
def tables(spark):
    pts = make_points(120, 42)
    polys = make_polygons(60, 43)
    return (
        spark.createDataFrame(pts, SCHEMA),
        spark.createDataFrame(polys, SCHEMA),
        pts,
        polys,
    )


@pytest.mark.parametrize("pred", ["intersects", "within", "covered_by", "touches"])
def test_point_polygon_predicates(tables, pred):
    pts_df, polys_df, pts, polys = tables
    res = spatial_join(
        pts_df.withColumnRenamed("id", "lid").withColumnRenamed("dist", "ldist"),
        polys_df.withColumnRenamed("id", "rid").withColumnRenamed("dist", "rdist"),
        predicate=pred,
        left_geom="geometry",
        right_geom="geometry",
    )
    got = {(r["lid"], r["rid"]) for r in res.select("lid", "rid").collect()}
    want = oracle_pairs(pts, polys, pred)
    assert got == want


@pytest.mark.parametrize("pred", ["intersects", "contains", "overlaps", "touches"])
def test_polygon_polygon_predicates(spark, pred):
    a = make_polygons(40, 7, size=(4, 20), hole_rate=0.0)
    b = make_polygons(40, 8, size=(4, 20), hole_rate=0.0)
    da = spark.createDataFrame(a, SCHEMA).withColumnRenamed("id", "lid")
    db = spark.createDataFrame(b, SCHEMA).withColumnRenamed("id", "rid")
    res = spatial_join(da, db, predicate=pred)
    got = {(r["lid"], r["rid"]) for r in res.select("lid", "rid").collect()}
    fn = getattr(algos, pred)
    want = {
        (i, j)
        for i, aw, _ in a
        for j, bw, _ in b
        if fn(wkb.parse(aw), wkb.parse(bw))
    }
    assert got == want


def test_dwithin_literal_and_column(tables):
    pts_df, polys_df, pts, polys = tables
    L = pts_df.withColumnRenamed("id", "lid").withColumnRenamed("dist", "ldist")
    R = polys_df.withColumnRenamed("id", "rid").withColumnRenamed("dist", "rdist")

    res = spatial_join(L, R, predicate="dwithin", distance=1.5)
    got = {(r["lid"], r["rid"]) for r in res.select("lid", "rid").collect()}
    assert got == oracle_pairs(pts, polys, "dwithin", distance=1.5)

    from pyspark.sql import functions as F

    res = spatial_join(L, R, predicate="dwithin", distance=F.col("rdist"))
    got = {(r["lid"], r["rid"]) for r in res.select("lid", "rid").collect()}
    assert got == oracle_pairs(pts, polys, "dwithin", dist_side="right")


def test_left_and_right_outer(tables):
    pts_df, polys_df, pts, polys = tables
    L = pts_df.withColumnRenamed("id", "lid").withColumnRenamed("dist", "ldist")
    R = polys_df.withColumnRenamed("id", "rid").withColumnRenamed("dist", "rdist")
    inner = oracle_pairs(pts, polys, "intersects")

    left = spatial_join(L, R, predicate="intersects", how="left")
    rows = left.select("lid", "rid").collect()
    got_pairs = {(r["lid"], r["rid"]) for r in rows if r["rid"] is not None}
    unmatched = {r["lid"] for r in rows if r["rid"] is None}
    assert got_pairs == inner
    matched_l = {l for l, _ in inner}
    assert unmatched == {i for i, _, _ in pts} - matched_l
    assert len(rows) == len(inner) + len(unmatched)

    right = spatial_join(L, R, predicate="intersects", how="right")
    rows = right.select("lid", "rid").collect()
    got_pairs = {(r["lid"], r["rid"]) for r in rows if r["lid"] is not None}
    unmatched_r = {r["rid"] for r in rows if r["lid"] is None}
    assert got_pairs == inner
    matched_r = {r for _, r in inner}
    assert unmatched_r == {i for i, _, _ in polys} - matched_r


def test_semi_and_anti(tables):
    pts_df, polys_df, pts, polys = tables
    L = pts_df.withColumnRenamed("id", "lid").withColumnRenamed("dist", "ldist")
    R = polys_df.withColumnRenamed("id", "rid").withColumnRenamed("dist", "rdist")
    inner = oracle_pairs(pts, polys, "intersects")
    matched_l = {l for l, _ in inner}

    semi = spatial_join(L, R, predicate="intersects", how="left_semi")
    assert {r["lid"] for r in semi.collect()} == matched_l
    assert semi.columns == L.columns

    anti = spatial_join(L, R, predicate="intersects", how="left_anti")
    assert {r["lid"] for r in anti.collect()} == {i for i, _, _ in pts} - matched_l


def test_no_broadcast_path(tables):
    """Force the shuffle-join path (broadcast_right=False) — must agree."""
    pts_df, polys_df, pts, polys = tables
    L = pts_df.withColumnRenamed("id", "lid").withColumnRenamed("dist", "ldist")
    R = polys_df.withColumnRenamed("id", "rid").withColumnRenamed("dist", "rdist")
    res = spatial_join(L, R, predicate="intersects", broadcast_right=False)
    got = {(r["lid"], r["rid"]) for r in res.select("lid", "rid").collect()}
    assert got == oracle_pairs(pts, polys, "intersects")


def test_polygon_sides_both_exploded_dedup(spark):
    """PBSM dedup: polygon×polygon pairs spanning many shared cells must
    appear exactly once."""
    a = make_polygons(25, 11, size=(20, 60), hole_rate=0.0)
    b = make_polygons(25, 12, size=(20, 60), hole_rate=0.0)
    da = spark.createDataFrame(a, SCHEMA).withColumnRenamed("id", "lid")
    db = spark.createDataFrame(b, SCHEMA).withColumnRenamed("id", "rid")
    res = spatial_join(da, db, predicate="intersects", grid_level=6).select("lid", "rid")
    rows = [(r["lid"], r["rid"]) for r in res.collect()]
    assert len(rows) == len(set(rows)), "duplicate candidate pairs leaked"
    want = {
        (i, j)
        for i, aw, _ in a
        for j, bw, _ in b
        if algos.intersects(wkb.parse(aw), wkb.parse(bw))
    }
    assert set(rows) == want


def test_full_outer(tables):
    pts_df, polys_df, pts, polys = tables
    L = pts_df.withColumnRenamed("id", "lid").withColumnRenamed("dist", "ldist")
    R = polys_df.withColumnRenamed("id", "rid").withColumnRenamed("dist", "rdist")
    inner = oracle_pairs(pts, polys, "intersects")
    full = spatial_join(L, R, predicate="intersects", how="full")
    rows = full.select("lid", "rid").collect()
    got_pairs = {(r["lid"], r["rid"]) for r in rows if r["lid"] is not None and r["rid"] is not None}
    unmatched_l = {r["lid"] for r in rows if r["rid"] is None}
    unmatched_r = {r["rid"] for r in rows if r["lid"] is None}
    assert got_pairs == inner
    assert unmatched_l == {i for i, _, _ in pts} - {l for l, _ in inner}
    assert unmatched_r == {i for i, _, _ in polys} - {r for _, r in inner}
    assert len(rows) == len(inner) + len(unmatched_l) + len(unmatched_r)


def test_salted_join_agrees(tables):
    """Salted shuffle join (skew mitigation) returns the same pairs."""
    pts_df, polys_df, pts, polys = tables
    L = pts_df.withColumnRenamed("id", "lid").withColumnRenamed("dist", "ldist")
    R = polys_df.withColumnRenamed("id", "rid").withColumnRenamed("dist", "rdist")
    res = spatial_join(L, R, predicate="intersects", broadcast_right=False,
                       salt_replicas=4)
    got = {(r["lid"], r["rid"]) for r in res.select("lid", "rid").collect()}
    assert got == oracle_pairs(pts, polys, "intersects")


def test_crs_mismatch_raises(spark):
    """Joining EPSG:3857 meters against EPSG:4326 degrees must raise, not
    silently mix units (reference datatypes matcher behavior)."""
    import numpy as np

    from sedona_db_spark.geometry import wkb as W
    from sedona_db_spark.operators.knn_join import knn_join as KJ
    from sedona_db_spark.types import with_geom_meta

    pts = spark.createDataFrame(
        [(0, bytes(W.encode_points_xy(np.array([1.0]), np.array([2.0]))[0]))],
        "id LONG, geom BINARY",
    )
    a = with_geom_meta(pts, "geom", crs="EPSG:4326")
    b = with_geom_meta(pts, "geom", crs="EPSG:3857")
    with pytest.raises(ValueError, match="CRS mismatch"):
        spatial_join(a, b, "intersects", left_geom="geom", right_geom="geom")
    with pytest.raises(ValueError, match="CRS mismatch"):
        KJ(a, b, k=1, probe_geom="geom", build_geom="geom")
    # untagged columns stay permissive (plain binary frames)
    pts2 = spark.createDataFrame(
        [(9, bytes(W.encode_points_xy(np.array([1.0]), np.array([2.0]))[0]))],
        "id2 LONG, geom2 BINARY",
    )
    assert spatial_join(pts, pts2, "intersects", left_geom="geom",
                        right_geom="geom2").count() == 1


def test_puntal_and_lineal_right_sides(spark):
    """Regression: the point-in-polygon fast path must not swallow
    point x point / point x line relation joins (the PIP refine read a
    puntal right WKB as an empty polygon -> 'outside' -> pair dropped)."""
    import numpy as np

    from sedona_db_spark.geometry import wkb as W

    pts = spark.createDataFrame(
        [(0, bytes(W.encode_points_xy(np.array([1.0]), np.array([2.0]))[0]))],
        "id LONG, geom BINARY",
    )
    pts2 = spark.createDataFrame(
        [
            (9, bytes(W.encode_points_xy(np.array([1.0]), np.array([2.0]))[0])),
            (10, bytes(W.encode_points_xy(np.array([5.0]), np.array([5.0]))[0])),
        ],
        "id2 LONG, geom2 BINARY",
    )
    got = spatial_join(pts, pts2, "intersects", left_geom="geom", right_geom="geom2")
    assert [r["id2"] for r in got.collect()] == [9]
    assert spatial_join(pts, pts2, "equals", left_geom="geom",
                        right_geom="geom2").count() == 1
    seg = spark.createDataFrame(
        [(7, bytes(W.encode_segments_xy(np.array([0.0]), np.array([1.0]),
                                        np.array([2.0]), np.array([3.0]))[0]))],
        "sid LONG, sgeom BINARY",
    )
    assert spatial_join(pts, seg, "intersects", left_geom="geom",
                        right_geom="sgeom").count() == 1


def test_mixed_type_differential_all_predicates(spark):
    """Adversarial differential: BOTH sides carry a mix of points, segments,
    boxes, and triangles; every relation predicate must match the
    brute-force kernel evaluation exactly. (The puntal-right-side fast-path
    bug would have been caught by this.)"""
    import numpy as np

    from sedona_db_spark.geometry import algos, wkb as W

    rng = np.random.default_rng(31)

    def mixed(n, tag):
        rows = []
        for i in range(n):
            kind = i % 4
            x, y = rng.uniform(0, 10, 2)
            if kind == 0:
                g = W.encode_points_xy(np.array([x]), np.array([y]))[0]
            elif kind == 1:
                g = W.encode_segments_xy(np.array([x]), np.array([y]),
                                         np.array([x + 2]), np.array([y + 1]))[0]
            elif kind == 2:
                g = W.encode_boxes(np.array([x]), np.array([y]),
                                   np.array([x + 2]), np.array([y + 2]))[0]
            else:
                ring = np.array([[x, y], [x + 2, y], [x + 1, y + 2], [x, y]])
                g = W.encode(W.Geometry(W.POLYGON, [ring]))
            rows.append((i, bytes(g)))
        return spark.createDataFrame(rows, f"{tag}id LONG, {tag}geom BINARY"), rows

    A, arows = mixed(24, "a")
    B, brows = mixed(24, "b")
    preds = ["intersects", "contains", "within", "covers", "covered_by",
             "touches", "crosses", "overlaps", "equals"]
    for pred in preds:
        got = {
            (r["aid"], r["bid"])
            for r in spatial_join(A, B, pred, left_geom="ageom",
                                  right_geom="bgeom").collect()
        }
        fn = getattr(algos, pred)
        want = {
            (i, j)
            for i, ga in arows for j, gb in brows
            if fn(W.parse(ga), W.parse(gb))
        }
        assert got == want, f"{pred}: {got ^ want}"


def test_mixed_type_dwithin_differential(spark):
    """dwithin over mixed-type sides vs brute-force kernel distances."""
    import numpy as np

    from sedona_db_spark.geometry import algos, wkb as W

    rng = np.random.default_rng(37)

    def mixed(n, tag):
        rows = []
        for i in range(n):
            x, y = rng.uniform(0, 10, 2)
            if i % 3 == 0:
                g = W.encode_points_xy(np.array([x]), np.array([y]))[0]
            elif i % 3 == 1:
                g = W.encode_segments_xy(np.array([x]), np.array([y]),
                                         np.array([x + 1.5]), np.array([y + 1]))[0]
            else:
                ring = np.array([[x, y], [x + 1.5, y], [x + 0.7, y + 1.5], [x, y]])
                g = W.encode(W.Geometry(W.POLYGON, [ring]))
            rows.append((i, bytes(g)))
        return spark.createDataFrame(rows, f"{tag}id LONG, {tag}geom BINARY"), rows

    A, arows = mixed(20, "a")
    B, brows = mixed(20, "b")
    got = {
        (r["aid"], r["bid"])
        for r in spatial_join(A, B, "dwithin", left_geom="ageom",
                              right_geom="bgeom", distance=1.25).collect()
    }
    want = {
        (i, j)
        for i, ga in arows for j, gb in brows
        if algos.distance(W.parse(ga), W.parse(gb)) <= 1.25
    }
    assert got == want, got ^ want


def test_heterogeneous_sides_beyond_sample_window(spark):
    """Regression: point/rect/areal fast-path detection is confirmed by a
    FULL scan, not the 200-row sample — a polygon hiding after 250 points
    (either side) must still join."""
    import numpy as np

    from sedona_db_spark.geometry import wkb as W

    far = [(i, bytes(W.encode_points_xy(np.array([50.0]), np.array([50.0]))[0]))
           for i in range(250)]
    ring = np.array([[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 1.0]])
    L = spark.createDataFrame(
        far + [(999, bytes(W.encode(W.Geometry(W.POLYGON, [ring])))),
               (998, bytes(W.encode_points_xy(np.array([1.5]), np.array([1.2]))[0]))],
        "id LONG, geom BINARY",
    )
    box = spark.createDataFrame(
        [(5, bytes(W.encode_boxes(np.array([0.0]), np.array([0.0]),
                                  np.array([3.0]), np.array([3.0]))[0]))],
        "bid LONG, bgeom BINARY",
    )
    got = sorted(r["id"] for r in spatial_join(
        L, box, "intersects", left_geom="geom", right_geom="bgeom").collect())
    assert got == [998, 999]

    # mixed right side under dwithin: polygon after 250 points
    R2 = spark.createDataFrame(
        [(i, bytes(W.encode_points_xy(np.array([100.0]), np.array([100.0]))[0]))
         for i in range(250)]
        + [(777, bytes(W.encode(W.Geometry(W.POLYGON, [ring]))))],
        "rid LONG, rgeom BINARY",
    )
    probe = spark.createDataFrame(
        [(1, bytes(W.encode_points_xy(np.array([1.5]), np.array([0.5]))[0]))],
        "pid LONG, geom BINARY",
    )
    got2 = sorted(r["rid"] for r in spatial_join(
        probe, R2, "dwithin", left_geom="geom", right_geom="rgeom",
        distance=0.6).collect())
    assert got2 == [777]

    # big-endian points on the left (they fail the JVM LE-point test) and
    # EWKB points on a DWithin right side: the point routes admit them and
    # every result equals the generic route's
    import struct

    def be(x, y):
        return b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", x, y)

    def ewkb(x, y):
        return b"\x01" + struct.pack("<II", 0x20000001, 4326) + struct.pack("<dd", x, y)

    L3 = spark.createDataFrame(
        far + [(1000 + i, be(0.5 * i, 1.5)) for i in range(8)],
        "id LONG, geom BINARY",
    )
    R4 = spark.createDataFrame(
        [(i, bytes(W.encode_points_xy(np.array([100.0]), np.array([100.0]))[0]))
         for i in range(250)]
        + [(800 + i, ewkb(1.5 + 0.25 * i, 0.5)) for i in range(4)],
        "rid LONG, rgeom BINARY",
    )
    for bcast in (True, False):
        kw = dict(left_geom="geom", right_geom="bgeom", broadcast_right=bcast)
        got3 = sorted(r["id"] for r in spatial_join(L3, box, "within", **kw).collect())
        assert got3 == sorted(r["id"] for r in spatial_join(
            L3, box, "within", left_is_points=False, **kw).collect())
        assert got3 == [1001, 1002, 1003, 1004, 1005]
        kw = dict(left_geom="geom", right_geom="rgeom", distance=0.6,
                  broadcast_right=bcast)
        got4 = sorted(r["rid"] for r in spatial_join(probe, R4, "dwithin", **kw).collect())
        assert got4 == sorted(r["rid"] for r in spatial_join(
            probe, R4, "dwithin", left_is_points=False, **kw).collect())
        assert got4 == [800, 801, 802]


def test_probe_order_preserved(spark):
    """Round-4 (VERDICT r3 #6, exec.rs:204-225 analogue): output rows of
    spatial_join_ordered iterate in the probe side's arrival order."""
    import numpy as np

    from sedona_db_spark.geometry import wkb as W
    from sedona_db_spark.operators.spatial_join import spatial_join_ordered

    rng = np.random.default_rng(21)
    # probe ids in a SHUFFLED order — output must follow this order, not id
    perm = rng.permutation(300)
    xs = rng.uniform(-170, 170, 300)
    ys = rng.uniform(-80, 80, 300)
    rows = [(int(perm[i]), bytes(b))
            for i, b in enumerate(W.encode_points_xy(xs, ys))]
    # createDataFrame chunks the local list deterministically across
    # partitions (a repartition() here would be round-robin — unstable
    # across the two scans below)
    pts = spark.createDataFrame(rows, "pid LONG, geom BINARY")
    assert pts.rdd.getNumPartitions() > 1
    probe_order = [r["pid"] for r in pts.select("pid").collect()]
    boxes = []
    for i in range(25):
        x0 = -180.0 + (i % 5) * 72.0
        y0 = -90.0 + (i // 5) * 36.0
        boxes.append((i, W.encode(W.box(x0, y0, x0 + 72.0, y0 + 36.0))))
    admin = spark.createDataFrame(boxes, "bid INT, geometry BINARY")

    out = spatial_join_ordered(pts, admin, predicate="within",
                               left_geom="geom", right_geom="geometry")
    got = [r["pid"] for r in out.collect()]
    # every point falls in exactly one open box
    assert sorted(got) == sorted(probe_order)
    assert got == probe_order  # SAME sequence, not just the same set
    assert "pid" in out.columns and "_probe_ord_pid" not in out.columns

    # multi-match probe rows stay adjacent and in probe order
    two = spark.createDataFrame(
        [(7, bytes(W.encode_points_xy(np.array([1.0]), np.array([1.0]))[0])),
         (3, bytes(W.encode_points_xy(np.array([2.0]), np.array([2.0]))[0]))],
        "pid LONG, geom BINARY").coalesce(1)
    zones = spark.createDataFrame(
        [(0, W.encode(W.box(0, 0, 10, 10))), (1, W.encode(W.box(-5, -5, 5, 5)))],
        "bid INT, geometry BINARY")
    got2 = [(r["pid"], r["bid"]) for r in
            spatial_join_ordered(two, zones, predicate="within",
                                 left_geom="geom", right_geom="geometry").collect()]
    assert [p for p, _ in got2] == [7, 7, 3, 3]

    # RIGHT-outer ordered (round-5, exec.rs Inner/Right guarantee): every
    # RIGHT row appears — null-extended when unmatched — in the RIGHT
    # side's arrival order, with original column order restored
    zones3 = spark.createDataFrame(
        [(5, W.encode(W.box(0, 0, 10, 10))),
         (9, W.encode(W.box(100, 100, 110, 110))),   # matches nothing
         (2, W.encode(W.box(-5, -5, 5, 5)))],
        "bid INT, geometry BINARY").coalesce(1)
    out3 = spatial_join_ordered(two, zones3, predicate="within", how="right",
                                left_geom="geom", right_geom="geometry")
    assert out3.columns == ["pid", "geom", "bid", "geometry"]
    rows3 = [(r["pid"], r["bid"]) for r in out3.collect()]
    assert [b for _, b in rows3] == [5, 5, 9, 2, 2]
    assert rows3[2][0] is None
    assert {p for p, b in rows3 if b == 5} == {7, 3}

    # LEFT-outer ordered: unmatched probe rows keep their slot
    three = spark.createDataFrame(
        [(7, bytes(W.encode_points_xy(np.array([1.0]), np.array([1.0]))[0])),
         (8, bytes(W.encode_points_xy(np.array([50.0]), np.array([50.0]))[0])),
         (3, bytes(W.encode_points_xy(np.array([2.0]), np.array([2.0]))[0]))],
        "pid LONG, geom BINARY").coalesce(1)
    got4 = [(r["pid"], r["bid"]) for r in
            spatial_join_ordered(three, zones, predicate="within", how="left",
                                 left_geom="geom", right_geom="geometry").collect()]
    assert [p for p, _ in got4] == [7, 7, 8, 3, 3]
    assert got4[2][1] is None

    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="inner/left/right"):
        spatial_join_ordered(two, zones, predicate="within", how="full",
                             left_geom="geom", right_geom="geometry")
