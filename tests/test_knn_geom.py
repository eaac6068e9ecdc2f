"""kNN join over NON-POINT build geometries (rect + general modes).

The reference's R-tree kNN accepts any build geometry via rect distance +
exact refine (`rust/sedona-spatial-join/src/index.rs:499-676` in
/root/reference); the round-1 build silently dropped non-point rows
(VERDICT item 4). These tests drive both broadcast and grid paths against
a brute-force exact-distance oracle."""

import numpy as np
import pytest

from sedona_db_spark.geometry import algos, wkb
from sedona_db_spark.operators.knn_join import knn_join


def _probe_df(spark, n=60, seed=0):
    rng = np.random.default_rng(seed)
    x = rng.uniform(0, 100, n)
    y = rng.uniform(0, 100, n)
    rows = [(int(i), bytes(b)) for i, b in enumerate(wkb.encode_points_xy(x, y))]
    return spark.createDataFrame(rows, "pid LONG, geometry BINARY"), x, y


def _rect_build(spark, m=40, seed=1):
    rng = np.random.default_rng(seed)
    x0 = rng.uniform(0, 90, m)
    y0 = rng.uniform(0, 90, m)
    w = rng.uniform(1, 8, m)
    h = rng.uniform(1, 8, m)
    rows = [
        (int(j), wkb.encode(wkb.box(float(x0[j]), float(y0[j]), float(x0[j] + w[j]), float(y0[j] + h[j]))))
        for j in range(m)
    ]
    rects = np.column_stack([x0, y0, x0 + w, y0 + h])
    return spark.createDataFrame(rows, "bid LONG, geometry BINARY"), rects


def _tri_build(spark, m=30, seed=2):
    rng = np.random.default_rng(seed)
    geoms = []
    for j in range(m):
        cx, cy = rng.uniform(5, 95, 2)
        pts = np.column_stack([cx + rng.uniform(-4, 4, 3), cy + rng.uniform(-4, 4, 3)])
        ring = np.vstack([pts, pts[:1]])
        geoms.append(wkb.Geometry(wkb.POLYGON, [ring]))
    rows = [(int(j), wkb.encode(g)) for j, g in enumerate(geoms)]
    return spark.createDataFrame(rows, "bid LONG, geometry BINARY"), geoms


def _rect_dist(px, py, rects):
    dx = np.maximum(np.maximum(rects[:, 0] - px, px - rects[:, 2]), 0.0)
    dy = np.maximum(np.maximum(rects[:, 1] - py, py - rects[:, 3]), 0.0)
    return np.sqrt(dx * dx + dy * dy)


@pytest.mark.parametrize("bt", [200_000, 0])  # broadcast path / grid path
def test_rect_build_matches_bruteforce(spark, bt):
    k = 3
    P, px, py = _probe_df(spark)
    B, rects = _rect_build(spark)
    out = knn_join(P, B, k=k, build_id="bid", grid_level=5, broadcast_threshold=bt)
    got = {(r["pid"], r["knn_rank"]): (r["bid"], r["knn_distance"]) for r in out.collect()}
    assert len(got) == len(px) * k
    for i in range(len(px)):
        d = _rect_dist(px[i], py[i], rects)
        order = np.lexsort((np.arange(len(d)), d * d))
        for rank in range(1, k + 1):
            bid, dist = got[(i, rank)]
            assert bid == int(order[rank - 1])
            assert dist == pytest.approx(float(d[order[rank - 1]]), abs=1e-9)


@pytest.mark.parametrize("bt", [200_000, 0])
def test_general_build_matches_bruteforce(spark, bt):
    k = 2
    P, px, py = _probe_df(spark, n=40, seed=3)
    B, geoms = _tri_build(spark)
    out = knn_join(P, B, k=k, build_id="bid", grid_level=5, broadcast_threshold=bt)
    got = {(r["pid"], r["knn_rank"]): (r["bid"], r["knn_distance"]) for r in out.collect()}
    assert len(got) == len(px) * k
    for i in range(len(px)):
        d = np.array(
            [algos.points_to_geometry_distance(np.array([px[i]]), np.array([py[i]]), g)[0] for g in geoms]
        )
        order = np.lexsort((np.arange(len(d)), d * d))
        for rank in range(1, k + 1):
            bid, dist = got[(i, rank)]
            assert bid == int(order[rank - 1]), f"probe {i} rank {rank}"
            assert dist == pytest.approx(float(d[order[rank - 1]]), abs=1e-9)


def test_probe_inside_rect_distance_zero(spark):
    P = spark.createDataFrame(
        [(0, bytes(wkb.encode_points_xy(np.array([5.0]), np.array([5.0]))[0]))],
        "pid LONG, geometry BINARY",
    )
    B, _ = _rect_build(spark, m=5, seed=9)
    B2 = B.union(
        spark.createDataFrame([(99, wkb.encode(wkb.box(0, 0, 10, 10)))], "bid LONG, geometry BINARY")
    )
    out = knn_join(P, B2, k=1, build_id="bid").collect()
    assert out[0]["knn_distance"] == 0.0


def test_non_point_probe_raises(spark):
    B, _ = _rect_build(spark, m=5)
    with pytest.raises((Exception,), match="probe side must be point"):
        knn_join(B, B, k=1, build_id="bid")


@pytest.mark.parametrize("bt", [200_000, 0])  # broadcast past the cap / grid path
def test_build_past_cap_mixing_bigendian_points_and_rects(spark, bt):
    """A build side past the 20k collect cap is classified by one Spark job
    over every row: big-endian points are points there too, so points +
    rects take the rect kernel, and every rank equals a brute force."""
    import struct

    rng = np.random.default_rng(11)
    m = 20_050
    bx, by = rng.uniform(0, 100, m), rng.uniform(0, 100, m)
    rows = [(j, b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", bx[j], by[j]))
            for j in range(m)]
    rects = np.array([[10.0, 10.0, 10.4, 10.3], [60.0, 20.0, 60.5, 20.2], [33.0, 70.0, 33.3, 70.6]])
    rows += [(m + j, wkb.encode(wkb.box(*r))) for j, r in enumerate(rects)]
    B = spark.createDataFrame(rows, "bid LONG, geometry BINARY")
    P, px, py = _probe_df(spark, n=12, seed=12)
    out = knn_join(P, B, k=4, build_id="bid", grid_level=7, broadcast_threshold=bt)
    got = sorted((r["pid"], r["knn_rank"], r["bid"], r["knn_distance"]) for r in out.collect())
    boxes = np.vstack([np.column_stack([bx, by, bx, by]), rects])
    want = []
    for i in range(len(px)):
        d = _rect_dist(px[i], py[i], boxes)
        order = np.lexsort((np.arange(len(d)), d * d))[:4]
        want += [(i, rank + 1, int(j), float(d[j])) for rank, j in enumerate(order)]
    assert [g[:3] for g in got] == [w[:3] for w in sorted(want)]
    np.testing.assert_allclose([g[3] for g in got], [w[3] for w in sorted(want)], atol=1e-9)
