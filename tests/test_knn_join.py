"""kNN join differential tests, broadcast and grid routes.

Mirrors the reference (`python/sedonadb/tests/test_knnjoin.py:24-100`):
|result| = |probe| * k, per-probe distances ascend, and the neighbor sets
match a brute-force oracle exactly — including the grid route's bound at
cell borders (the part the reference gets free from its global R-tree)."""

import numpy as np
import pytest

from pyspark.sql.types import BinaryType, DoubleType, LongType, StructField, StructType

from sedona_db_spark.geometry import algos, wkb
from sedona_db_spark.operators.knn_join import knn_join

SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("geometry", BinaryType()),
])


def make_points(n, seed, bounds=(0, 0, 100, 100)):
    rng = np.random.default_rng(seed)
    x = rng.uniform(bounds[0], bounds[2], n)
    y = rng.uniform(bounds[1], bounds[3], n)
    return [(int(i), bytes(b)) for i, b in enumerate(wkb.encode_points_xy(x, y))], x, y


def brute_knn(px, py, bx, by, k):
    """Oracle: exact k nearest by (distance, build_id)."""
    out = {}
    for i in range(len(px)):
        d = np.hypot(bx - px[i], by - py[i])
        order = np.lexsort((np.arange(len(bx)), d))
        out[i] = [(int(j), float(d[j])) for j in order[:k]]
    return out


@pytest.mark.parametrize("k", [1, 3, 5])
@pytest.mark.parametrize("bt", [0, 200_000])  # 0 forces the grid path
def test_knn_matches_bruteforce(spark, k, bt):
    probe_rows, px, py = make_points(60, 42)
    build_rows, bx, by = make_points(150, 43)
    P = spark.createDataFrame(probe_rows, SCHEMA).withColumnRenamed("id", "pid")
    B = spark.createDataFrame(build_rows, SCHEMA).withColumnRenamed("id", "bid")
    res = knn_join(P, B, k=k, build_id="bid", grid_level=5, broadcast_threshold=bt)
    rows = res.select("pid", "bid", "knn_distance", "knn_rank").collect()
    assert len(rows) == 60 * k
    want = brute_knn(px, py, bx, by, k)
    got = {}
    for r in rows:
        got.setdefault(r["pid"], []).append((r["knn_rank"], r["bid"], r["knn_distance"]))
    for pid, lst in got.items():
        lst.sort()
        ids = [b for _, b, _ in lst]
        dists = [d for _, _, d in lst]
        assert dists == sorted(dists), f"probe {pid}: distances not ascending"
        want_ids = [j for j, _ in want[pid]]
        assert ids == want_ids, f"probe {pid}"
        for d, (_, wd) in zip(dists, want[pid]):
            assert abs(d - wd) < 1e-9


def test_knn_sparse_build_forces_ring_escalation(spark):
    """Tiny build side clustered in one corner: most probes' k-th neighbor is
    far from their own grid cell, so their cells' bounds reach across the
    grid to the cluster."""
    probe_rows, px, py = make_points(40, 1)
    rng = np.random.default_rng(2)
    bx = rng.uniform(0, 5, 8)
    by = rng.uniform(0, 5, 8)
    build_rows = [(int(i), bytes(b)) for i, b in enumerate(wkb.encode_points_xy(bx, by))]
    P = spark.createDataFrame(probe_rows, SCHEMA).withColumnRenamed("id", "pid")
    B = spark.createDataFrame(build_rows, SCHEMA).withColumnRenamed("id", "bid")
    res = knn_join(P, B, k=3, build_id="bid", grid_level=6, broadcast_threshold=0)
    rows = res.select("pid", "bid", "knn_rank").collect()
    assert len(rows) == 40 * 3
    want = brute_knn(px, py, bx, by, 3)
    got = {}
    for r in rows:
        got.setdefault(r["pid"], set()).add(r["bid"])
    for pid in got:
        assert got[pid] == {j for j, _ in want[pid]}, f"probe {pid}"


def test_knn_k_exceeds_build_size(spark):
    probe_rows, px, py = make_points(10, 5)
    build_rows, bx, by = make_points(4, 6)
    P = spark.createDataFrame(probe_rows, SCHEMA).withColumnRenamed("id", "pid")
    B = spark.createDataFrame(build_rows, SCHEMA).withColumnRenamed("id", "bid")
    res = knn_join(P, B, k=9, build_id="bid", grid_level=4)
    assert res.count() == 10 * 4
    res = knn_join(P, B, k=9, build_id="bid", grid_level=4, broadcast_threshold=0)
    assert res.count() == 10 * 4


def test_knn_grid_k_counts_only_findable_build_rows(spark):
    """Grid path: POINT EMPTY build rows are never candidates, so
    k beyond the non-empty build rows must settle on those rows (counting
    the EMPTY rows in k made every probe escalate through every pass)."""
    probe_rows, _, _ = make_points(6, 11)
    empty = wkb.encode(wkb.from_wkt("POINT EMPTY"))
    be_empty = b"\x00\x00\x00\x00\x01" + b"\x7f\xf8" + b"\x00" * 6 + b"\x7f\xf8" + b"\x00" * 6
    build_rows = [(0, wkb.encode(wkb.point(20.0, 30.0))), (1, empty),
                  (2, wkb.encode(wkb.point(70.0, 60.0))), (3, be_empty)]
    P = spark.createDataFrame(probe_rows, SCHEMA).withColumnRenamed("id", "pid")
    B = spark.createDataFrame(build_rows, SCHEMA).withColumnRenamed("id", "bid")
    kw = dict(k=4, build_id="bid", grid_level=2)
    cols = ("pid", "bid", "knn_rank", "knn_distance")
    want = sorted(tuple(r) for r in knn_join(P, B, **kw).select(*cols).collect())
    assert len(want) == 6 * 2
    got = sorted(tuple(r) for r in knn_join(P, B, broadcast_threshold=0, **kw).select(*cols).collect())
    assert got == want


def test_knn_include_ties(spark):
    # 4 equidistant neighbors, k=2 with ties -> all 4 returned
    probe_rows = [(0, bytes(wkb.encode_points_xy(np.array([50.0]), np.array([50.0]))[0]))]
    off = np.array([[1, 0], [-1, 0], [0, 1], [0, -1]], dtype=float)
    bx, by = 50 + off[:, 0], 50 + off[:, 1]
    build_rows = [(int(i), bytes(b)) for i, b in enumerate(wkb.encode_points_xy(bx, by))]
    P = spark.createDataFrame(probe_rows, SCHEMA).withColumnRenamed("id", "pid")
    B = spark.createDataFrame(build_rows, SCHEMA).withColumnRenamed("id", "bid")
    for bt in (0, 200_000):
        res = knn_join(P, B, k=2, build_id="bid", include_ties=True, grid_level=5,
                       broadcast_threshold=bt)
        assert res.count() == 4, f"bt={bt}"
        res2 = knn_join(P, B, k=2, build_id="bid", include_ties=False, grid_level=5,
                        broadcast_threshold=bt)
        assert res2.count() == 2, f"bt={bt}"


def test_knn_spheroid_metric(spark):
    # haversine: nearest in meters differs from planar degrees at high lat
    probe_rows = [(0, bytes(wkb.encode_points_xy(np.array([0.0]), np.array([80.0]))[0]))]
    # candidate A: 5 deg east at lat 80 (short in meters); B: 4 deg south (long)
    bx = np.array([5.0, 0.0])
    by = np.array([80.0, 75.5])
    build_rows = [(int(i), bytes(b)) for i, b in enumerate(wkb.encode_points_xy(bx, by))]
    P = spark.createDataFrame(probe_rows, SCHEMA).withColumnRenamed("id", "pid")
    B = spark.createDataFrame(build_rows, SCHEMA).withColumnRenamed("id", "bid")
    planar = knn_join(P, B, k=1, build_id="bid", grid_level=4).collect()[0]["bid"]
    sphere = knn_join(P, B, k=1, build_id="bid", use_spheroid=True, grid_level=4).collect()[0]["bid"]
    assert knn_join(P, B, k=1, build_id="bid", grid_level=4,
                    broadcast_threshold=0).collect()[0]["bid"] == planar
    assert planar == 1  # 4.5 deg < 5 deg planar
    assert sphere == 0  # 5 deg lon at lat 80 ≈ 97 km < 500 km


def test_spheroid_rect_build(spark):
    """Spheroid kNN with a rect build side (round-2 VERDICT item 9):
    matches a brute-force exact spherical point->rect computation."""
    import numpy as np

    from sedona_db_spark.geometry import sphere, wkb as _wkb
    from sedona_db_spark.operators.knn_join import knn_join

    rng = np.random.default_rng(23)
    px = rng.uniform(-179, 179, 120)
    py = rng.uniform(-85, 85, 120)
    pts = spark.createDataFrame(
        [(int(i), bytes(w)) for i, w in enumerate(_wkb.encode_points_xy(px, py))],
        "pid LONG, geom BINARY",
    )
    boxes, bb = [], []
    for i in range(12):
        x0 = -170.0 + i * 28.0
        y0 = -60.0 + (i % 4) * 30.0
        boxes.append((i, _wkb.encode(_wkb.box(x0, y0, x0 + 20.0, y0 + 25.0))))
        bb.append((x0, y0, x0 + 20.0, y0 + 25.0))
    B = spark.createDataFrame(boxes, "bid INT, geom BINARY")
    j = knn_join(pts, B, k=2, probe_geom="geom", build_geom="geom",
                 build_id="bid", use_spheroid=True)
    got = {(r["pid"], r["bid"], r["knn_rank"]) for r in
           j.select("pid", "bid", "knn_rank").collect()}
    bb = np.array(bb)
    D = sphere.points_to_latlon_rect_distance_m(
        px, py, bb[:, 0], bb[:, 1], bb[:, 2], bb[:, 3])
    want = set()
    for i in range(len(px)):
        order = np.lexsort((np.arange(12), D[i]))
        for r, jbox in enumerate(order[:2]):
            want.add((i, int(jbox), r + 1))
    assert got == want


def test_spheroid_general_build(spark):
    """Spheroid kNN with a general (triangle) build side uses exact
    great-circle point->geometry distances."""
    import numpy as np

    from sedona_db_spark.geometry import sphere, wkb as _wkb
    from sedona_db_spark.operators.knn_join import knn_join

    rng = np.random.default_rng(29)
    px = rng.uniform(-60, 60, 60)
    py = rng.uniform(-50, 50, 60)
    pts = spark.createDataFrame(
        [(int(i), bytes(w)) for i, w in enumerate(_wkb.encode_points_xy(px, py))],
        "pid LONG, geom BINARY",
    )
    tris = []
    for i in range(6):
        cx, cy = -50.0 + i * 20.0, -30.0 + (i % 3) * 25.0
        tris.append((i, _wkb.encode(_wkb.from_wkt(
            f"POLYGON(({cx} {cy}, {cx+8} {cy}, {cx+4} {cy+7}, {cx} {cy}))"))))
    B = spark.createDataFrame(tris, "bid INT, geom BINARY")
    j = knn_join(pts, B, k=2, probe_geom="geom", build_geom="geom",
                 build_id="bid", use_spheroid=True)
    got = {(r["pid"], r["bid"], r["knn_rank"]) for r in
           j.select("pid", "bid", "knn_rank").collect()}
    D = np.column_stack([
        sphere.points_to_geography_distance_m(px, py, _wkb.parse(t[1]))
        for t in tris
    ])
    want = set()
    for i in range(len(px)):
        order = np.lexsort((np.arange(6), D[i]))
        for r, jt in enumerate(order[:2]):
            want.add((i, int(jt), r + 1))
    assert got == want


def test_spherical_tagged_columns_force_haversine(spark):
    """knn_join on geography-tagged columns must rank by great-circle
    meters even when the caller forgets use_spheroid=True."""
    import numpy as np

    from sedona_db_spark.geometry import wkb
    from sedona_db_spark.types import with_geom_meta

    # at lat 60, 1 degree of lon is half as long as 1 degree of lat —
    # planar-degree ranking inverts this pair
    probe = spark.createDataFrame(
        [(0, bytes(wkb.encode_points_xy(np.array([0.0]), np.array([60.0]))[0]))],
        "pid LONG, geom BINARY",
    )
    build = spark.createDataFrame(
        [
            (1, bytes(wkb.encode_points_xy(np.array([1.8]), np.array([60.0]))[0])),
            (2, bytes(wkb.encode_points_xy(np.array([0.0]), np.array([61.0]))[0])),
        ],
        "bid LONG, geom BINARY",
    )
    gp = with_geom_meta(probe, "geom", crs="EPSG:4326", edges="spherical")
    gb = with_geom_meta(build, "geom", crs="EPSG:4326", edges="spherical")
    got = knn_join(gp, gb, k=1, probe_geom="geom", build_geom="geom").collect()
    assert got[0]["bid"] == 1  # 1.8 deg lon at lat 60 ≈ 100 km < 111 km
    planar = knn_join(probe, build, k=1, probe_geom="geom", build_geom="geom").collect()
    assert planar[0]["bid"] == 2  # planar degrees rank the other way
    import pytest as _pt
    with _pt.raises(ValueError, match="edges"):
        knn_join(gp, build, k=1, probe_geom="geom", build_geom="geom")


def test_knn_probe_order_preserved(spark):
    """Round-4: knn_join_ordered emits probe rows in arrival order with
    each row's k neighbors adjacent and rank-sorted."""
    import numpy as np

    from sedona_db_spark.geometry import wkb as W
    from sedona_db_spark.operators.spatial_join import knn_join_ordered

    rng = np.random.default_rng(13)
    perm = rng.permutation(120)
    xs = rng.uniform(-50, 50, 120)
    ys = rng.uniform(-50, 50, 120)
    probe = spark.createDataFrame(
        [(int(perm[i]), bytes(b)) for i, b in enumerate(W.encode_points_xy(xs, ys))],
        "pid LONG, geom BINARY")
    probe_order = [r["pid"] for r in probe.select("pid").collect()]
    bx = rng.uniform(-50, 50, 40)
    by = rng.uniform(-50, 50, 40)
    build = spark.createDataFrame(
        [(int(i), bytes(b)) for i, b in enumerate(W.encode_points_xy(bx, by))],
        "bid LONG, geometry BINARY")
    out = knn_join_ordered(probe, build, k=3, probe_geom="geom",
                           build_geom="geometry", build_id="bid")
    rows = out.select("pid", "knn_rank").collect()
    assert [r["pid"] for r in rows] == [p for p in probe_order for _ in range(3)]
    assert [r["knn_rank"] for r in rows] == [1, 2, 3] * 120


def test_spheroid_chord_prune_differential(spark):
    """Chord-prune broadcast spheroid kNN (round 5): the GEMM candidate
    cut must reproduce the full-haversine-matrix ranking bit-exactly,
    including exact E/W mirror ties (broken by build tie order)."""
    rng = np.random.default_rng(31)
    px = rng.uniform(-179, 179, 150)
    py = rng.uniform(-85, 85, 150)
    # exact-tie probes: 0 lon, mirrored build pairs at +-dlon added below
    px[:5] = 0.0
    py[:5] = np.array([0.0, 20.0, -40.0, 60.0, 80.0])
    bx = rng.uniform(-179, 179, 300)
    by = rng.uniform(-85, 85, 300)
    # mirrored pairs around lon 0 at the tie-probes' latitudes: exact
    # haversine ties (same |dlon|, same lats)
    bx[:10] = np.array([3.0, -3.0, 2.0, -2.0, 5.0, -5.0, 1.5, -1.5, 4.0, -4.0])
    by[:10] = np.repeat(py[:5], 2)
    P = spark.createDataFrame(
        [(int(i), bytes(b)) for i, b in enumerate(wkb.encode_points_xy(px, py))],
        SCHEMA).withColumnRenamed("id", "pid")
    B = spark.createDataFrame(
        [(int(i), bytes(b)) for i, b in enumerate(wkb.encode_points_xy(bx, by))],
        SCHEMA).withColumnRenamed("id", "bid")
    for k in (1, 3):
        j = knn_join(P, B, k=k, build_id="bid", use_spheroid=True)
        got = {}
        for r in j.select("pid", "bid", "knn_rank", "knn_distance").collect():
            got.setdefault(r["pid"], []).append(
                (r["knn_rank"], r["bid"], r["knn_distance"]))
        assert len(got) == len(px)
        for i in range(len(px)):
            d = algos.haversine_m(px[i], py[i], bx, by)
            order = np.lexsort((np.arange(len(bx)), d))
            want = [(rk + 1, int(j_), float(d[j_]))
                    for rk, j_ in enumerate(order[:k])]
            assert sorted(got[i]) == want, f"probe {i} k={k}"


def test_planar_eucl_prune_mirror_ties(spark):
    """Planar GEMM prune (round 5): exact mirror-pair ties must break by
    build tie order, identical to the full-matrix path."""
    rng = np.random.default_rng(47)
    px = rng.uniform(0, 100, 80)
    py = rng.uniform(0, 100, 80)
    px[:3] = 50.0
    py[:3] = np.array([10.0, 50.0, 90.0])
    bx = rng.uniform(0, 100, 200)
    by = rng.uniform(0, 100, 200)
    bx[:6] = np.array([53.0, 47.0, 52.0, 48.0, 51.0, 49.0])
    by[:6] = np.repeat(py[:3], 2)
    P = spark.createDataFrame(
        [(int(i), bytes(b)) for i, b in enumerate(wkb.encode_points_xy(px, py))],
        SCHEMA).withColumnRenamed("id", "pid")
    B = spark.createDataFrame(
        [(int(i), bytes(b)) for i, b in enumerate(wkb.encode_points_xy(bx, by))],
        SCHEMA).withColumnRenamed("id", "bid")
    res = knn_join(P, B, k=3, build_id="bid")
    got = {}
    for r in res.select("pid", "bid", "knn_rank").collect():
        got.setdefault(r["pid"], []).append((r["knn_rank"], r["bid"]))
    want = brute_knn(px, py, bx, by, 3)
    for i in range(len(px)):
        assert sorted(got[i]) == [(rk + 1, j) for rk, (j, _) in
                                  enumerate(want[i])], i


def test_planar_eucl_prune_exact_at_large_offset(spark):
    """Planar GEMM prune at a 1e8 coordinate offset: 200 build points
    co-circular at radius 1000 around the probe. The uncentred key
    p.b - |b|^2/2 carries ~eps*|coord|^2 of cancellation noise, enough
    to cut the true nearest neighbour; the pruned path (k=1) must equal
    the full-scan path (k large enough to disable the prune) row for row."""
    off = 1e8
    theta = 2 * np.pi * np.arange(200) / 200
    bx, by = off + 1000 * np.cos(theta), off + 1000 * np.sin(theta)
    px, py = np.array([off, off + 3.0]), np.array([off, off - 7.0])
    P = spark.createDataFrame(
        [(int(i), bytes(b)) for i, b in enumerate(wkb.encode_points_xy(px, py))],
        SCHEMA).withColumnRenamed("id", "pid")
    B = spark.createDataFrame(
        [(int(i), bytes(b)) for i, b in enumerate(wkb.encode_points_xy(bx, by))],
        SCHEMA).withColumnRenamed("id", "bid")
    cols = ["pid", "bid", "knn_distance", "knn_rank"]
    pruned = sorted(tuple(r) for r in knn_join(P, B, k=1, build_id="bid").select(*cols).collect())
    full = sorted(tuple(r) for r in knn_join(P, B, k=200, build_id="bid")
                  .where("knn_rank = 1").select(*cols).collect())
    assert len(pruned) == 2
    assert pruned == full


def _prune_case(kind):
    """(build x, y, probe x, y) with exact grid ties, duplicate build
    points, a co-circular ring and random fill; ``kind`` is a planar
    coordinate offset or "spheroid" (lon/lat clusters at mid latitude,
    across the antimeridian and next to the pole)."""
    rng = np.random.default_rng(31)
    gi, gj = np.meshgrid(np.arange(15.0), np.arange(15.0))
    theta = 2 * np.pi * np.arange(120) / 120
    if kind == "spheroid":
        parts, probes = [], []
        for lon0, lat0 in ((10.0, 45.0), (179.95, -30.0), (-60.0, 89.8)):
            s = 0.01
            # great-circle ring of radius 1 km: haversine ties up to rounding
            c0, c1, dr = np.radians(lon0 + 7 * s), np.radians(lat0 + 7 * s), 1000.0 / algos.EARTH_RADIUS_M
            rlat = np.arcsin(np.sin(c1) * np.cos(dr) + np.cos(c1) * np.sin(dr) * np.cos(theta))
            rlon = c0 + np.arctan2(np.sin(theta) * np.sin(dr) * np.cos(c1),
                                   np.cos(dr) - np.sin(c1) * np.sin(rlat))
            bx = np.concatenate([lon0 + s * gi.ravel(), np.degrees(rlon),
                                 lon0 + s * rng.uniform(0, 14, 20)])
            by = np.concatenate([lat0 + s * gj.ravel(), np.degrees(rlat),
                                 lat0 + s * rng.uniform(0, 14, 20)])
            parts.append((bx, by))
            probes += [(lon0 + 7 * s, lat0 + 7 * s), (lon0 + 3.5 * s, lat0 + 4.5 * s),
                       (lon0 + 5 * s, lat0 + 5 * s), (lon0 + 14.2 * s, lat0 - 0.3 * s)]
        bx = np.concatenate([p[0] for p in parts])
        by = np.concatenate([p[1] for p in parts])
        bx = np.where(bx > 180.0, bx - 360.0, bx)
        px, py = np.array(probes).T
        px = np.where(px > 180.0, px - 360.0, px)
    else:
        off = kind
        bx = np.concatenate([off + gi.ravel(), off + 7 + 3 * np.cos(theta),
                             off + rng.uniform(0, 14, 40), [off + 5.0] * 3])
        by = np.concatenate([off + gj.ravel(), off + 7 + 3 * np.sin(theta),
                             off + rng.uniform(0, 14, 40), [off + 5.0] * 3])
        px = off + np.array([7.0, 3.5, 5.0, 14.2, 0.0, 9.25])
        py = off + np.array([7.0, 4.5, 5.0, -0.3, 0.0, 2.75])
    return bx, by, px, py


@pytest.mark.parametrize("kind", [0.0, 1e4, 1e9, "spheroid"])
def test_point_knn_prune_equals_bruteforce_topk(spark, kind):
    """The GEMM prune paths (planar and chord) return a brute-force numpy
    top-k row for row — same neighbours, ranks, tie order (build id) and
    bit-equal distances — on ties at the cut, near-ties whose keys differ
    in the last ulps, and offsets up to 1e9 (n_build > 4 * kk_prune, so
    every k here takes the prune)."""
    bx, by, px, py = _prune_case(kind)
    spheroid = kind == "spheroid"
    assert len(bx) > 4 * 32
    P = spark.createDataFrame(
        [(int(i), bytes(b)) for i, b in enumerate(wkb.encode_points_xy(px, py))],
        SCHEMA).withColumnRenamed("id", "pid")
    B = spark.createDataFrame(
        [(int(i), bytes(b)) for i, b in enumerate(wkb.encode_points_xy(bx, by))],
        SCHEMA).withColumnRenamed("id", "bid")
    if spheroid:
        d = algos.haversine_m(px[:, None], py[:, None], bx[None, :], by[None, :])
    else:
        dx, dy = px[:, None] - bx[None, :], py[:, None] - by[None, :]
        d = dx * dx + dy * dy
    for k in (1, 5, 16):
        want = []
        for i in range(len(px)):
            order = np.lexsort((np.arange(len(bx)), d[i]))[:k]
            want += [(i, int(j), float(d[i, j] if spheroid else np.sqrt(d[i, j])), r + 1)
                     for r, j in enumerate(order)]
        got = knn_join(P, B, k=k, build_id="bid", use_spheroid=spheroid).select(
            "pid", "bid", "knn_distance", "knn_rank").collect()
        assert sorted(tuple(r) for r in got) == sorted(want), k


def _route_rows(res):
    return sorted((r["pid"], r["bid"], r["knn_rank"], round(r["knn_distance"], 9))
                  for r in res.select("pid", "bid", "knn_rank", "knn_distance").collect())


def test_broadcast_knn_duplicates_nulls_empties_match_grid_and_bruteforce(spark, caplog):
    """Each build row is its own entry: two identical build rows both come
    back, ranked 1 and 2; identical probe rows each get their k; NULL and
    EMPTY rows on either side match nothing. Both routes agree with a brute
    force."""
    probe_rows, px, py = make_points(30, 21)
    build_rows, bx, by = make_points(40, 22)
    empty = wkb.encode(wkb.from_wkt("POINT EMPTY"))
    be_empty = b"\x00\x00\x00\x00\x01" + b"\x7f\xf8" + b"\x00" * 6 + b"\x7f\xf8" + b"\x00" * 6
    probe_rows += [(30, None), (31, empty), (32, be_empty), probe_rows[3], probe_rows[3]]
    build_rows += [(40, None), (41, empty), (42, be_empty), build_rows[7]]
    P = spark.createDataFrame(probe_rows, SCHEMA).withColumnRenamed("id", "pid")
    B = spark.createDataFrame(build_rows, SCHEMA).withColumnRenamed("id", "bid")
    want = []
    bxd, byd = np.append(bx, bx[7]), np.append(by, by[7])
    bids = np.append(np.arange(40), 7)
    for pid, x, y in list(zip(range(30), px, py)) + [(3, px[3], py[3])] * 2:
        d = np.sqrt((bxd - x) ** 2 + (byd - y) ** 2)
        order = np.lexsort((bids, d))[:4]
        want += [(pid, int(bids[j]), r + 1, round(float(d[j]), 9)) for r, j in enumerate(order)]
    near7 = [w for w in want if w[0] != 3 and w[1] == 7]
    assert any(a[:2] == b[:2] and (a[2], b[2]) == (r, r + 1)
               for a, b in zip(near7, near7[1:]) for r in (1, 2, 3))  # both copies ranked
    for bt, route in ((200_000, "broadcast"), (0, "grid")):
        caplog.clear()
        with caplog.at_level("INFO", logger="sedona_db_spark.plan"):
            res = knn_join(P, B, k=4, build_id="bid", grid_level=4, broadcast_threshold=bt)
        assert [r.plan for r in caplog.records if r.name == "sedona_db_spark.plan"] == [
            {"route": route, "build_rows": 44, "build_mode": "point", "k_eff": 4}]
        assert _route_rows(res) == sorted(want), f"bt={bt}"


def test_broadcast_knn_distance_ties_match_grid(spark):
    """Twelve build points at distance exactly 5: without ``build_id`` the
    routes break ties by the same content key (same rows), with it by the
    id, and ``include_ties`` returns every tied row at rank 1."""
    ring = [(3, 4), (4, 3), (5, 0), (0, 5), (-3, 4), (-4, 3), (-5, 0), (0, -5),
            (3, -4), (4, -3), (-3, -4), (-4, -3)]
    xy = np.array(ring + [(6, 6), (9, 1), (-7, 2)], dtype=float) + 50.0
    B = spark.createDataFrame(
        [(int(i), bytes(w)) for i, w in enumerate(wkb.encode_points_xy(xy[:, 0], xy[:, 1]))],
        SCHEMA).withColumnRenamed("id", "bid")
    P = spark.createDataFrame(
        [(0, bytes(wkb.encode_points_xy(np.array([50.0]), np.array([50.0]))[0]))],
        SCHEMA).withColumnRenamed("id", "pid")
    for kw in (dict(), dict(build_id="bid"), dict(include_ties=True)):
        got = [_route_rows(knn_join(P, B, k=5, grid_level=4, broadcast_threshold=bt, **kw))
               for bt in (200_000, 0)]
        assert got[0] == got[1], kw
        if kw.get("include_ties"):
            assert got[0] == [(0, b, 1, 5.0) for b in range(12)]
        else:
            assert sorted(r[2:] for r in got[0]) == [(1 + i, 5.0) for i in range(5)]
            assert {r[1] for r in got[0]} <= set(range(12))
        if "build_id" in kw:
            assert sorted(r[1:3] for r in got[0]) == [(b, b + 1) for b in range(5)]


def test_knn_build_columns_of_every_type_come_back_unchanged(spark):
    """The broadcast route appends the collected build columns to each
    match; every Spark type comes back as it went in, on both routes."""
    import datetime
    import decimal

    from pyspark.sql import functions as F

    probe_rows, _, _ = make_points(20, 31)
    build_pts, _, _ = make_points(12, 32)
    rows = [(i, g, datetime.datetime(2021, 3, 1 + i, i, 30, 15, 250), datetime.date(2020, 2, 1 + i),
             decimal.Decimal(f"{i}.{i:02d}"), [i, None, -i], (i, f"s{i}", [1.5 * i]),
             {f"k{i}": i, "z": None}, None)
            for i, g in build_pts]
    B = spark.createDataFrame(rows, "bid LONG, geometry BINARY, ts TIMESTAMP, d DATE, "
                              "dec DECIMAL(12,2), arr ARRAY<INT>, "
                              "st STRUCT<a: LONG, b: STRING, c: ARRAY<DOUBLE>>, "
                              "m MAP<STRING, INT>, nul STRING").withColumn("void", F.lit(None))
    P = spark.createDataFrame(probe_rows, SCHEMA).withColumnRenamed("id", "pid")
    src = {r["bid"]: r.asDict(recursive=True) for r in B.collect()}
    for bt in (200_000, 0):
        res = knn_join(P, B, k=3, build_id="bid", grid_level=4, broadcast_threshold=bt)
        assert res.schema.fields[2:-2] == B.schema.fields, bt
        got = res.collect()
        assert len(got) == 20 * 3
        for r in got:
            d = r.asDict(recursive=True)
            assert {c: d[c] for c in B.columns} == src[r["bid"]], bt


# --- the grid route past the broadcast cap: one bounded cogroup pass ---------

def _be_pt(x, y):
    import struct

    return b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", x, y)


def _ewkb_pt(x, y):
    import struct

    return b"\x01" + struct.pack("<II", 0x20000001, 4326) + struct.pack("<dd", x, y)


_NAN = float("nan")
_ODD = [None, wkb.encode(wkb.from_wkt("POINT EMPTY")), _be_pt(_NAN, _NAN), _ewkb_pt(_NAN, _NAN)]


def _oracle(probe_rows, build_rows, k, spheroid=False, ties=False):
    """Brute-force kNN rows ``(pid, bid, rank, distance)`` with the kernel's
    rank keys — haversine meters, or the squared planar distance of the
    build side's mode (point, rect, or general) — ties broken by ``bid``.
    NULL and EMPTY rows match nothing."""
    builds = [(bid, wkb.parse(g)) for bid, g in build_rows if g is not None]
    builds = [(bid, g) for bid, g in builds if len(g.all_coords())]
    kinds = {wkb.shape_kinds([wkb.encode(g)])[0] for _, g in builds}
    mode = ("point" if kinds <= {wkb.KIND_POINT} else
            "rect" if kinds <= {wkb.KIND_POINT, wkb.KIND_RECT} else "general")
    bids = np.array([bid for bid, _ in builds])
    out = []
    for pid, g in probe_rows:
        p = None if g is None else wkb.parse(g)
        if p is None or not len(p.coords):
            continue
        px, py = np.array([p.coords[0, 0]]), np.array([p.coords[0, 1]])
        key = []
        for _, b in builds:
            c = b.all_coords()
            if spheroid:
                key.append(float(algos.haversine_m(px, py, c[:1, 0], c[:1, 1])[0]))
            elif mode == "point":
                dx, dy = px[0] - c[0, 0], py[0] - c[0, 1]
                key.append(dx * dx + dy * dy)
            elif mode == "rect":
                dx = max(c[:, 0].min() - px[0], px[0] - c[:, 0].max(), 0.0)
                dy = max(c[:, 1].min() - py[0], py[0] - c[:, 1].max(), 0.0)
                key.append(dx * dx + dy * dy)
            else:
                d = algos.points_to_geometry_distance(px, py, b)[0]
                key.append(d * d)
        key = np.array(key)
        order = np.lexsort((bids, key))
        if not len(order):
            continue
        kth = key[order[min(k, len(order)) - 1]]
        for r, j in enumerate(order):
            if (key[j] > kth) if ties else r >= k:
                break
            rank = int(np.sum(key < key[j])) + 1 if ties else r + 1
            out.append((pid, int(bids[j]), rank, float(key[j] if spheroid else np.sqrt(key[j]))))
    return sorted(out)


def _three_way(spark, probe_rows, build_rows, k, spheroid=False, ties=False, caplog=None):
    """The grid route's rows equal the broadcast route's and the brute force's."""
    P = spark.createDataFrame(probe_rows, "pid LONG, geometry BINARY")
    B = spark.createDataFrame(build_rows, "bid LONG, geometry BINARY")
    cols = ("pid", "bid", "knn_rank", "knn_distance")
    got = [sorted(tuple(r) for r in knn_join(
        P, B, k=k, build_id="bid", use_spheroid=spheroid, include_ties=ties,
        broadcast_threshold=bt).select(*cols).collect()) for bt in (0, 200_000)]
    want = _oracle(probe_rows, build_rows, k, spheroid, ties)
    assert got[0] == got[1]
    assert got[0] == want
    return want


def test_grid_knn_projected_metres_matches_bruteforce(spark):
    """Metre coordinates far outside lon/lat: the grid is fitted to the
    build side (a world grid clamps every point into one edge cell)."""
    rng = np.random.default_rng(1)
    bx, by = rng.uniform(5e5, 6e5, 300), rng.uniform(4.0e6, 4.1e6, 300)
    px, py = rng.uniform(5e5, 6e5, 50), rng.uniform(4.0e6, 4.1e6, 50)
    build = [(i, bytes(g)) for i, g in enumerate(wkb.encode_points_xy(bx, by))]
    probe = [(i, bytes(g)) for i, g in enumerate(wkb.encode_points_xy(px, py))]
    assert len(_three_way(spark, probe, build, 3)) == 50 * 3


def test_grid_knn_spheroid_across_the_antimeridian(spark):
    """The nearest build point lies across ±180: 11.1 km away, against
    50 km for the nearest one on the probe's side."""
    build = [(i, wkb.encode(wkb.point(x, 0.0))) for i, x in
             enumerate((-179.95, 179.0, 179.2, 179.5))]
    probe = [(0, wkb.encode(wkb.point(179.95, 0.0)))]
    want = _three_way(spark, probe, build, 1, spheroid=True)
    assert [w[:3] for w in want] == [(0, 0, 1)] and abs(want[0][3] - 11119.5) < 0.1
    # and near a pole, where a window spans every longitude
    build += [(4, wkb.encode(wkb.point(-10.0, 89.9))), (5, wkb.encode(wkb.point(170.0, 89.95)))]
    probe += [(1, wkb.encode(wkb.point(100.0, 89.97))), (2, wkb.encode(wkb.point(-179.99, -0.01)))]
    _three_way(spark, probe, build, 2, spheroid=True)


def test_grid_knn_outliers_ties_duplicates_and_odd_rows(spark):
    """Probes far outside the build bbox, one far build outlier, exact ties
    at the k-th distance, duplicate rows and NULL / EMPTY rows in three
    encodings on both sides; k = 4 and k beyond the findable rows."""
    rng = np.random.default_rng(5)
    bxy = np.vstack([np.column_stack([rng.integers(0, 20, 60), rng.integers(0, 20, 60)]),
                     [[1e4, -3e3]]]).astype(float)
    pxy = np.vstack([np.column_stack([rng.integers(0, 20, 30) + 0.5, rng.integers(0, 20, 30)]),
                     [[-5e3, 7e3], [10.0, 10.0], [2e4, -3e3]]]).astype(float)
    build = [(i, bytes(g)) for i, g in enumerate(wkb.encode_points_xy(bxy[:, 0], bxy[:, 1]))]
    probe = [(i, bytes(g)) for i, g in enumerate(wkb.encode_points_xy(pxy[:, 0], pxy[:, 1]))]
    build += [build[3], build[3], (70, _be_pt(4.0, 5.0)), (71, _ewkb_pt(6.0, 5.0))]
    build += [(80 + i, g) for i, g in enumerate(_ODD)]
    probe += [probe[2], probe[2], (40, _be_pt(3.5, 4.0))]
    probe += [(50 + i, g) for i, g in enumerate(_ODD)]
    for ties in (False, True):
        assert len(_three_way(spark, probe, build, 4, ties=ties)) >= 36 * 4
    odd = [(0, build[0][1]), (1, build[1][1])] + [(80 + i, g) for i, g in enumerate(_ODD)]
    assert len(_three_way(spark, probe, odd, 5)) == 36 * 2
    # a far probe shares an edge cell with near ones: that cell's window
    # spans millions of the window index's cells, every other one a few
    bxy = rng.uniform(0, 100, (400, 2))
    pxy = np.vstack([rng.uniform(0, 100, (60, 2)), [[1e7, 1e7]]])
    build = [(i, bytes(g)) for i, g in enumerate(wkb.encode_points_xy(bxy[:, 0], bxy[:, 1]))]
    probe = [(i, bytes(g)) for i, g in enumerate(wkb.encode_points_xy(pxy[:, 0], pxy[:, 1]))]
    assert len(_three_way(spark, probe, build, 1)) == 61


def test_grid_knn_rect_and_general_builds(spark):
    """Rect and general builds: each row is counted at a corner or its
    first vertex, which lies on it."""
    rng = np.random.default_rng(9)
    rects = [(i, wkb.encode(wkb.box(x, y, x + w, y + h))) for i, (x, y, w, h) in
             enumerate(zip(rng.uniform(0, 90, 40), rng.uniform(0, 90, 40),
                           rng.uniform(0, 9, 40), rng.uniform(0, 9, 40)))]
    tris = []
    for i in range(40):
        cx, cy = rng.uniform(5, 95, 2)
        ring = np.column_stack([cx + rng.uniform(-6, 6, 3), cy + rng.uniform(-6, 6, 3)])
        tris.append((100 + i, wkb.encode(wkb.Geometry(wkb.POLYGON, [np.vstack([ring, ring[:1]])]))))
    pxy = np.vstack([rng.uniform(-20, 120, (40, 2)), [[500.0, -300.0]]])
    probe = [(i, bytes(g)) for i, g in enumerate(wkb.encode_points_xy(pxy[:, 0], pxy[:, 1]))]
    _three_way(spark, probe, rects + [(99, None)], 3)
    _three_way(spark, probe, tris + rects[:5], 3)


def test_empty_build_takes_broadcast_route_at_zero_threshold(spark, caplog):
    """A broadcast cap of 0 skips the capped collect, but a build side with
    no rows is still served by the broadcast route: no neighbours."""
    P = spark.createDataFrame([(0, wkb.encode(wkb.point(1.0, 2.0)))], "cid LONG, geom BINARY")
    B = spark.createDataFrame([], "sid LONG, geom BINARY")
    with caplog.at_level("INFO", logger="sedona_db_spark.plan"):
        res = knn_join(P, B, k=3, probe_geom="geom", build_geom="geom", broadcast_threshold=0)
    assert res.count() == 0
    assert [r.plan["route"] for r in caplog.records if r.name == "sedona_db_spark.plan"] == [
        "broadcast"]


def test_grid_knn_runs_one_bounded_pass(spark):
    """The 12k x 2k, k=5 case past the cap: a fixed number of Spark jobs,
    nothing left persisted after two calls in one session, and the
    broadcast route's rows at any probe or shuffle partitioning."""
    rng = np.random.default_rng(700)
    x, y = rng.uniform(0, 100, 12_000), rng.uniform(0, 100, 12_000)
    bx, by = rng.uniform(0, 100, 2_000), rng.uniform(0, 100, 2_000)
    P = spark.createDataFrame([(i, bytes(g)) for i, g in enumerate(wkb.encode_points_xy(x, y))],
                              "cid LONG, geom BINARY")
    B = spark.createDataFrame([(i, bytes(g)) for i, g in enumerate(wkb.encode_points_xy(bx, by))],
                              "sid LONG, geom BINARY")
    kw = dict(k=5, probe_geom="geom", build_geom="geom")
    cols = ("cid", "sid", "knn_rank", "knn_distance")
    sc = spark.sparkContext

    def persisted():  # other tests of the session may have left their own
        return set(sc._jsc.getPersistentRDDs().keySet())

    before = persisted()
    for call in range(2):
        group = f"grid-knn-jobs-{call}"
        sc.setJobGroup(group, group)
        try:
            n = knn_join(P, B, broadcast_threshold=0, **kw).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert n == 12_000 * 5
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 9
        assert persisted() == before
    want = sorted(tuple(r) for r in knn_join(P, B, **kw).select(*cols).collect())
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        for parts, shuffle in ((1, "2"), (7, "8")):
            spark.conf.set(key, shuffle)
            got = knn_join(P.repartition(parts), B, broadcast_threshold=0, **kw).select(*cols)
            assert sorted(tuple(r) for r in got.collect()) == want, (parts, shuffle)
    finally:
        spark.conf.set(key, old)
