"""Differential tests of the one-Python-pass point join paths.

Point sides are decoded once (a struct<x, y> UDF, or inside the kNN solve
pass) and point x point DWithin is refined by a JVM column expression.
Each fast path must return the same rows as its generic twin — the
per-pair WKB refiner, or a brute-force kNN — on the inputs a decode can
get wrong: NULL geometries, POINT EMPTY (NaN coordinates), big-endian and
EWKB points, NaN and boundary-exact DWithin distances, and a non-point
probe row past the planner's sample. The broadcast probe of relation
and dwithin joins is checked against a pairwise brute force under every
predicate, distance kind and join type."""

import struct

import numpy as np
import pytest

from sedona_db_spark.geometry import wkb
from sedona_db_spark.operators.knn_join import knn_join
from sedona_db_spark.operators.spatial_join import RELATION_FNS, spatial_join

EMPTY = wkb.encode(wkb.from_wkt("POINT EMPTY"))


def _be(x, y):
    return b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", x, y)


def _ewkb(x, y):
    return b"\x01" + struct.pack("<II", 0x20000001, 4326) + struct.pack("<dd", x, y)


def _odd_points(n, seed):
    """n little-endian points, then NULL, POINT EMPTY, big-endian and EWKB
    rows (the odd rows trail, past any 200-row planner sample)."""
    rng = np.random.default_rng(seed)
    x, y = rng.uniform(0, 50, n), rng.uniform(0, 50, n)
    geoms = [bytes(w) for w in wkb.encode_points_xy(x, y)]
    geoms += [None, EMPTY, _be(10.0, 10.0), _ewkb(25.0, 30.25), _be(5.0, 0.0)]
    return list(enumerate(geoms))


def _rows(df, *cols):
    return sorted((tuple(r) for r in df.select(*cols).collect()),
                  key=lambda t: tuple((v is None, v) for v in t))


@pytest.fixture(scope="module")
def points(spark):
    return spark.createDataFrame(_odd_points(300, 1), "pid LONG, geom BINARY")


@pytest.fixture(scope="module")
def triangles(spark):
    rows = []
    for i in range(5):
        ring = np.array([[10.0 * i, 0.0], [10.0 * i + 10, 0.0], [10.0 * i + 5, 50.0],
                         [10.0 * i, 0.0]])
        rows.append((i, wkb.encode(wkb.Geometry(wkb.POLYGON, [ring]))))
    return spark.createDataFrame(rows, "tid INT, geom BINARY")


@pytest.mark.parametrize("pred", ["within", "intersects", "covered_by", "touches"])
@pytest.mark.parametrize("bcast", [True, False])
def test_point_in_polygon_matches_generic_refiner(points, triangles, pred, bcast):
    kw = dict(predicate=pred, left_geom="geom", right_geom="geom", how="left",
              broadcast_right=bcast, grid_level=6)
    onepass = spatial_join(points, triangles, left_is_points=True, **kw)
    generic = spatial_join(points, triangles, left_is_points=False, **kw)
    got = _rows(onepass, "pid", "tid")
    assert got == _rows(generic, "pid", "tid")
    # the odd rows really went through: the BE point (5, 0) lies on the
    # base edge of triangle 0, the EWKB point (25, 30.25) inside triangle 2
    tids = {p: t for p, t in got}
    if pred in ("intersects", "covered_by", "touches"):
        assert tids[304] == 0
    if pred != "touches":
        assert tids[303] == 2


def test_point_dwithin_matches_generic_refiner(spark, points):
    rng = np.random.default_rng(2)
    bx, by = rng.uniform(0, 50, 200), rng.uniform(0, 50, 200)
    rgeoms = [bytes(w) for w in wkb.encode_points_xy(bx, by)]
    dist = list(rng.uniform(0.5, 4.0, 200))
    dist[3] = float("nan")
    # trailing odd build rows; (13, 14) is exactly 5 from the BE probe (10, 10)
    rgeoms += [_be(13.0, 14.0), _ewkb(25.5, 30.25), None, EMPTY]
    dist += [5.0, 1.0, 1.0, 1.0]
    build = spark.createDataFrame(
        [(i, g, float(d)) for i, (g, d) in enumerate(zip(rgeoms, dist))],
        "bid LONG, geom BINARY, d DOUBLE")
    kw = dict(predicate="dwithin", left_geom="geom", right_geom="geom",
              distance=build["d"], grid_level=6, broadcast_right=True)
    onepass = spatial_join(points, build, left_is_points=True, **kw)
    generic = spatial_join(points, build, left_is_points=False, **kw)
    got = _rows(onepass, "pid", "bid")
    assert got == _rows(generic, "pid", "bid")
    assert (302, 200) in got and (303, 201) in got
    assert not any(b == 3 for _, b in got)  # NaN distance matches nothing


def test_point_dwithin_boundary_is_sqrt_of_squares(spark):
    """The column refine keeps the oracle's IEEE ops: sqrt(dx*dx + dy*dy)
    <= d, inclusive at the exact computed distance, NaN never matching."""
    rng = np.random.default_rng(3)
    lx, ly = rng.uniform(0, 10, 40), rng.uniform(0, 10, 40)
    bx, by = rng.uniform(0, 10, 40), rng.uniform(0, 10, 40)
    dx, dy = lx - bx, ly - by
    d = np.sqrt(dx * dx + dy * dy)  # each build row exactly at its pair distance
    d[::7] = np.nan
    left = spark.createDataFrame(
        [(i, bytes(w)) for i, w in enumerate(wkb.encode_points_xy(lx, ly))],
        "pid LONG, geom BINARY")
    right = spark.createDataFrame(
        [(i, bytes(w), float(v)) for i, (w, v) in
         enumerate(zip(wkb.encode_points_xy(bx, by), d))],
        "bid LONG, geom BINARY, d DOUBLE")
    got = spatial_join(left, right, predicate="dwithin", distance=right["d"],
                       left_geom="geom", right_geom="geom", grid_level=4)
    pairs = {(r["pid"], r["bid"]) for r in got.collect()}
    want = set()
    for i in range(40):
        ddx, ddy = lx[i] - bx, ly[i] - by
        ok = np.sqrt(ddx * ddx + ddy * ddy) <= d  # NaN compares False
        want |= {(i, int(j)) for j in np.nonzero(ok)[0]}
    assert pairs == want
    assert {(i, i) for i in range(40) if i % 7} <= pairs


def _brute_knn(probe_xy, bx, by, k):
    out = []
    for pid, (x, y) in probe_xy.items():
        dx, dy = x - bx, y - by
        d2 = dx * dx + dy * dy
        order = np.lexsort((np.arange(len(bx)), d2))[:k]
        out += [(pid, int(j), rk + 1) for rk, j in enumerate(order)]
    return sorted(out)


@pytest.mark.parametrize("bt", [200_000, 0])  # broadcast solve, grid path
def test_knn_one_pass_probe_matches_full_scan(spark, points, bt):
    rng = np.random.default_rng(4)
    bx, by = rng.uniform(0, 50, 200), rng.uniform(0, 50, 200)
    build = spark.createDataFrame(
        [(int(i), bytes(w)) for i, w in enumerate(wkb.encode_points_xy(bx, by))],
        "bid LONG, geom BINARY")
    res = knn_join(points, build, k=3, probe_geom="geom", build_geom="geom",
                   build_id="bid", broadcast_threshold=bt, grid_level=5)
    got = _rows(res, "pid", "bid", "knn_rank")
    probe_xy = {}
    for pid, g in _odd_points(300, 1):
        x, y, ok = wkb.decode_points_xy([g])
        if ok[0] and not np.isnan(x[0]):  # NULL / POINT EMPTY match nothing
            probe_xy[pid] = (x[0], y[0])
    assert 301 not in probe_xy and {302, 303, 304} <= set(probe_xy)
    assert got == _brute_knn(probe_xy, bx, by, 3)


@pytest.mark.parametrize("bt", [200_000, 0])
def test_knn_nonpoint_probe_past_sample_raises(spark, bt):
    rng = np.random.default_rng(6)
    x, y = rng.uniform(0, 50, 1500), rng.uniform(0, 50, 1500)
    geoms = [bytes(w) for w in wkb.encode_points_xy(x, y)]
    geoms[1400] = wkb.encode(wkb.box(1.0, 1.0, 2.0, 2.0))
    probe = spark.createDataFrame(list(enumerate(geoms)), "pid LONG, geom BINARY")
    head = [r[0] for r in probe.select("geom").limit(1000).collect()]
    assert all(len(g) == 21 for g in head)  # the polygon is past the sample
    build = spark.createDataFrame(
        [(int(i), bytes(w)) for i, w in enumerate(wkb.encode_points_xy(x[:50], y[:50]))],
        "bid LONG, geom BINARY")
    with pytest.raises(Exception, match="probe side must be point geometries"):
        knn_join(probe, build, k=2, probe_geom="geom", build_geom="geom",
                 broadcast_threshold=bt, grid_level=5).collect()


def _be_empty():
    return _be(float("nan"), float("nan"))


def _ewkb_empty():
    return _ewkb(float("nan"), float("nan"))


@pytest.mark.parametrize("bt", [200_000, 0])  # broadcast solve, grid strict decode
def test_knn_probe_point_empty_any_encoding_matches_le_twin(spark, bt):
    """A POINT EMPTY probe row is a point in every encoding: big-endian and
    EWKB EMPTY probes match nothing, exactly like the little-endian one,
    instead of failing the strict probe decode."""
    rng = np.random.default_rng(7)
    x, y = rng.uniform(0, 50, 40), rng.uniform(0, 50, 40)
    pts = [bytes(w) for w in wkb.encode_points_xy(x, y)]
    build = spark.createDataFrame(
        [(int(i), bytes(w)) for i, w in enumerate(wkb.encode_points_xy(y, x))],
        "bid LONG, geom BINARY")
    kw = dict(k=3, probe_geom="geom", build_geom="geom", build_id="bid",
              broadcast_threshold=bt, grid_level=5)
    twin = spark.createDataFrame(list(enumerate(pts + [EMPTY, EMPTY])), "pid LONG, geom BINARY")
    odd = spark.createDataFrame(list(enumerate(pts + [_be_empty(), _ewkb_empty()])),
                                "pid LONG, geom BINARY")
    want = _rows(knn_join(twin, build, **kw), "pid", "bid", "knn_rank")
    assert len(want) == 40 * 3
    assert _rows(knn_join(odd, build, **kw), "pid", "bid", "knn_rank") == want


@pytest.mark.parametrize("bcast", [True, False])
def test_spatial_join_point_empty_any_encoding_matches_le_twin(spark, triangles, bcast):
    """The strict planar point decode of the left side passes BE/EWKB
    POINT EMPTY rows like the LE one (they match nothing; a left join
    keeps them unmatched)."""
    base = [bytes(w) for w in wkb.encode_points_xy(np.array([12.0, 31.0]), np.array([5.0, 9.0]))]
    kw = dict(predicate="within", left_geom="geom", right_geom="geom", how="left",
              broadcast_right=bcast, grid_level=6)
    twin = spark.createDataFrame(list(enumerate(base + [EMPTY, EMPTY])), "pid LONG, geom BINARY")
    odd = spark.createDataFrame(list(enumerate(base + [_be_empty(), _ewkb_empty()])),
                                "pid LONG, geom BINARY")
    want = _rows(spatial_join(twin, triangles, **kw), "pid", "tid")
    assert want == [(0, 1), (1, 3), (2, None), (3, None)]
    assert _rows(spatial_join(odd, triangles, **kw), "pid", "tid") == want
    assert _rows(spatial_join(odd, triangles, left_is_points=True, **kw), "pid", "tid") == want


def test_geography_dwithin_point_empty_any_encoding_matches_le_twin(spark):
    from sedona_db_spark.operators.spatial_join import geography_dwithin_join

    base = [bytes(w) for w in wkb.encode_points_xy(np.array([10.0, 10.001]),
                                                   np.array([45.0, 45.0]))]
    right = spark.createDataFrame([(7, base[1])], "rid LONG, geom BINARY")
    kw = dict(distance_m=500.0, left_geom="geom", right_geom="geom")
    twin = spark.createDataFrame(list(enumerate(base[:1] + [EMPTY, EMPTY])), "pid LONG, geom BINARY")
    odd = spark.createDataFrame(list(enumerate(base[:1] + [_be_empty(), _ewkb_empty()])),
                                "pid LONG, geom BINARY")
    for strategy in ("broadcast", "banded"):
        want = _rows(geography_dwithin_join(twin, right, strategy=strategy, **kw), "pid", "rid")
        assert want == [(0, 7)]
        got = _rows(geography_dwithin_join(odd, right, strategy=strategy, **kw), "pid", "rid")
        assert got == want


def test_knn_build_point_empty_matches_nothing(spark):
    """A POINT EMPTY build row is never a neighbour, so with k above the
    non-empty build count the broadcast solve returns the non-empty rows
    (a NaN key at the k-th position used to empty the probe's result)."""
    probe = spark.createDataFrame([(0, wkb.encode(wkb.point(0.0, 0.0)))], "pid LONG, geom BINARY")
    build = spark.createDataFrame(
        [(0, wkb.encode(wkb.point(1.0, 0.0))), (1, EMPTY), (2, wkb.encode(wkb.point(0.0, 2.0)))],
        "bid LONG, geom BINARY")
    got = _rows(knn_join(probe, build, k=3, probe_geom="geom", build_geom="geom",
                         build_id="bid"), "pid", "bid", "knn_rank")
    assert got == [(0, 0, 1), (0, 2, 2)]


# --- the broadcast probe: every relation join with a broadcast right side ---

_HOWS = ("inner", "left", "right", "full", "left_semi", "left_anti")
_PREDS = sorted(RELATION_FNS)


def _probe_left_rows():
    """LE points, then NULL, POINT EMPTY in three encodings, BE and EWKB
    points, points on polygon edges and vertices and on grid-cell corners
    of levels 2-6 (the probe picks level 2 here), a LINESTRING and a large
    POLYGON at the tail."""
    rng = np.random.default_rng(9)
    x, y = rng.uniform(-5, 55, 60), rng.uniform(-5, 55, 60)
    geoms = [bytes(w) for w in wkb.encode_points_xy(x, y)]
    geoms += [None, EMPTY, _be_empty(), _ewkb_empty(), _be(12.0, 5.0), _ewkb(33.0, 7.5)]
    special = [(5.0, 0.0), (2.5, 25.0), (40.0, 15.0), (25.0, 25.0),  # edges
               (10.0, 0.0), (15.0, 50.0), (50.0, 20.0), (20.0, 20.0),  # vertices
               (0.0, 0.0), (0.0, 45.0), (45.0, 22.5), (22.5, 11.25), (11.25, 5.625),
               (5.625, 2.8125)]  # cell corners
    geoms += [bytes(w) for w in wkb.encode_points_xy(*np.array(special).T)]
    geoms += [wkb.encode(wkb.from_wkt(t)) for t in (
        "LINESTRING (1 1, 30 30)", "POLYGON ((-1 -1, 60 -1, 60 60, -1 60, -1 -1))")]
    return list(enumerate(geoms))


def _probe_right_rows():
    """Non-rect triangles, rects, a point, a line, a NULL geometry and two
    identical rows."""
    rows = []
    for i in range(4):
        ring = np.array([[10.0 * i, 0.0], [10.0 * i + 10, 0.0], [10.0 * i + 5, 50.0],
                         [10.0 * i, 0.0]])
        rows.append((i, wkb.encode(wkb.Geometry(wkb.POLYGON, [ring]))))
    rows += [(4, wkb.encode(wkb.box(40.0, 10.0, 50.0, 20.0))),
             (5, wkb.encode(wkb.box(0.0, 30.0, 8.0, 38.0))),
             (6, wkb.encode(wkb.point(12.0, 5.0))),
             (7, wkb.encode(wkb.from_wkt("LINESTRING (0 0, 50 50)"))),
             (8, None)]
    rows += [(9, wkb.encode(wkb.box(20.0, 20.0, 30.0, 25.0)))] * 2
    return rows


def _bruteforce(lrows, rrows, how):
    """Every (predicate, pid, tid) row the join must return, from a
    pairwise brute force over ``RELATION_FNS`` (NULL and empty rows match
    nothing)."""
    def live(b):
        return None if b is None or wkb.parse(b).is_empty else wkb.parse(b)

    L = [(p, live(b)) for p, b in lrows]
    R = [(t, live(b)) for t, b in rrows]
    out = []
    for pred in _PREDS:
        pairs = [(li, ri) for li, (_, a) in enumerate(L) for ri, (_, b) in enumerate(R)
                 if a is not None and b is not None and RELATION_FNS[pred](a, b)]
        hit_l, hit_r = {li for li, _ in pairs}, {ri for _, ri in pairs}
        inner = [(L[li][0], R[ri][0]) for li, ri in pairs]
        l_miss = [(p, None) for li, (p, _) in enumerate(L) if li not in hit_l]
        r_miss = [(None, t) for ri, (t, _) in enumerate(R) if ri not in hit_r]
        rows = {"inner": inner, "left": inner + l_miss, "right": inner + r_miss,
                "full": inner + l_miss + r_miss, "left_anti": l_miss,
                "left_semi": [(p, None) for li, (p, _) in enumerate(L) if li in hit_l]}[how]
        out += [(pred, p, t) for p, t in rows]
    return sorted(out, key=lambda r: tuple((v is None, v) for v in r))


def _every_predicate(left, right, how, bcast):
    """(predicate, pid, tid) rows of the join under every relation
    predicate, in one action."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = []
    for pred in _PREDS:
        j = spatial_join(left, right, predicate=pred, left_geom="geom", right_geom="geom",
                         how=how, broadcast_right=bcast)
        tid = F.col("tid") if "tid" in j.columns else F.lit(None).cast("int")
        parts.append(j.select(F.lit(pred).alias("pred"), "pid", tid.alias("tid")))
    return _rows(reduce(lambda a, b: a.union(b), parts), "pred", "pid", "tid")


@pytest.fixture(scope="module")
def probe_sides(spark):
    """The probe test sides, read in Arrow batches of 16 rows so the
    non-point tail lands past the first batch of its partition."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    lrows, rrows = _probe_left_rows(), _probe_right_rows()
    yield (lrows, rrows, spark.createDataFrame(lrows, "pid LONG, geom BINARY"),
           spark.createDataFrame(rrows, "tid INT, geom BINARY"))
    spark.conf.set(key, old)


@pytest.mark.parametrize("how", _HOWS)
def test_broadcast_probe_matches_bruteforce(probe_sides, how):
    lrows, rrows, left, right = probe_sides
    assert _every_predicate(left, right, how, True) == _bruteforce(lrows, rrows, how)


def test_cell_join_matches_bruteforce_on_probe_inputs(probe_sides):
    """The cell join (``broadcast_right=False``) on the same inputs. A full
    join's rows hold the inner, left and right joins' rows."""
    lrows, rrows, left, right = probe_sides
    assert _every_predicate(left, right, "full", False) == _bruteforce(lrows, rrows, "full")


# --- the broadcast probe for dwithin: literal and column distances ----------

def _dwithin_left_rows():
    """LE points, NULL, POINT EMPTY in three encodings, BE and EWKB points,
    points at exactly the distance (3-4-5 triangles), XY and XYM 2-vertex
    segments, a LINESTRING and a POLYGON at the tail."""
    rng = np.random.default_rng(10)
    x, y = rng.uniform(0, 40, 30), rng.uniform(0, 40, 30)
    geoms = [bytes(w) for w in wkb.encode_points_xy(x, y)]
    geoms += [None, EMPTY, _be_empty(), _ewkb_empty(), _be(13.0, 14.0), _ewkb(10.0, 15.0)]
    geoms += [bytes(w) for w in wkb.encode_points_xy(np.array([5.0, 10.0, 30.0, 20.0]),
                                                     np.array([10.0, 10.0, 34.0, 20.0]))]
    geoms += [wkb.encode(wkb.from_wkt(t)) for t in (
        "LINESTRING (0 0, 4 3)", "LINESTRING M (20 24 1, 24 27 5)", "LINESTRING (1 30, 8 30, 8 39)",
        "POLYGON ((30 0, 40 0, 40 8, 30 8, 30 0))")]
    return list(enumerate(geoms))


def _dwithin_right_rows():
    """(tid, geom, d): points (one exactly 5 from left points), a segment,
    a polygon, a NULL geometry, two identical rows; distances 5, 2, NULL,
    NaN and 0."""
    pt = lambda x, y: bytes(wkb.encode_points_xy(np.array([x]), np.array([y]))[0])  # noqa: E731
    nan = float("nan")
    return [(0, pt(10.0, 10.0), 5.0), (1, pt(30.0, 30.0), 4.0), (2, pt(20.0, 20.0), 0.0),
            (3, pt(25.0, 5.0), None), (4, pt(5.0, 25.0), nan),
            (5, wkb.encode(wkb.from_wkt("LINESTRING (12 30, 18 36)")), 2.0),
            (6, wkb.encode(wkb.from_wkt("POLYGON ((22 8, 28 8, 25 14, 22 8))")), 3.0),
            (7, None, 5.0), (8, pt(35.0, 20.0), 2.5), (8, pt(35.0, 20.0), 2.5)]


def _dwithin_bruteforce(lrows, rrows, how):
    """Every (distance kind, pid, tid) row: the literal distance 5 and the
    column ``d``, from ``algos.dwithin`` over every pair (NULL, EMPTY and a
    NULL or NaN distance match nothing)."""
    from sedona_db_spark.geometry import algos

    def live(b):
        return None if b is None or wkb.parse(b).is_empty else wkb.parse(b)

    L = [(p, live(b)) for p, b in lrows]
    R = [(t, live(b), d) for t, b, d in rrows]
    out = []
    for kind in ("col", "lit"):
        pairs = [(li, ri) for li, (_, a) in enumerate(L) for ri, (_, b, d) in enumerate(R)
                 for dd in [5.0 if kind == "lit" else d]
                 if a is not None and b is not None and dd is not None and dd == dd
                 and algos.dwithin(a, b, dd)]
        hit_l, hit_r = {li for li, _ in pairs}, {ri for _, ri in pairs}
        inner = [(L[li][0], R[ri][0]) for li, ri in pairs]
        l_miss = [(p, None) for li, (p, _) in enumerate(L) if li not in hit_l]
        r_miss = [(None, t) for ri, (t, _, _) in enumerate(R) if ri not in hit_r]
        rows = {"inner": inner, "left": inner + l_miss, "right": inner + r_miss,
                "full": inner + l_miss + r_miss, "left_anti": l_miss,
                "left_semi": [(p, None) for li, (p, _) in enumerate(L) if li in hit_l]}[how]
        out += [(kind, p, t) for p, t in rows]
    return sorted(out, key=lambda r: tuple((v is None, v) for v in r))


def _both_distances(left, right, how, bcast):
    from pyspark.sql import functions as F

    parts = []
    for kind, dist in (("col", right["d"]), ("lit", 5.0)):
        j = spatial_join(left, right, predicate="dwithin", distance=dist, left_geom="geom",
                         right_geom="geom", how=how, broadcast_right=bcast)
        tid = F.col("tid") if "tid" in j.columns else F.lit(None).cast("int")
        parts.append(j.select(F.lit(kind).alias("kind"), "pid", tid.alias("tid")))
    return _rows(parts[0].union(parts[1]), "kind", "pid", "tid")


@pytest.fixture(scope="module")
def dwithin_sides(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    lrows, rrows = _dwithin_left_rows(), _dwithin_right_rows()
    yield (lrows, rrows, spark.createDataFrame(lrows, "pid LONG, geom BINARY"),
           spark.createDataFrame(rrows, "tid INT, geom BINARY, d DOUBLE"))
    spark.conf.set(key, old)


@pytest.mark.parametrize("how", _HOWS)
def test_broadcast_probe_dwithin_matches_bruteforce(dwithin_sides, how):
    lrows, rrows, left, right = dwithin_sides
    want = _dwithin_bruteforce(lrows, rrows, how)
    assert _both_distances(left, right, how, True) == want
    if how == "full":  # the cell join on the same inputs
        assert _both_distances(left, right, how, False) == want
    if how == "inner":  # the exact-distance and odd-encoding rows really matched
        assert {("col", 36, 0), ("col", 37, 0), ("col", 34, 0), ("col", 38, 1),
                ("col", 39, 2), ("lit", 35, 0)} <= set(want)


def test_map_columns_join_on_every_route(spark):
    """A MAP column on each side (Spark refuses to hash a map): the content
    ids of the broadcast probe and the cell join under every join type, of
    the geography dwithin join and of the grid kNN hash it by its sorted
    entries, and every map comes back with its row."""
    from pyspark.sql import functions as F

    from sedona_db_spark.operators.spatial_join import geography_dwithin_join

    lrows, rrows = _probe_left_rows(), _probe_right_rows()
    left = spark.createDataFrame(lrows, "pid LONG, geom BINARY").withColumn(
        "lm", F.create_map(F.lit("p"), F.col("pid")))
    right = spark.createDataFrame(rrows, "tid INT, geom BINARY").withColumn(
        "rm", F.create_map(F.col("tid").cast("string"), F.lit(1.5)))

    def checked(j):
        """(pid, tid) rows of ``j``, after checking each row's maps."""
        out = []
        for r in j.collect():
            d = r.asDict()
            pid, tid = d.get("pid"), d.get("tid")
            assert d.get("lm") == (None if pid is None else {"p": pid})
            assert d.get("rm") == (None if tid is None else {str(tid): 1.5})
            out.append((pid, tid))
        return sorted(out, key=lambda t: tuple((v is None, v) for v in t))

    for how in _HOWS:
        want = [r[1:] for r in _bruteforce(lrows, rrows, how) if r[0] == "intersects"]
        for bcast in (True, False):
            j = spatial_join(left, right, predicate="intersects", left_geom="geom",
                             right_geom="geom", how=how, broadcast_right=bcast)
            assert checked(j) == want, (how, bcast)

    pt = lambda x, y: wkb.encode(wkb.point(x, y))  # noqa: E731
    gl = spark.createDataFrame([(0, pt(10.0, 45.0)), (1, pt(50.0, 50.0))],
                               "pid LONG, geom BINARY").withColumn(
        "lm", F.create_map(F.lit("p"), F.col("pid")))
    gr = spark.createDataFrame([(7, pt(10.001, 45.0)), (8, pt(-100.0, 0.0))],
                               "tid INT, geom BINARY").withColumn(
        "rm", F.create_map(F.col("tid").cast("string"), F.lit(1.5)))
    for strategy in ("broadcast", "banded"):
        j = geography_dwithin_join(gl, gr, distance_m=500.0, left_geom="geom",
                                   right_geom="geom", strategy=strategy, how="full")
        assert checked(j) == [(0, 7), (1, None), (None, 8)], strategy

    probe = spark.createDataFrame(_odd_points(40, 3), "pid LONG, geom BINARY").withColumn(
        "lm", F.create_map(F.lit("p"), F.col("pid")))
    build = right.where("tid < 8")
    got = [_rows(knn_join(probe, build, k=2, probe_geom="geom", build_geom="geom",
                          build_id="tid", broadcast_threshold=bt), "pid", "tid", "knn_rank", "lm")
           for bt in (0, 200_000)]
    assert got[0] == got[1] and len(got[0]) == 43 * 2


def test_broadcast_probe_scans_an_oversized_envelope(spark):
    """One 100 x 100 box among 300 boxes of 0.01: the level fits the small
    boxes, so the big one would cover over a hundred million cells; it is
    scanned by every probe row instead of listed, and the join still
    returns the brute force's rows."""
    from sedona_db_spark.operators.spatial_join import _ProbeIndex

    rng = np.random.default_rng(12)
    x0, y0 = rng.uniform(-50, 50, 300), rng.uniform(-50, 50, 300)
    boxes = [(i, wkb.encode(wkb.box(a, b, a + 0.01, b + 0.01))) for i, (a, b) in
             enumerate(zip(x0, y0))] + [(300, wkb.encode(wkb.box(-60.0, -60.0, 40.0, 40.0)))]
    ix = _ProbeIndex([g for _, g in boxes], np.arange(301), None)
    assert ix.big.tolist() == [300] and len(ix.keys) < 10 * 300
    px = np.concatenate([x0[:50] + 0.005, rng.uniform(-70, 70, 150)])
    py = np.concatenate([y0[:50] + 0.005, rng.uniform(-70, 70, 150)])
    left = spark.createDataFrame(
        [(i, bytes(g)) for i, g in enumerate(wkb.encode_points_xy(px, py))],
        "pid LONG, geom BINARY")
    right = spark.createDataFrame(boxes, "tid INT, geom BINARY")
    got = _rows(spatial_join(left, right, predicate="intersects", left_geom="geom",
                             right_geom="geom", broadcast_right=True), "pid", "tid")
    env = np.array([[a, b, a + 0.01, b + 0.01] for a, b in zip(x0, y0)] + [[-60, -60, 40, 40]])
    want = sorted((int(i), int(j)) for i in range(len(px)) for j in range(301)
                  if env[j, 0] <= px[i] <= env[j, 2] and env[j, 1] <= py[i] <= env[j, 3])
    assert got == want and sum(t == 300 for _, t in want) > 50


def test_broadcast_probe_grid_fits_projected_build(spark):
    """1000 boxes of 500 m in projected metres against 20k points: the
    probe index's grid spans the build envelopes, not the lon/lat world,
    so the boxes spread over many cells instead of clamping into one, and
    the join returns the brute force's rows."""
    from sedona_db_spark.operators.spatial_join import _ProbeIndex

    rng = np.random.default_rng(21)
    x0, y0 = rng.uniform(4.0e5, 6.0e5, 1000), rng.uniform(4.5e6, 4.7e6, 1000)
    boxes = [(i, wkb.encode(wkb.box(a, b, a + 500.0, b + 500.0))) for i, (a, b) in
             enumerate(zip(x0, y0))]
    ix = _ProbeIndex([g for _, g in boxes], np.arange(1000), None)
    assert len(np.unique(ix.keys)) > 500
    px, py = rng.uniform(3.9e5, 6.1e5, 20_000), rng.uniform(4.49e6, 4.71e6, 20_000)
    left = spark.createDataFrame(
        [(i, bytes(g)) for i, g in enumerate(wkb.encode_points_xy(px, py))],
        "pid LONG, geom BINARY")
    right = spark.createDataFrame(boxes, "tid INT, geom BINARY")
    got = _rows(spatial_join(left, right, predicate="intersects", left_geom="geom",
                             right_geom="geom", broadcast_right=True), "pid", "tid")
    i, j = np.nonzero((x0 <= px[:, None]) & (px[:, None] <= x0 + 500.0)
                      & (y0 <= py[:, None]) & (py[:, None] <= y0 + 500.0))
    want = sorted(zip(i.tolist(), j.tolist()))
    assert got == want and len(want) > 100
