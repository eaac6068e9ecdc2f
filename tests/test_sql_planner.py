"""SQL-surface spatial join planning (round-2 VERDICT "What's missing" #1).

`con.sql("... JOIN ... ON ST_Intersects(a.g, b.g)")` must produce the
two-phase spatial-join plan (no CartesianProduct / BroadcastNestedLoopJoin),
and its rows must equal the explicit spatial_join() API result.
"""

import numpy as np
import pytest

from pyspark.sql import functions as F

import sedona_db_spark as sd
from sedona_db_spark.geometry import wkb
from sedona_db_spark.operators.spatial_join import spatial_join


@pytest.fixture(scope="module")
def con(spark):
    return sd.connect(spark)


@pytest.fixture(scope="module")
def tables(spark):
    rng = np.random.default_rng(11)
    x = rng.uniform(-179, 179, 400)
    y = rng.uniform(-89, 89, 400)
    pts = spark.createDataFrame(
        [
            (int(i), float(a), float(b), bytes(w))
            for i, (a, b, w) in enumerate(zip(x, y, wkb.encode_points_xy(x, y)))
        ],
        "pid LONG, lon DOUBLE, lat DOUBLE, geom BINARY",
    )
    boxes = []
    for i in range(25):
        x0 = -180.0 + (i % 5) * 72.0
        y0 = -90.0 + (i // 5) * 36.0
        boxes.append((i, f"box{i}", wkb.encode(wkb.box(x0, y0, x0 + 72.0, y0 + 36.0))))
    admin = spark.createDataFrame(boxes, "bid INT, bname STRING, geometry BINARY")
    pts.createOrReplaceTempView("pts_t")
    admin.createOrReplaceTempView("admin_t")
    return pts, admin


def _expected_pairs(pts, admin):
    j = spatial_join(
        pts, admin, predicate="within", left_geom="geom", right_geom="geometry"
    )
    return {(r["pid"], r["bid"]) for r in j.select("pid", "bid").collect()}


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_join_on_intersects_rows_and_plan(con, tables):
    pts, admin = tables
    df = con.sql(
        "SELECT p.pid AS pid, a.bid AS bid "
        "FROM pts_t p JOIN admin_t a ON ST_Within(p.geom, a.geometry)"
    )
    got = {(r["pid"], r["bid"]) for r in df.collect()}
    assert got == _expected_pairs(pts, admin)
    plan = _plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_join_argument_order_inverts_predicate(con, tables):
    pts, admin = tables
    # ST_Contains(a.geometry, p.geom) == ST_Within(p.geom, a.geometry)
    df = con.sql(
        "SELECT p.pid AS pid, a.bid AS bid "
        "FROM pts_t p JOIN admin_t a ON ST_Contains(a.geometry, p.geom)"
    )
    got = {(r["pid"], r["bid"]) for r in df.collect()}
    assert got == _expected_pairs(pts, admin)


def test_comma_join_where_form(con, tables):
    pts, admin = tables
    df = con.sql(
        "SELECT pid, bid FROM pts_t p, admin_t a "
        "WHERE ST_Within(p.geom, a.geometry) AND p.pid < 100"
    )
    got = {(r["pid"], r["bid"]) for r in df.collect()}
    want = {(p, b) for p, b in _expected_pairs(pts, admin) if p < 100}
    assert got == want


def test_residual_conjunct_and_aggregation(con, tables):
    pts, admin = tables
    df = con.sql(
        "SELECT a.bid AS bid, count(*) AS cnt "
        "FROM pts_t p JOIN admin_t a "
        "ON ST_Within(p.geom, a.geometry) AND p.pid % 2 = 0 "
        "GROUP BY a.bid ORDER BY bid"
    )
    got = {(r["bid"], r["cnt"]) for r in df.collect()}
    pairs = [(p, b) for p, b in _expected_pairs(pts, admin) if p % 2 == 0]
    want = {}
    for _, b in pairs:
        want[b] = want.get(b, 0) + 1
    assert got == set(want.items())


def test_dwithin_literal_distance(con, tables, spark):
    pts, admin = tables
    df = con.sql(
        "SELECT p.pid AS pid, q.pid AS qid FROM pts_t p JOIN pts_t q "
        "ON ST_DWithin(p.geom, q.geom, 3.0)"
    )
    got = {(r["pid"], r["qid"]) for r in df.collect()}
    j = spatial_join(
        pts.select(F.col("pid"), F.col("geom")),
        pts.select(F.col("pid").alias("qid"), F.col("geom")),
        predicate="dwithin", distance=3.0,
        left_geom="geom", right_geom="geom",
    )
    want = {(r["pid"], r["qid"]) for r in j.select("pid", "qid").collect()}
    assert got == want


def test_distance_lt_rewrites_to_dwithin(con, tables):
    df1 = con.sql(
        "SELECT p.pid AS pid, q.pid AS qid FROM pts_t p JOIN pts_t q "
        "ON ST_Distance(p.geom, q.geom) < 3.0"
    )
    df2 = con.sql(
        "SELECT p.pid AS pid, q.pid AS qid FROM pts_t p JOIN pts_t q "
        "ON ST_DWithin(p.geom, q.geom, 3.0)"
    )
    assert {tuple(r) for r in df1.collect()} == {tuple(r) for r in df2.collect()}


def test_knn_in_sql(con, tables):
    pts, admin = tables
    df = con.sql(
        "SELECT p.pid AS pid, a.bid AS bid, knn_rank "
        "FROM pts_t p JOIN admin_t a ON ST_KNN(p.geom, a.geometry, 2)"
    )
    rows = df.collect()
    assert len(rows) == 400 * 2
    from sedona_db_spark.operators.knn_join import knn_join

    j = knn_join(pts, admin, k=2, probe_geom="geom", build_geom="geometry")
    want = {(r["pid"], r["bid"], r["knn_rank"]) for r in
            j.select("pid", "bid", "knn_rank").collect()}
    assert {(r["pid"], r["bid"], r["knn_rank"]) for r in rows} == want


def test_select_star_expansion(con, tables):
    df = con.sql(
        "SELECT a.* FROM pts_t p JOIN admin_t a "
        "ON ST_Within(p.geom, a.geometry) WHERE p.pid = 0"
    )
    assert df.columns == ["bid", "bname", "geometry"]
    assert df.count() >= 1


def test_left_join_unmatched_preserved(con, spark, tables):
    # a far-away point matches nothing; LEFT JOIN must keep it with NULL bid
    pts, admin = tables
    far = spark.createDataFrame(
        [(999, bytes(wkb.encode_points_xy(np.array([500.0]), np.array([500.0]))[0]))],
        "pid LONG, geom BINARY",
    )
    pts.select("pid", "geom").unionByName(far).createOrReplaceTempView("pts_far_t")
    df = con.sql(
        "SELECT p.pid AS pid, a.bid AS bid FROM pts_far_t p "
        "LEFT JOIN admin_t a ON ST_Within(p.geom, a.geometry)"
    )
    rows = {(r["pid"], r["bid"]) for r in df.collect()}
    assert (999, None) in rows
    assert len([r for r in rows if r[0] != 999]) == len(_expected_pairs(pts, admin))


def test_unsupported_shape_warns_and_falls_back(con, tables):
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        # NOT-ed predicate: planner can't index it; falls back with guidance
        df = con.sql(
            "SELECT count(*) AS cnt FROM pts_t p JOIN admin_t a "
            "ON NOT ST_Within(p.geom, a.geometry)"
        )
        assert any("cartesian" in str(x.message).lower() for x in w)
    assert df.collect()[0]["cnt"] == 400 * 25 - len(_expected_pairs(*tables))


def test_non_spatial_sql_passthrough(con, tables):
    df = con.sql("SELECT count(*) AS n FROM pts_t")
    assert df.collect()[0]["n"] == 400


def test_geography_views_dispatch_great_circle(con, spark):
    """A view whose geometry column carries edges=spherical metadata must
    route SQL ST_DWithin through the GEOGRAPHY join (great-circle meters),
    not the planar one — and mixing edges must raise."""
    from sedona_db_spark.operators.spatial_join import geography_dwithin_join
    from sedona_db_spark.types import with_geom_meta

    rng = np.random.default_rng(23)
    def mk(n, seed_off):
        r = np.random.default_rng(23 + seed_off)
        x, y = r.uniform(-179, 179, n), r.uniform(-80, 80, n)
        df = spark.createDataFrame(
            [(int(i), bytes(w)) for i, w in enumerate(wkb.encode_points_xy(x, y))],
            "id LONG, geom BINARY",
        )
        return with_geom_meta(df, "geom", crs="EPSG:4326", edges="spherical")

    A, B = mk(150, 0), mk(60, 1)
    A.createOrReplaceTempView("geogA")
    B.createOrReplaceTempView("geogB")
    got = con.sql(
        "SELECT a.id AS ia, b.id AS ib FROM geogA a JOIN geogB b "
        "ON ST_DWithin(a.geom, b.geom, 500000.0)"
    )
    want = geography_dwithin_join(
        A.select(F.col("id").alias("ia"), "geom"),
        B.select(F.col("id").alias("ib"), "geom"),
        distance_m=500000.0, left_geom="geom", right_geom="geom",
    ).select("ia", "ib")
    g = {(r["ia"], r["ib"]) for r in got.collect()}
    w = {(r["ia"], r["ib"]) for r in want.collect()}
    assert g == w and len(g) > 0

    # spatial_join() on spherical-tagged frames auto-routes to the same
    # geography join (DSL parity with the SQL dispatch)
    routed = spatial_join(
        A.select(F.col("id").alias("ia"), "geom"),
        B.select(F.col("id").alias("ib"), "geom"),
        predicate="dwithin", left_geom="geom", right_geom="geom",
        distance=500000.0,
    )
    assert {(r["ia"], r["ib"]) for r in routed.select("ia", "ib").collect()} == g

    # planar math on the SAME coordinates (metadata stripped) differs:
    # 500000 "planar units" is not 500 km
    A0 = spark.createDataFrame(A.select(F.col("id").alias("ia"), "geom").collect(),
                               "ia LONG, geom BINARY")
    B0 = spark.createDataFrame(B.select(F.col("id").alias("ib"), "geom").collect(),
                               "ib LONG, geom BINARY")
    planar = spatial_join(A0, B0, predicate="dwithin", left_geom="geom",
                          right_geom="geom", distance=500000.0)
    assert {(r["ia"], r["ib"]) for r in planar.select("ia", "ib").collect()} != g

    # mixed edges semantics must raise, not silently pick one
    P = spark.createDataFrame(
        [(0, bytes(wkb.encode_points_xy(np.array([1.0]), np.array([2.0]))[0]))],
        "id LONG, geom BINARY",
    )
    P.createOrReplaceTempView("planarP")
    with pytest.raises(Exception, match="edges"):
        con.sql(
            "SELECT * FROM geogA a JOIN planarP p ON ST_Intersects(a.geom, p.geom)"
        )


def test_knn_outer_join_falls_back(con, tables, spark):
    """LEFT/RIGHT JOIN ON ST_KNN must not silently run with inner
    semantics (probe rows with null geometry would vanish) — the planner
    declines and the generic fallback handles it (ADVICE r3)."""
    from sedona_db_spark.plans.sql_planner import plan_spatial_sql

    inner = plan_spatial_sql(
        spark,
        "SELECT p.pid AS pid, a.bid AS bid FROM pts_t p "
        "JOIN admin_t a ON ST_KNN(p.geom, a.geometry, 2)",
    )
    assert inner is not None
    outer = plan_spatial_sql(
        spark,
        "SELECT p.pid AS pid, a.bid AS bid FROM pts_t p "
        "LEFT JOIN admin_t a ON ST_KNN(p.geom, a.geometry, 2)",
    )
    assert outer is None


@pytest.fixture(scope="module")
def sup_table(spark):
    rng = np.random.default_rng(17)
    x = rng.uniform(-179, 179, 80)
    y = rng.uniform(-89, 89, 80)
    sup = spark.createDataFrame(
        [(int(i), bytes(w)) for i, w in enumerate(wkb.encode_points_xy(x, y))],
        "sid LONG, sgeom BINARY")
    sup.createOrReplaceTempView("sup_t")
    return sup, x, y


def test_join_chain_three_tables(con, tables, sup_table, spark):
    """FROM a JOIN b ON st JOIN c ON st — folded through repeated
    spatial_join calls, no cartesian anywhere (VERDICT r3 next #3)."""
    import math

    pts, admin = tables
    sup, sx, sy = sup_table
    df = con.sql(
        "SELECT p.pid AS pid, a.bid AS bid, s.sid AS sid "
        "FROM pts_t p JOIN admin_t a ON ST_Within(p.geom, a.geometry) "
        "JOIN sup_t s ON ST_DWithin(p.geom, s.sgeom, 12.0) "
        "ORDER BY pid, bid, sid")
    plan = _plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = [(r["pid"], r["bid"], r["sid"]) for r in df.collect()]
    px = {r["pid"]: (r["lon"], r["lat"]) for r in pts.collect()}
    want = []
    for pid, bid in sorted(_expected_pairs(pts, admin)):
        for j in range(80):
            if math.hypot(px[pid][0] - sx[j], px[pid][1] - sy[j]) <= 12.0:
                want.append((pid, bid, j))
    assert got == sorted(want)


def test_join_chain_residual_and_aggregation(con, tables, sup_table):
    df = con.sql(
        "SELECT a.bid AS bid, count(*) AS cnt "
        "FROM pts_t p JOIN admin_t a ON ST_Within(p.geom, a.geometry) AND p.pid > 10 "
        "JOIN sup_t s ON ST_DWithin(p.geom, s.sgeom, 25.0) "
        "GROUP BY a.bid ORDER BY bid")
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["bid", "cnt"]


def test_or_join_union_semantics(con, tables, sup_table, spark):
    """ON ST_A OR ST_B = union of joins with branch exclusion; exact even
    for duplicate input rows."""
    import math

    pts, admin = tables
    sup, sx, sy = sup_table
    # duplicate one probe row: multiplicity must be preserved
    dup = pts.limit(1).union(pts)
    dup.createOrReplaceTempView("pts_dup_t")
    df = con.sql(
        "SELECT p.pid AS pid, s.sid AS sid FROM pts_dup_t p JOIN sup_t s "
        "ON ST_DWithin(p.geom, s.sgeom, 4.0) OR ST_DWithin(p.geom, s.sgeom, 9.0)")
    got = sorted((r["pid"], r["sid"]) for r in df.collect())
    px = {r["pid"]: (r["lon"], r["lat"]) for r in pts.collect()}
    base = [(i, j) for i in px for j in range(80)
            if math.hypot(px[i][0] - sx[j], px[i][1] - sy[j]) <= 9.0]
    dup_pid = pts.limit(1).collect()[0]["pid"]
    want = sorted(base + [(i, j) for (i, j) in base if i == dup_pid])
    assert got == want


def test_or_join_mixed_predicates(con, tables):
    pts, admin = tables
    df = con.sql(
        "SELECT count(*) AS cnt FROM pts_t p JOIN admin_t a "
        "ON ST_Within(p.geom, a.geometry) OR ST_Touches(p.geom, a.geometry)")
    # points are strictly interior to exactly one box each
    assert df.collect()[0]["cnt"] == 400


def test_or_of_and_arms(con, tables, sup_table, spark):
    """Round 5: OR arms may be AND groups — the spatial conjunct drives an
    indexed branch, non-spatial conjuncts filter that branch only, and
    branch exclusion uses the FULL prior arm expression."""
    import math

    pts, admin = tables
    sup, sx, sy = sup_table
    df = con.sql(
        "SELECT p.pid AS pid, s.sid AS sid FROM pts_t p JOIN sup_t s "
        "ON (ST_DWithin(p.geom, s.sgeom, 9.0) AND s.sid % 2 = 0) "
        "OR (ST_DWithin(p.geom, s.sgeom, 4.0) AND p.pid % 3 = 0) "
        "ORDER BY pid, sid")
    plan = _plan_of(df)
    assert "CartesianProduct" not in plan
    got = [(r["pid"], r["sid"]) for r in df.collect()]
    px = {r["pid"]: (r["lon"], r["lat"]) for r in pts.collect()}
    want = sorted(
        (i, j) for i in px for j in range(80)
        if (math.hypot(px[i][0] - sx[j], px[i][1] - sy[j]) <= 9.0
            and j % 2 == 0)
        or (math.hypot(px[i][0] - sx[j], px[i][1] - sy[j]) <= 4.0
            and i % 3 == 0))
    assert got == want


def test_or_arm_with_spatial_residual_falls_back(con, tables, spark):
    from sedona_db_spark.plans.sql_planner import plan_spatial_sql

    out = plan_spatial_sql(
        spark,
        "SELECT p.pid FROM pts_t p JOIN admin_t a "
        "ON (ST_Within(p.geom, a.geometry) AND ST_Touches(p.geom, a.geometry)) "
        "OR ST_Overlaps(p.geom, a.geometry)")
    assert out is None


def test_chain_with_outer_step_falls_back(con, tables, sup_table, spark):
    from sedona_db_spark.plans.sql_planner import plan_spatial_sql

    out = plan_spatial_sql(
        spark,
        "SELECT p.pid FROM pts_t p JOIN admin_t a ON ST_Within(p.geom, a.geometry) "
        "LEFT JOIN sup_t s ON ST_DWithin(p.geom, s.sgeom, 12.0)")
    assert out is None


def test_subquery_in_from_lifted(con, tables, spark):
    """Round-4: FROM/JOIN-position subqueries are lifted into temp views
    and the outer spatial join still gets the two-phase plan."""
    df = con.sql(
        "SELECT p.pid AS pid, a.bid AS bid "
        "FROM (SELECT pid, geom FROM pts_t WHERE pid < 100) p "
        "JOIN admin_t a ON ST_Within(p.geom, a.geometry)")
    plan = _plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    got = {(r["pid"], r["bid"]) for r in df.collect()}
    want = {(p, b) for p, b in _expected_pairs(*tables) if p < 100}
    assert got == want

    # subquery on the BUILD side + aggregation tail
    df2 = con.sql(
        "SELECT a.bid AS bid, count(*) AS cnt FROM pts_t p "
        "JOIN (SELECT bid, geometry FROM admin_t WHERE bid < 10) a "
        "ON ST_Within(p.geom, a.geometry) GROUP BY a.bid ORDER BY bid")
    rows = {r["bid"]: r["cnt"] for r in df2.collect()}
    from collections import Counter

    wantc = Counter(b for _, b in _expected_pairs(*tables) if b < 10)
    assert rows == dict(wantc)

    # spatial join INSIDE the subquery is planned too (no cartesian)
    df3 = con.sql(
        "SELECT count(*) AS n FROM "
        "(SELECT p.pid AS pid, a.bid AS bid FROM pts_t p JOIN admin_t a "
        " ON ST_Within(p.geom, a.geometry)) j WHERE j.bid >= 0")
    assert df3.collect()[0]["n"] == len(_expected_pairs(*tables))


def test_full_outer_spatial_join_sql(con, tables, spark):
    """Round-4: FULL [OUTER] JOIN ON ST_Within plans through the two-phase
    join's full-outer mode (both sides NULL-extended)."""
    pts, admin = tables
    df = con.sql(
        "SELECT p.pid AS pid, a.bid AS bid FROM pts_t p "
        "FULL OUTER JOIN (SELECT * FROM admin_t WHERE bid < 5) a "
        "ON ST_Within(p.geom, a.geometry)")
    rows = [(r["pid"], r["bid"]) for r in df.collect()]
    matched = {(p, b) for p, b in _expected_pairs(pts, admin) if b < 5}
    l_unmatched = {p for p in range(400)} - {p for p, _ in matched}
    r_unmatched = {b for b in range(5)} - {b for _, b in matched}
    got_matched = {(p, b) for p, b in rows if p is not None and b is not None}
    assert got_matched == matched
    assert {p for p, b in rows if b is None} == l_unmatched
    assert {b for p, b in rows if p is None} == r_unmatched
    assert len(rows) == len(matched) + len(l_unmatched) + len(r_unmatched)


class TestExistsSubquery:
    """Round-5: [NOT] EXISTS(SELECT ... WHERE ST_Pred) plans as left-semi /
    left-anti two-phase spatial joins (VERDICT r4 next #7)."""

    def test_exists_semi_join(self, con, tables):
        pts, admin = tables
        df = con.sql(
            "SELECT p.pid AS pid FROM pts_t p WHERE EXISTS ("
            " SELECT 1 FROM admin_t a WHERE ST_Within(p.geom, a.geometry))")
        got = {r["pid"] for r in df.collect()}
        want = {p for p, _ in _expected_pairs(pts, admin)}
        assert got == want
        plan = _plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_not_exists_anti_join(self, con, tables):
        pts, admin = tables
        df = con.sql(
            "SELECT p.pid AS pid FROM pts_t p WHERE NOT EXISTS ("
            " SELECT 1 FROM admin_t a WHERE ST_Within(p.geom, a.geometry))")
        got = {r["pid"] for r in df.collect()}
        want = set(range(400)) - {p for p, _ in _expected_pairs(pts, admin)}
        assert got == want
        plan = _plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_inner_filter_and_outer_residual(self, con, tables):
        pts, admin = tables
        df = con.sql(
            "SELECT count(*) AS cnt FROM pts_t p WHERE NOT EXISTS ("
            " SELECT 1 FROM admin_t a "
            " WHERE ST_Within(p.geom, a.geometry) AND a.bid < 10) "
            "AND p.pid % 2 = 0")
        matched = {p for p, b in _expected_pairs(pts, admin) if b < 10}
        want = len([p for p in range(400) if p % 2 == 0 and p not in matched])
        assert df.collect()[0]["cnt"] == want

    def test_exists_argument_order_inverts(self, con, tables):
        pts, admin = tables
        df = con.sql(
            "SELECT p.pid AS pid FROM pts_t p WHERE EXISTS ("
            " SELECT 1 FROM admin_t a WHERE ST_Contains(a.geometry, p.geom))")
        got = {r["pid"] for r in df.collect()}
        assert got == {p for p, _ in _expected_pairs(pts, admin)}

    def test_exists_dwithin_literal(self, con, tables, spark):
        pts, admin = tables
        df = con.sql(
            "SELECT count(*) AS cnt FROM pts_t p WHERE EXISTS ("
            " SELECT 1 FROM pts_t q WHERE ST_DWithin(p.geom, q.geom, 5.0))")
        # every point matches itself at distance 0 -> all rows survive
        assert df.collect()[0]["cnt"] == 400

    def test_correlated_nonspatial_semi(self, con, tables):
        # round 5b: correlated NON-spatial conjuncts plan as inner join +
        # post-filter + duplicate-exact semi reduction (was: raise)
        pts, admin = tables
        df = con.sql(
            "SELECT p.pid AS pid FROM pts_t p WHERE EXISTS ("
            " SELECT 1 FROM admin_t a "
            " WHERE ST_Within(p.geom, a.geometry) AND a.bid = p.pid % 25)")
        got = sorted(r["pid"] for r in df.collect())
        want = sorted(p for p, b in _expected_pairs(pts, admin)
                      if b == p % 25)
        assert got == want
        plan = _plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_correlated_nonspatial_anti(self, con, tables):
        pts, admin = tables
        df = con.sql(
            "SELECT p.pid AS pid FROM pts_t p WHERE NOT EXISTS ("
            " SELECT 1 FROM admin_t a "
            " WHERE ST_Within(p.geom, a.geometry) AND a.bid = p.pid % 25)")
        got = sorted(r["pid"] for r in df.collect())
        matched = {p for p, b in _expected_pairs(pts, admin) if b == p % 25}
        assert got == sorted(set(range(400)) - matched)

    def test_correlated_semi_duplicate_multiplicity(self, con, tables,
                                                    spark):
        # duplicate probe rows must each survive EXISTS exactly once
        pts, admin = tables
        dup = pts.limit(3).union(pts)
        dup.createOrReplaceTempView("pts_exdup_t")
        df = con.sql(
            "SELECT p.pid AS pid FROM pts_exdup_t p WHERE EXISTS ("
            " SELECT 1 FROM admin_t a "
            " WHERE ST_Within(p.geom, a.geometry) AND a.bid = p.pid % 25)")
        got = sorted(r["pid"] for r in df.collect())
        base = {p for p, b in _expected_pairs(pts, admin) if b == p % 25}
        dup_ids = [r["pid"] for r in pts.limit(3).collect()]
        want = sorted(list(base) + [p for p in dup_ids if p in base])
        assert got == want

    def test_correlated_scalar_st_residual_filters_post_join(self, con, tables):
        # a scalar ST_ accessor in a correlated residual is not a second
        # join predicate: it takes the post-join filter instead of raising
        pts, admin = tables
        lon = {r["pid"]: r["lon"] for r in pts.select("pid", "lon").collect()}
        pairs = _expected_pairs(pts, admin)
        df = con.sql(
            "SELECT p.pid AS pid FROM pts_t p WHERE EXISTS ("
            " SELECT 1 FROM admin_t a "
            " WHERE ST_Within(p.geom, a.geometry) AND ST_X(p.geom) > a.bid * 10 - 180)")
        got = sorted(r["pid"] for r in df.collect())
        assert got == sorted(p for p, b in pairs if lon[p] > b * 10 - 180)
        df = con.sql(
            "SELECT p.pid AS pid FROM pts_t p WHERE NOT EXISTS ("
            " SELECT 1 FROM admin_t a "
            " WHERE ST_Within(p.geom, a.geometry) AND ST_Area(a.geometry) > p.pid * 10)")
        got = sorted(r["pid"] for r in df.collect())
        matched = {p for p, _ in pairs if 72.0 * 36.0 > p * 10}
        assert got == sorted(set(range(400)) - matched)

    def test_correlated_second_spatial_conjunct_raises(self, con, tables):
        # two spatial predicates in the subquery: only one can drive the
        # index — loud guidance, not a silent mis-plan
        with pytest.raises(NotImplementedError, match="SPATIAL"):
            con.sql(
                "SELECT count(*) AS cnt FROM pts_t p WHERE EXISTS ("
                " SELECT 1 FROM admin_t a "
                " WHERE ST_Within(p.geom, a.geometry) "
                " AND ST_Intersects(a.geometry, p.geom))")
