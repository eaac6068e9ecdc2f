"""All-JVM fast-path tests: cell_expr codegen parity with Grid.pack, and
the left_xy + rectangle-layer spatial join producing a plan with zero
Python evaluation."""

import re

import numpy as np

from pyspark.sql import functions as F

from sedona_db_spark.geometry import wkb
from sedona_db_spark.operators.knn_join import knn_join
from sedona_db_spark.operators.spatial_join import spatial_join
from sedona_db_spark.tiling import Grid, cell_expr


def test_cell_expr_matches_grid_pack(spark):
    rng = np.random.default_rng(3)
    x = rng.uniform(-180, 180, 500)
    y = rng.uniform(-90, 90, 500)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x DOUBLE, y DOUBLE"
    )
    for level in (2, 7, 12):
        grid = Grid(level)
        got = [r["c"] for r in df.select(cell_expr(grid, F.col("x"), F.col("y")).alias("c")).collect()]
        want = grid.cell_of_points(x, y)
        assert got == [int(v) for v in want], f"level {level}"


def _mk_tables(spark, n=500):
    rng = np.random.default_rng(8)
    x = rng.uniform(-179, 179, n)
    y = rng.uniform(-89, 89, n)
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
        boxes.append((i, wkb.encode(wkb.box(x0, y0, x0 + 72.0, y0 + 36.0))))
    admin = spark.createDataFrame(boxes, "bid INT, geometry BINARY")
    return pts, admin


def test_left_xy_rect_path_agrees_with_udf_path(spark):
    pts, admin = _mk_tables(spark)
    fast = spatial_join(
        pts.select("pid", "lon", "lat"), admin, predicate="within",
        left_geom="geom", right_geom="geometry", left_xy=("lon", "lat"),
        grid_level=4,
    )
    slow = spatial_join(
        pts.select("pid", "geom"), admin, predicate="within",
        left_geom="geom", right_geom="geometry", grid_level=4,
    )
    got_f = {(r["pid"], r["bid"]) for r in fast.select("pid", "bid").collect()}
    got_s = {(r["pid"], r["bid"]) for r in slow.select("pid", "bid").collect()}
    assert got_f == got_s
    assert len(got_f) == 500  # partition of the plane


def test_left_xy_rect_path_has_no_python_in_plan(spark):
    pts, admin = _mk_tables(spark)
    fast = spatial_join(
        pts.select("pid", "lon", "lat"), admin, predicate="within",
        left_geom="geom", right_geom="geometry", left_xy=("lon", "lat"),
        grid_level=4,
    ).groupBy("bid").count()
    plan = fast._jdf.queryExecution().executedPlan().toString()
    # the probe-side pipeline must be pure JVM: the only python UDF allowed
    # is the one-off bounds computation on the 25-row rectangle layer
    probe_side = plan.split("BroadcastExchange")[0]
    assert "ArrowEvalPython" not in probe_side and "BatchEvalPython" not in probe_side


_PY_NODE = re.compile(r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow)\b")


def _python_calls(plan: str):
    """Names of every Python function the plan evaluates, one entry per
    call site: the top-level items of each ArrowEvalPython/BatchEvalPython
    list plus each MapInPandas function."""
    names = []
    for m in _PY_NODE.finditer(plan):
        rest = plan[m.end():].lstrip()
        if m.group(1) in ("MapInPandas", "MapInArrow"):
            names.append(re.match(r"(\w+)", rest).group(1))
            continue
        depth, item = 0, ""
        for ch in rest[1:]:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                if depth == 0:
                    break
                depth -= 1
            if ch == "," and depth == 0:
                names.append(re.match(r"\s*(\w+)", item).group(1))
                item = ""
            else:
                item += ch
        names.append(re.match(r"\s*(\w+)", item).group(1))
    return names


def _assert_each_udf_once(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    names = _python_calls(plan)
    assert names, plan
    dup = {n for n in names if names.count(n) > 1}
    assert not dup, f"Python UDFs evaluated more than once: {dup}\n{plan}"
    return plan


def test_one_python_pass_per_point_side(spark):
    rng = np.random.default_rng(5)
    x, y = rng.uniform(0, 50, 400), rng.uniform(0, 50, 400)
    pts = spark.createDataFrame(
        [(int(i), bytes(w)) for i, w in enumerate(wkb.encode_points_xy(x, y))],
        "pid LONG, geom BINARY")
    tris = spark.createDataFrame(
        [(i, wkb.encode(wkb.Geometry(wkb.POLYGON, [np.array(
            [[10.0 * i, 0.0], [10.0 * i + 10, 0.0], [10.0 * i + 5, 50.0], [10.0 * i, 0.0]])])))
         for i in range(5)],
        "tid INT, geom BINARY")
    bx, by = rng.uniform(0, 50, 100), rng.uniform(0, 50, 100)
    build = spark.createDataFrame(
        [(int(i), bytes(w)) for i, w in enumerate(wkb.encode_points_xy(bx, by))],
        "bid LONG, geom BINARY")

    # general-WKB point-in-polygon: one decode of the point side, one cover
    pip = spatial_join(pts, tris, predicate="within", left_geom="geom", right_geom="geom")
    _assert_each_udf_once(pip)

    # broadcast PIP: the probe pass is the plan's only Python, no cell explode
    plan = pip._jdf.queryExecution().executedPlan().toString()
    assert _python_calls(plan) == ["probe"] and "explode" not in plan, plan
    # and planning it launches at most the byte estimate and one collect
    sc, group = spark.sparkContext, "spatial-join-planning-jobs"
    sc.setJobGroup(group, "spatial_join planning")
    try:
        spatial_join(pts, tris, predicate="within", left_geom="geom", right_geom="geom")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 3, jobs

    # point x point DWithin: one Python pass per side, refine in the JVM
    dw = spatial_join(pts, build, predicate="dwithin", distance=2.0,
                      left_geom="geom", right_geom="geom")
    plan = _assert_each_udf_once(dw)
    lines = plan.splitlines()
    join_at = next(i for i, ln in enumerate(lines)
                   if re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", ln))
    assert not any(_PY_NODE.search(ln) for ln in lines[:join_at]), plan

    # broadcast kNN: the probe is decoded inside the solve pass
    knn = knn_join(pts, build, k=3, probe_geom="geom", build_geom="geom")
    assert _python_calls(_assert_each_udf_once(knn)) == ["solve"]


def test_rect_touches_semantics(spark):
    # point exactly on a shared box edge: touches both boxes, within neither
    pts = spark.createDataFrame(
        [(0, -108.0, 0.0)], "pid LONG, lon DOUBLE, lat DOUBLE"
    )
    boxes = []
    for i in range(25):
        x0 = -180.0 + (i % 5) * 72.0
        y0 = -90.0 + (i // 5) * 36.0
        boxes.append((i, wkb.encode(wkb.box(x0, y0, x0 + 72.0, y0 + 36.0))))
    admin = spark.createDataFrame(boxes, "bid INT, geometry BINARY")
    touches = spatial_join(pts, admin, predicate="touches", left_geom="geom",
                           right_geom="geometry", left_xy=("lon", "lat"), grid_level=4)
    within = spatial_join(pts, admin, predicate="within", left_geom="geom",
                          right_geom="geometry", left_xy=("lon", "lat"), grid_level=4)
    t = {r["bid"] for r in touches.collect()}
    assert len(t) >= 1 and within.count() == 0


def test_route_record_of_perfbench_shaped_join(spark, caplog):
    """Each spatial_join logs one INFO record on ``sedona_db_spark.plan``:
    route, byte estimate, build rows, right-side kinds and grid level."""
    rng = np.random.default_rng(12)
    x, y = rng.uniform(0, 100, 300), rng.uniform(0, 100, 300)
    pts = spark.createDataFrame(
        [(int(i), float(a), float(b), bytes(w))
         for i, (a, b, w) in enumerate(zip(x, y, wkb.encode_points_xy(x, y)))],
        "pid LONG, x DOUBLE, y DOUBLE, geom BINARY")
    polys = []
    for k in range(25):  # irregular 60-vertex stars, as in the benchmark
        cx, cy = 20.0 * (k % 5) + 10.0, 20.0 * (k // 5) + 10.0
        t = np.linspace(0.0, 2 * np.pi, 60, endpoint=False)
        r = rng.uniform(4.0, 9.6, 60)
        ring = np.stack([cx + r * np.cos(t), cy + r * np.sin(t)], axis=1)
        polys.append((k, wkb.encode(wkb.Geometry(wkb.POLYGON, [np.vstack([ring, ring[:1]])]))))
    right = spark.createDataFrame(polys, "rid INT, geom BINARY")
    with caplog.at_level("INFO", logger="sedona_db_spark.plan"):
        spatial_join(pts, right, predicate="within", left_geom="geom", right_geom="geom")
        # a broadcast dwithin takes the probe route unless left_xy is given
        spatial_join(pts, pts, predicate="dwithin", distance=1.0, left_geom="geom",
                     right_geom="geom", grid_level=7, left_xy=("x", "y"))
    probe, cell = [r.plan for r in caplog.records if r.name == "sedona_db_spark.plan"]
    assert probe == {"route": "broadcast_probe", "est_bytes": 25 * (len(polys[0][1]) + 64.0),
                     "build_rows": 25, "right_kinds": ["areal"], "grid_level": 4}
    assert cell["route"] == "cell_join" and cell["grid_level"] == 7
    assert cell["right_kinds"] == ["point"] and cell["build_rows"] == 300


def test_cell_expr_compiles_at_six_levels(spark):
    """An array of ``cell_expr`` at six levels over computed x/y compiles
    with codegen fallback off (each level references the clamped cell
    index at most 4 times) and equals ``Grid.pack``."""
    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        cx = F.lit(-180.0) + ((F.col("id") * 7) % 3600) * F.lit(0.1) + F.lit(0.005)
        cy = F.lit(-90.0) + ((F.col("id") * 13) % 1800) * F.lit(0.1) + F.lit(0.005)
        levels = [2, 5, 8, 9, 16, 24]
        pts = spark.range(300).select("id", cx.alias("x"), cy.alias("y"))
        rows = pts.select("id", F.posexplode(F.array(
            *[cell_expr(Grid(lv), F.col("x"), F.col("y")) for lv in levels]))).collect()
    finally:
        spark.conf.set(key, old)
    got = {(r["id"], r["pos"]): r["col"] for r in rows}
    ids = np.arange(300)
    x = -180.0 + ((ids * 7) % 3600) * 0.1 + 0.005
    y = -90.0 + ((ids * 13) % 1800) * 0.1 + 0.005
    for k, lv in enumerate(levels):
        want = Grid(lv).cell_of_points(x, y)
        assert [got[(i, k)] for i in ids] == [int(v) for v in want], f"level {lv}"


def _knn_dwithin_sides(spark, n_probe=300, n_build=100):
    """Point probe and build sides shaped like the ``sql_knn_dwithin``
    benchmark (uniform points, a fixed id column each)."""
    rng = np.random.default_rng(13)
    x, y = rng.uniform(0, 100, n_probe), rng.uniform(0, 100, n_probe)
    bx, by = rng.uniform(0, 100, n_build), rng.uniform(0, 100, n_build)
    probe = spark.createDataFrame(
        [(int(i), bytes(w)) for i, w in enumerate(wkb.encode_points_xy(x, y))],
        "cid LONG, geom BINARY")
    build = spark.createDataFrame(
        [(int(i), bytes(w)) for i, w in enumerate(wkb.encode_points_xy(bx, by))],
        "sid LONG, geom BINARY")
    return probe, build


def test_route_record_of_knn_and_dwithin_joins(spark, caplog):
    """Broadcast DWithin logs the probe route with its grid level (picked
    from the build envelopes expanded by the distance) and kinds; each
    ``knn_join`` logs its route, build rows, build mode and ``k_eff`` (the
    grid route's record is pinned in ``test_knn_join.py``)."""
    from sedona_db_spark.tiling import pick_level_for_envelopes

    probe, build = _knn_dwithin_sides(spark)
    with caplog.at_level("INFO", logger="sedona_db_spark.plan"):
        spatial_join(probe, build, predicate="dwithin", distance=2.0, left_geom="geom",
                     right_geom="geom")
        knn_join(probe, build, k=5, probe_geom="geom", build_geom="geom")
    dw, bc = [r.plan for r in caplog.records if r.name == "sedona_db_spark.plan"]
    assert dw == {"route": "broadcast_probe", "est_bytes": 100 * (21 + 64.0),
                  "build_rows": 100, "right_kinds": ["point"],
                  "grid_level": pick_level_for_envelopes(np.full(1, 4.0), np.full(1, 4.0))}
    assert bc == {"route": "broadcast", "build_rows": 100, "build_mode": "point", "k_eff": 5}


def _group_jobs(spark, group, fn):
    """(result of ``fn()``, the stage ids of each Spark job it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return out, [list(st.getJobInfo(j).stageIds) for j in sorted(st.getJobIdsForGroup(group))]


def test_broadcast_knn_and_dwithin_plan_shape(spark):
    """Broadcast DWithin and broadcast kNN run one Python pass and no
    Generate; the kNN plan has no Window or Aggregate, and planning it
    launches at most the probe sample and the capped build collect."""
    probe, build = _knn_dwithin_sides(spark, n_probe=4000)
    dw = spatial_join(probe, build, predicate="dwithin", distance=2.0, left_geom="geom",
                      right_geom="geom")
    knn, jobs = _group_jobs(spark, "knn-planning-jobs", lambda: knn_join(
        probe, build, k=5, probe_geom="geom", build_geom="geom"))
    assert len(jobs) <= 2, jobs
    for df, name in ((dw, "probe"), (knn, "solve")):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert _python_calls(plan) == [name] and "Generate" not in plan, plan
    plan = knn._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Aggregate" not in plan, plan


def test_small_knn_build_runs_no_wide_shuffle(spark):
    """A 10-row build at the default shuffle partition count: no stage of
    planning or running the kNN join spans the 200 shuffle partitions (the
    build ids' window used to shuffle the build side on them)."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "200")
    try:
        probe, build = _knn_dwithin_sides(spark, n_probe=50, n_build=10)
        rows, jobs = _group_jobs(spark, "knn-small-build", lambda: knn_join(
            probe, build, k=3, probe_geom="geom", build_geom="geom").collect())
    finally:
        spark.conf.set(key, old)
    assert len(rows) == 50 * 3
    st = spark.sparkContext.statusTracker()
    tasks = [st.getStageInfo(s).numTasks for ss in jobs for s in ss if st.getStageInfo(s)]
    assert tasks and max(tasks) < 200, (jobs, tasks)
