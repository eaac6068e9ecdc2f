"""The three workloads: seeded numpy inputs, one timed iteration each, and
the check of an iteration's output against the oracle.

Inputs are generated here and handed to the program as Arrow-built
DataFrames that are persisted before timing; their WKB is written by this
file's own encoder, so the program only ever receives bytes.
"""

from __future__ import annotations

import functools
import glob
import os
import statistics
import time
from typing import Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracles
from spans import EXEC, READ, SQL, WRITE

EXTENT = 100.0  # inputs live in [0, EXTENT]^2, degrees inside the lon/lat world


# ---------------------------------------------------------------------------
# WKB written by the benchmark (little-endian, XY)
# ---------------------------------------------------------------------------


def wkb_points(x: np.ndarray, y: np.ndarray) -> pa.BinaryArray:
    rec = np.zeros(len(x), dtype=[("bo", "u1"), ("t", "<u4"), ("x", "<f8"), ("y", "<f8")])
    rec["bo"], rec["t"], rec["x"], rec["y"] = 1, 1, x, y
    offsets = np.arange(len(x) + 1, dtype=np.int32) * 21
    return pa.BinaryArray.from_buffers(
        pa.binary(), len(x), [None, pa.py_buffer(offsets), pa.py_buffer(rec.tobytes())])


def wkb_polygon(ring: np.ndarray) -> bytes:
    head = np.zeros(1, dtype=[("bo", "u1"), ("t", "<u4"), ("nr", "<u4"), ("np", "<u4")])
    head["bo"], head["t"], head["nr"], head["np"] = 1, 3, 1, len(ring)
    return head.tobytes() + np.ascontiguousarray(ring, dtype="<f8").tobytes()


def star_polygon(rng, cx: float, cy: float, r_min: float, r_max: float, n: int) -> np.ndarray:
    """Closed ring of ``n`` vertices at sorted random angles and random radii
    around (cx, cy): simple, non-convex, and never an axis-aligned box."""
    theta = np.sort(rng.uniform(0.0, 2 * np.pi, n))
    r = rng.uniform(r_min, r_max, n)
    ring = np.stack([cx + r * np.cos(theta), cy + r * np.sin(theta)], axis=1)
    return np.vstack([ring, ring[:1]])


class Workload:
    """One workload. Subclasses set the inputs in ``__init__`` and define
    ``tables``, ``iteration``, ``compute_oracle`` and ``check``."""

    name = ""
    point_table = ""  # the table whose points feed the geometry kernel timings

    def __init__(self, spark, con, tracer, run_dir: str):
        self.spark, self.con, self.tr, self.run_dir = spark, con, tracer, run_dir
        self._oracle = None

    def persist(self, tables: Dict[str, pa.Table]) -> Dict:
        dfs = {}
        for name, tbl in tables.items():
            dfs[name] = self.spark.createDataFrame(tbl).persist()
            dfs[name].count()
        return dfs

    def materialise(self, repeats: int) -> float:
        """Build the Arrow tables into persisted DataFrames ``repeats`` times;
        the last set stays. Returns the median time of one build."""
        times = []
        for k in range(repeats):
            t = time.perf_counter()
            dfs = self.persist(self.tables)
            times.append(time.perf_counter() - t)
            if k < repeats - 1:
                for df in dfs.values():
                    df.unpersist(blocking=True)
        self.df = dfs
        self.registered()
        return statistics.median(times)

    def registered(self) -> None:
        """Hook run once the persisted DataFrames are in ``self.df``."""

    def oracle(self):
        if self._oracle is None:
            self._oracle = self.compute_oracle()
        return self._oracle

    def result_rows(self, out) -> int:
        raise NotImplementedError

    def layer_metrics(self, out, m: Dict[str, float]) -> Dict[str, float]:
        """Per-layer metrics that need the iteration's output; ``m`` holds
        the ones read from spans and Spark."""
        rows = self.result_rows(out)
        pairs = m["join.candidate_pairs"]
        return {"join.result_rows": rows, "refine.keep_ratio": rows / pairs if pairs else 0.0}

    def kernel_batches(self):
        """(x, y, WKB object array, polygon WKBs) for the driver-side
        geometry kernel timings, drawn from this workload's inputs."""
        n = min(100_000, len(self.x))
        wkb = self.tables[self.point_table]["geom"].slice(0, n).to_numpy(zero_copy_only=False)
        return self.x[:n], self.y[:n], wkb, []


class PipPolygons(Workload):
    """General-WKB point-in-polygon join: the pandas-UDF cover and ray-cast
    refine do most of the work, planning is a small share."""

    name = "pip_polygons"
    N_POINTS = 100_000
    GRID = 5            # GRID x GRID polygons
    N_VERTICES = 60
    point_table = "points"

    def __init__(self, seed, *a):
        super().__init__(*a)
        rng = np.random.default_rng(seed)
        self.x = rng.uniform(0.0, EXTENT, self.N_POINTS)
        self.y = rng.uniform(0.0, EXTENT, self.N_POINTS)
        cell = EXTENT / self.GRID
        self.rings = [star_polygon(rng, (i + 0.5) * cell, (j + 0.5) * cell,
                                   0.2 * cell, 0.48 * cell, self.N_VERTICES)
                      for j in range(self.GRID) for i in range(self.GRID)]

    @functools.cached_property
    def tables(self):
        return {
            "points": pa.table({"pid": np.arange(self.N_POINTS), "geom": wkb_points(self.x, self.y)}),
            "polygons": pa.table({"rid": np.arange(len(self.rings)),
                                  "geom": pa.array([wkb_polygon(r) for r in self.rings], pa.binary())}),
        }

    def iteration(self):
        from sedona_db_spark.operators import spatial_join as sj

        # looked up on the module, so the traced run's wrapper sees the call
        joined = sj.spatial_join(self.df["points"], self.df["polygons"], predicate="within",
                                 left_geom="geom", right_geom="geom")
        with self.tr.span(EXEC):
            rows = joined.groupBy("rid").count().collect()
        return {r["rid"]: r["count"] for r in rows}

    def compute_oracle(self):
        return oracles.points_per_polygon(self.x, self.y, self.rings)

    def check(self, out) -> bool:
        return out == self.oracle()

    def result_rows(self, out) -> int:
        return sum(out.values())

    def kernel_batches(self):
        x, y, wkb, _ = super().kernel_batches()
        polys = self.tables["polygons"]["geom"].to_pylist()
        return x, y, wkb, polys


class SqlKnnDwithin(Workload):
    """ST_KNN and ST_DWithin joins through ``con.sql``: the SQL planner and
    the operators' driver-side planning jobs are a large share, refine is
    trivial."""

    name = "sql_knn_dwithin"
    N_PROBE = 12_000
    N_BUILD = 2_000
    K = 5
    DISTANCE = 2.0      # about 2.5 build points per probe
    point_table = "probe"
    KNN_SQL = ("SELECT c.cid AS cid, s.sid AS sid, knn_rank FROM perfbench_probe c "
               f"JOIN perfbench_build s ON ST_KNN(c.geom, s.geom, {K})")
    DWITHIN_SQL = ("SELECT c.cid AS cid, s.sid AS sid FROM perfbench_probe c "
                   f"JOIN perfbench_build s ON ST_DWithin(c.geom, s.geom, {DISTANCE})")

    def __init__(self, seed, *a):
        super().__init__(*a)
        rng = np.random.default_rng(seed)
        self.x = rng.uniform(0.0, EXTENT, self.N_PROBE)
        self.y = rng.uniform(0.0, EXTENT, self.N_PROBE)
        self.bx = rng.uniform(0.0, EXTENT, self.N_BUILD)
        self.by = rng.uniform(0.0, EXTENT, self.N_BUILD)

    @functools.cached_property
    def tables(self):
        return {
            "probe": pa.table({"cid": np.arange(self.N_PROBE), "geom": wkb_points(self.x, self.y)}),
            "build": pa.table({"sid": np.arange(self.N_BUILD), "geom": wkb_points(self.bx, self.by)}),
        }

    def registered(self):
        for name, df in self.df.items():
            df.createOrReplaceTempView(f"perfbench_{name}")

    def iteration(self):
        out = []
        for sql in (self.KNN_SQL, self.DWITHIN_SQL):
            with self.tr.span(SQL):
                df = self.con.sql(sql)
            with self.tr.span(EXEC):
                out.append(df.toArrow())
        return out

    def compute_oracle(self):
        return (oracles.knn_pairs(self.x, self.y, self.bx, self.by, self.K),
                oracles.dwithin_pairs(self.x, self.y, self.bx, self.by, self.DISTANCE))

    def check(self, out) -> bool:
        knn, dw = out
        want_knn, want_dw = self.oracle()
        got_knn = oracles.sort_rows(np.stack([knn["cid"].to_numpy(), knn["sid"].to_numpy(),
                                              knn["knn_rank"].to_numpy()], axis=1))
        got_dw = oracles.sort_rows(np.stack([dw["cid"].to_numpy(), dw["sid"].to_numpy()], axis=1))
        return np.array_equal(got_knn, want_knn) and np.array_equal(got_dw, want_dw)

    def result_rows(self, out) -> int:
        return sum(t.num_rows for t in out)


class GeoparquetRoundtrip(Workload):
    """GeoParquet 1.1 write with the bbox covering, then bbox-filtered
    window reads: the only workload on the sources layer and on the write
    side of WKB."""

    name = "geoparquet_roundtrip"
    N_POINTS = 80_000
    CLUSTERS = 12
    SIGMA = 1.2         # cluster spread
    PARTITIONS = 8      # one part file per partition
    WINDOWS = 6
    WINDOW = 6.0        # window side
    point_table = "points"

    def __init__(self, seed, *a):
        super().__init__(*a)
        rng = np.random.default_rng(seed)
        centers = rng.uniform(0.1 * EXTENT, 0.9 * EXTENT, (self.CLUSTERS, 2))
        cluster = np.sort(rng.integers(0, self.CLUSTERS, self.N_POINTS))
        self.x = centers[cluster, 0] + rng.normal(0.0, self.SIGMA, self.N_POINTS)
        self.y = centers[cluster, 1] + rng.normal(0.0, self.SIGMA, self.N_POINTS)
        # windows on cluster centres (rows pruned by the covering) plus
        # random ones (mostly empty)
        half = self.WINDOW / 2
        picks = list(centers[rng.permutation(self.CLUSTERS)[: self.WINDOWS // 2]])
        picks += list(rng.uniform(half, EXTENT - half, (self.WINDOWS - len(picks), 2)))
        self.windows = [(cx - half, cy - half, cx + half, cy + half) for cx, cy in picks]
        self.path = os.path.join(self.run_dir, "geoparquet")

    @functools.cached_property
    def tables(self):
        return {"points": pa.table({"pid": np.arange(self.N_POINTS),
                                    "geom": wkb_points(self.x, self.y)})}

    def persist(self, tables):
        # contiguous pid ranges of cluster-sorted rows: each part file is
        # spatially compact, so the bbox covering can prune row groups
        df = self.spark.createDataFrame(tables["points"]).repartitionByRange(self.PARTITIONS, "pid")
        df = df.persist()
        df.count()
        return {"points": df}

    def iteration(self):
        from sedona_db_spark.sources import geoparquet as gp

        with self.tr.span(WRITE):
            meta = gp.write_geoparquet(self.df["points"], self.path, geom_cols=["geom"])
        counts = []
        with self.tr.span(READ):
            for w in self.windows:
                counts.append(gp.filter_bbox(gp.read_geoparquet(self.spark, self.path), "geom", *w).count())
        return meta, counts

    def parts(self) -> List[str]:
        return sorted(glob.glob(os.path.join(self.path, "*.parquet")))

    def compute_oracle(self):
        bbox = [self.x.min(), self.y.min(), self.x.max(), self.y.max()]
        return oracles.window_counts(self.x, self.y, self.windows), [float(v) for v in bbox]

    def check(self, out) -> bool:
        """Window counts, row total and the `geo` bbox both as returned and
        as stored in the part-file footers (read with pyarrow)."""
        meta, counts = out
        want_counts, want_bbox = self.oracle()
        files = [pq.read_metadata(p) for p in self.parts()]
        footers = [f.metadata[b"geo"] for f in files]
        rows = sum(f.num_rows for f in files)
        return (counts == want_counts and rows == self.N_POINTS
                and oracles.footer_bbox(footers, "geom") == want_bbox
                and meta["columns"]["geom"]["bbox"] == want_bbox)

    def layer_metrics(self, out, m):
        written = sum(os.path.getsize(p) for p in self.parts())
        reads = len(self.windows)
        return {
            "sources.bytes_written_per_input_byte": written / self.tables["points"].nbytes,
            "sources.files_scanned_frac": m["sources.files_read"] / (len(self.parts()) * reads),
            "sources.bytes_scanned_frac": m["sources.bytes_read"] / (written * reads),
            "sources.rows_scanned_frac": m["sources.rows_scanned"] / (self.N_POINTS * reads),
        }


WORKLOADS = {w.name: w for w in (PipPolygons, SqlKnnDwithin, GeoparquetRoundtrip)}
