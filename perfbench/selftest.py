"""Self-test of the benchmark's own code: the oracles, the WKB encoder that
feeds the program, and the parser of Spark's formatted metrics. Needs only
numpy and pyarrow, no Spark.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import itertools
import json
import math
import struct
import sys

import numpy as np

import oracles
from probes import parse_metric
from workloads import star_polygon, wkb_points, wkb_polygon


def check(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)


def naive_inside(x: float, y: float, ring) -> bool:
    inside = False
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        if (y0 <= y) != (y1 <= y) and x < x0 + (y - y0) / (y1 - y0) * (x1 - x0):
            inside = not inside
    return inside


def test_crossing_number() -> None:
    square = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)
    ell = np.array([[0, 0], [4, 0], [4, 1], [1, 1], [1, 4], [0, 4], [0, 0]], float)
    px = np.array([2.0, 5.0, 0.5, 3.0, 2.0, -1.0])
    py = np.array([2.0, 2.0, 3.0, 3.0, 0.5, 2.0])
    check(list(oracles.crossing_number_inside(px, py, square)) == [True, False, True, True, True, False],
          "square")
    # (3, 3) sits in the notch of the L; (2, 0.5) in its foot
    check(list(oracles.crossing_number_inside(px, py, ell)) == [False, False, True, False, True, False],
          "concave L")
    # a ray through a vertex is counted once under the half-open rule
    diamond = np.array([[2, 0], [4, 2], [2, 4], [0, 2], [2, 0]], float)
    check(list(oracles.crossing_number_inside(np.array([1.0, -1.0]), np.array([2.0, 2.0]), diamond))
          == [True, False], "ray through vertex")
    rng = np.random.default_rng(7)
    ring = star_polygon(rng, 50.0, 50.0, 10.0, 30.0, 60)
    qx, qy = rng.uniform(10, 90, 2000), rng.uniform(10, 90, 2000)
    want = [naive_inside(a, b, ring) for a, b in zip(qx, qy)]
    check(list(oracles.crossing_number_inside(qx, qy, ring)) == want, "star vs loop")


def test_points_per_polygon() -> None:
    a = np.array([[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]], float)
    b = a + 10
    px = np.array([1.0, 1.5, 11.0, 5.0])
    py = np.array([1.0, 0.5, 11.0, 5.0])
    check(oracles.points_per_polygon(px, py, [a, b]) == {0: 2, 1: 1}, "two squares")
    check(oracles.points_per_polygon(px, py, [a + 100]) == {}, "empty polygons are left out")


def test_star_polygon() -> None:
    ring = star_polygon(np.random.default_rng(1), 0.0, 0.0, 1.0, 2.0, 60)
    check(len(ring) == 61 and (ring[0] == ring[-1]).all(), "closed ring of 60 vertices")
    check(len(np.unique(ring[:-1, 0])) > 4, "not an axis-aligned box")


def test_knn_and_dwithin() -> None:
    rng = np.random.default_rng(3)
    qx, qy = rng.uniform(0, 10, 300), rng.uniform(0, 10, 300)
    bx, by = rng.uniform(0, 10, 50), rng.uniform(0, 10, 50)
    want_knn, want_dw = [], []
    for i in range(len(qx)):
        d = [math.hypot(qx[i] - bx[j], qy[i] - by[j]) for j in range(len(bx))]
        for rank, j in enumerate(sorted(range(len(bx)), key=d.__getitem__)[:3], 1):
            want_knn.append((i, j, rank))
        want_dw += [(i, j) for j in range(len(bx)) if d[j] <= 1.5]
    got = oracles.knn_pairs(qx, qy, bx, by, 3, block=64)
    check([tuple(r) for r in got] == sorted(want_knn), "knn vs loop")
    got = oracles.dwithin_pairs(qx, qy, bx, by, 1.5, block=64)
    check([tuple(r) for r in got] == sorted(want_dw), "dwithin vs loop")


def test_windows_and_footer() -> None:
    x = np.array([0.0, 1.0, 2.0, 3.0])
    y = np.array([0.0, 1.0, 2.0, 3.0])
    check(oracles.window_counts(x, y, [(1, 1, 2, 2), (5, 5, 6, 6), (-1, -1, 9, 9)]) == [2, 0, 4],
          "closed windows")
    footers = [json.dumps({"columns": {"g": {"bbox": b}}}).encode()
               for b in ([0, 1, 2, 3], [-1, 2, 1, 5])]
    check(oracles.footer_bbox(footers, "g") == [-1, 1, 2, 5], "bbox union")


def test_wkb_encoder() -> None:
    arr = wkb_points(np.array([1.5, -2.0]), np.array([3.25, 4.0]))
    check(arr.to_pylist() == [struct.pack("<BIdd", 1, 1, 1.5, 3.25),
                              struct.pack("<BIdd", 1, 1, -2.0, 4.0)], "points")
    ring = np.array([[0, 0], [1, 0], [0, 1], [0, 0]], float)
    want = struct.pack("<BIII", 1, 3, 1, 4) + b"".join(struct.pack("<dd", *p) for p in ring)
    check(wkb_polygon(ring) == want, "polygon")


def test_parse_metric() -> None:
    cases = {
        "50,821": 50821,
        "1024.5 KiB": 1024.5 * 1024,
        "2.4 s": 2.4,
        "17 ms": 0.017,
        "1.5 m": 90.0,
        "total (min, med, max (stageId: taskId))\n4.3 s (2.1 s, 2.1 s, 2.1 s (stage 17.0: task 21))": 4.3,
        "total (min, med, max (stageId: taskId))\n118.0 B (59.0 B, 59.0 B, 59.0 B (stage 5.0: task 8))": 118,
        None: 0.0,
    }
    for text, want in cases.items():
        check(math.isclose(parse_metric(text), want), f"parse_metric({text!r})")


def main() -> int:
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    print(f"{len(tests)} self-tests passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
