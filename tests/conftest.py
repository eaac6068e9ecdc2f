"""Shared pytest fixtures: one local SparkSession per test run."""

from __future__ import annotations

import os
import tempfile

import pytest

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("sedona_db_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="sds-wh-"))
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def mixed_wkb():
    """WKB rows whose envelopes take every decode path: NULL; LE, BE and
    EWKB ``POINT EMPTY``; BE and EWKB points; a polygon, a linestring and a
    multipolygon; and little-endian XY points."""
    import struct

    from sedona_db_spark.geometry import wkb

    def ewkb_point(x, y):
        return b"\x01" + struct.pack("<Ii", 1 | 0x20000000, 4326) + struct.pack("<dd", x, y)

    nan = float("nan")
    return [
        None,
        wkb.encode(wkb.from_wkt("POINT EMPTY")),
        b"\x00" + struct.pack(">Idd", 1, nan, nan),
        ewkb_point(nan, nan),
        b"\x00" + struct.pack(">Idd", 1, 3.0, -4.0),
        ewkb_point(-7.5, 9.25),
        wkb.encode(wkb.from_wkt("POLYGON ((0 0, 10 0, 10 5, 0 5, 0 0))")),
        wkb.encode(wkb.from_wkt("LINESTRING (-3 2, 8 -1, 4 20)")),
        wkb.encode(wkb.from_wkt(
            "MULTIPOLYGON (((1 1, 2 1, 2 2, 1 1)), ((-40 -30, -35 -30, -35 -25, -40 -30)))")),
        wkb.encode(wkb.point(12.5, -6.0)),
        wkb.encode(wkb.point(-1.0, 33.0)),
    ]
