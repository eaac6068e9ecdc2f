"""WKB/WKT codec unit tests (pure python, no Spark).

Mirrors the reference's codec coverage: ISO + EWKB flags, Z/M/ZM,
EMPTY handling (`rust/sedona-schema`, `rust/sedona-geometry`)."""

import struct

import numpy as np
import pytest

from sedona_db_spark.geometry import wkb

ROUNDTRIP_WKTS = [
    "POINT (1 2)",
    "POINT (-71.064544 42.28787)",
    "POINT Z (1 2 3)",
    "POINT M (1 2 4)",
    "POINT ZM (1 2 3 4)",
    "POINT EMPTY",
    "LINESTRING (0 0, 1 1, 2 0)",
    "LINESTRING EMPTY",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
    "POLYGON EMPTY",
    "MULTIPOINT ((1 1), (2 2))",
    "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
    "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
    "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 1 1))",
    "GEOMETRYCOLLECTION EMPTY",
]


@pytest.mark.parametrize("wkt", ROUNDTRIP_WKTS)
def test_wkt_wkb_roundtrip(wkt):
    g = wkb.from_wkt(wkt)
    assert wkb.to_wkt(g) == wkt
    g2 = wkb.parse(wkb.encode(g))
    assert wkb.to_wkt(g2) == wkt


def test_big_endian_wkb():
    # big-endian point: 00 byte order
    buf = b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", 3.0, 4.0)
    g = wkb.parse(buf)
    assert g.type_id == wkb.POINT
    assert g.coords[0, 0] == 3.0 and g.coords[0, 1] == 4.0


def test_ewkb_z_and_srid_flags():
    # EWKB point Z with SRID: flags 0x80000000 | 0x20000000
    raw_type = 1 | 0x80000000 | 0x20000000
    buf = b"\x01" + struct.pack("<I", raw_type) + struct.pack("<I", 4326)
    buf += struct.pack("<ddd", 1.0, 2.0, 3.0)
    g = wkb.parse(buf)
    assert g.has_z and not g.has_m
    assert list(g.coords[0]) == [1.0, 2.0, 3.0]
    # re-encode is ISO 1001
    enc = wkb.encode(g)
    assert struct.unpack_from("<I", enc, 1)[0] == 1001


def test_point_fast_path_vectorized():
    x = np.array([1.0, 2.0, -3.5])
    y = np.array([4.0, 5.0, 6.25])
    bufs = wkb.encode_points_xy(x, y)
    assert all(len(b) == 21 for b in bufs)
    dx, dy, valid = wkb.decode_points_xy(list(bufs))
    assert valid.all()
    np.testing.assert_array_equal(dx, x)
    np.testing.assert_array_equal(dy, y)


def test_decode_points_handles_nulls_and_nonpoints():
    poly = wkb.encode(wkb.box(0, 0, 1, 1))
    pt = wkb.encode(wkb.point(7, 8))
    x, y, valid = wkb.decode_points_xy([None, poly, pt])
    assert list(valid) == [False, False, True]
    assert x[2] == 7 and y[2] == 8


def test_multipoint_bare_wkt_form():
    g = wkb.from_wkt("MULTIPOINT (1 1, 2 2)")
    assert g.type_id == wkb.MULTIPOINT
    assert len(g.coords) == 2


def test_empty_point_roundtrip_nan_convention():
    g = wkb.from_wkt("POINT EMPTY")
    enc = wkb.encode(g)
    # encodes as all-NaN coords per the common convention
    vals = struct.unpack_from("<dd", enc, 5)
    assert all(v != v for v in vals)
    assert wkb.parse(enc).is_empty


def test_wkt_multi_with_empty_elements():
    """EMPTY sub-elements inside MULTI* parse (reference ST_Dump cases:
    MULTILINESTRING ((1 1, 2 2), EMPTY, (3 3, 4 4)))."""
    from sedona_db_spark.geometry import wkb

    g = wkb.from_wkt("MULTILINESTRING ((1 1, 2 2), EMPTY, (3 3, 4 4))")
    assert len(g.coords) == 3
    assert g.coords[1].is_empty
    assert wkb.to_wkt(g) == "MULTILINESTRING ((1 1, 2 2), EMPTY, (3 3, 4 4))"
    g2 = wkb.from_wkt("MULTIPOLYGON (((1 1, 2 2, 2 1, 1 1)), EMPTY)")
    assert len(g2.coords) == 2 and g2.coords[1].is_empty


def _kind_by_parse(b):
    """Reference shape kind from a full parse (the join route classes)."""
    if b is None:
        return wkb.KIND_NULL
    try:
        g = wkb.parse(b)
    except Exception:
        return wkb.KIND_OTHER
    if g.type_id == wkb.POINT:
        return wkb.KIND_POINT
    if g.type_id == wkb.POLYGON and len(g.coords) == 1 and len(g.coords[0]) == 5:
        ring = g.coords[0]
        xs, ys = set(ring[:4, 0].tolist()), set(ring[:4, 1].tolist())
        edges_ok = all(ring[i + 1, 0] == ring[i, 0] or ring[i + 1, 1] == ring[i, 1]
                       for i in range(4))
        if (ring[0, :2] == ring[4, :2]).all() and len(xs) == len(ys) == 2 and edges_ok:
            return wkb.KIND_RECT
    if g.type_id in (wkb.POLYGON, wkb.MULTIPOLYGON):
        return wkb.KIND_AREAL
    return wkb.KIND_OTHER


def test_shape_kinds_matches_parse_reference():
    nan = float("nan")

    def be(*xy):
        return b"\x00" + struct.pack(">I", 1) + struct.pack(">%dd" % len(xy), *xy)

    def ewkb(flags, *xy, srid=None):
        head = struct.pack("<I", 1 | flags) + (struct.pack("<I", srid) if srid else b"")
        return b"\x01" + head + struct.pack("<%dd" % len(xy), *xy)

    box = wkb.encode(wkb.box(0, 0, 2, 1))
    bufs = [
        None,
        wkb.encode(wkb.point(1, 2)),                      # LE XY
        be(3.0, 4.0),                                     # big-endian
        ewkb(0x20000000, 1.0, 2.0, srid=4326),            # EWKB SRID
        ewkb(0x80000000, 1.0, 2.0, 3.0),                  # EWKB Z
        ewkb(0x40000000 | 0x20000000, 1.0, 2.0, 5.0, srid=3857),  # EWKB M + SRID
        wkb.encode(wkb.from_wkt("POINT ZM (1 2 3 4)")),   # ISO ZM
        wkb.encode(wkb.from_wkt("POINT EMPTY")),          # EMPTY, LE
        be(nan, nan),                                     # EMPTY, BE
        ewkb(0x20000000, nan, nan, srid=4326),            # EMPTY, EWKB
        box,
        bytearray(box),                                   # Spark hands bytearray
        wkb.encode(wkb.box(5, 5, 5, 6)),                  # zero-width: not a rect
        wkb.encode(wkb.from_wkt("POLYGON ((0 0, 2 0, 2 1, 1 2, 0 0))")),
        wkb.encode(wkb.from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))")),
        wkb.encode(wkb.from_wkt("POLYGON EMPTY")),
        wkb.encode(wkb.from_wkt(
            "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))")),
        wkb.encode(wkb.from_wkt("LINESTRING (0 0, 1 1)")),
        wkb.encode(wkb.from_wkt("MULTIPOINT ((1 1), (2 2))")),
        wkb.encode(wkb.from_wkt("GEOMETRYCOLLECTION (POINT (1 1))")),
        box[:60],                                         # truncated polygon body
        wkb.encode(wkb.point(1, 2))[:15],                 # truncated point
        b"\x01\x03",                                      # truncated header
        b"\x01" + struct.pack("<I", 99) + b"\x00" * 16,   # unknown type
        b"garbage, not wkb at all",
        b"",
    ]
    got = wkb.shape_kinds(bufs)
    assert got.dtype == np.int8
    want = [_kind_by_parse(b) for b in bufs]
    assert got.tolist() == want
    # the reference really covers every class, EMPTY points included
    assert want[:10] == [wkb.KIND_NULL] + [wkb.KIND_POINT] * 9
    assert want[10:14] == [wkb.KIND_RECT, wkb.KIND_RECT, wkb.KIND_AREAL, wkb.KIND_AREAL]
    assert set(want[17:]) == {wkb.KIND_OTHER}


def _decode_points_loop(bufs):
    """The per-row point decoder ``decode_points_xy`` replaced: the
    reference for its ``(x, y, valid)`` contract."""
    n = len(bufs)
    x, y, valid = np.full(n, np.nan), np.full(n, np.nan), np.zeros(n, dtype=bool)
    for i, b in enumerate(bufs):
        if b is None:
            continue
        b = bytes(b)
        if len(b) == 21 and b[:5] == b"\x01\x01\x00\x00\x00":
            x[i], y[i] = struct.unpack("<dd", b[5:])
            valid[i] = True
            continue
        g = wkb.parse(b)
        if g.type_id == wkb.POINT and len(g.coords):
            x[i], y[i], valid[i] = g.coords[0, 0], g.coords[0, 1], True
    return x, y, valid


def test_decode_points_xy_matches_loop_reference():
    import pyarrow as pa

    nan = float("nan")

    def be(*xy):
        return b"\x00" + struct.pack(">I", 1) + struct.pack(">%dd" % len(xy), *xy)

    def ewkb(flags, *xy, srid=None):
        head = struct.pack("<I", 1 | flags) + (struct.pack("<I", srid) if srid else b"")
        return b"\x01" + head + struct.pack("<%dd" % len(xy), *xy)

    rng = np.random.default_rng(4)
    bufs = [bytes(b) for b in wkb.encode_points_xy(rng.uniform(-9, 9, 7), rng.uniform(-9, 9, 7))]
    bufs[2:2] = [
        None,
        wkb.encode(wkb.from_wkt("POINT EMPTY")),          # LE EMPTY: valid, NaN
        be(3.0, 4.0), be(nan, nan),                       # BE and its EMPTY
        ewkb(0x20000000, 1.0, 2.0, srid=4326),            # EWKB SRID
        ewkb(0x20000000, nan, nan, srid=4326),            # EWKB EMPTY
        ewkb(0x80000000, 1.0, 2.0, 3.0),                  # EWKB Z
        wkb.encode(wkb.from_wkt("POINT Z (5 6 7)")),      # ISO Z, M and ZM
        wkb.encode(wkb.from_wkt("POINT M (5 6 8)")),
        wkb.encode(wkb.from_wkt("POINT ZM (1 2 3 4)")),
        b"\x00" + struct.pack(">I", 2) + struct.pack(">I", 0) + b"\x00" * 12,  # 21 B, BE LINESTRING EMPTY
        b"\x01" + struct.pack("<I", 2) + struct.pack("<I", 0) + b"\x00" * 12,  # 21 B, LE, not a point
        bytearray(wkb.encode(wkb.point(-1.5, 2.5))),      # Spark hands bytearray
        wkb.encode(wkb.box(0, 0, 2, 1)),
        wkb.encode(wkb.from_wkt("POLYGON ((0 0, 2 0, 2 1, 1 2, 0 0))")),
        wkb.encode(wkb.from_wkt("MULTIPOINT ((1 1), (2 2))")),
    ]
    want = _decode_points_loop(bufs)
    assert want[2].sum() == 15 and np.isnan(want[0][3])  # 8 LE rows, 7 other points

    def same(got, ref):
        for g, w in zip(got, ref):
            np.testing.assert_array_equal(g, w)

    arr = pa.array(bufs, pa.binary())
    same(wkb.decode_points_xy(bufs), want)
    same(wkb.decode_points_xy(np.array(bufs, dtype=object)), want)
    same(wkb.decode_points_xy(arr), want)
    same(wkb.decode_points_xy(arr.cast(pa.large_binary())), want)
    for lo, hi in ((3, 20), (1, 2), (9, 9), (0, len(bufs))):  # sliced: non-zero offset
        same(wkb.decode_points_xy(arr.slice(lo, hi - lo)), _decode_points_loop(bufs[lo:hi]))
    # LE points back to back in the data buffer are read by a plain view
    pts = wkb.encode_points_xy(np.arange(5.0), -np.arange(5.0))
    same(wkb.decode_points_xy(pa.array(pts, pa.binary()).slice(1, 3)),
         _decode_points_loop(list(pts[1:4])))
