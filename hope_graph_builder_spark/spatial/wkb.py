"""Minimal WKB (well-known binary) codec, numpy-vectorized.

The engine's geometry interchange format is WKB in a BinaryType column
(SURVEY.md §1.1) — the public OGC format, so any consumer (GeoPandas,
PostGIS, Sedona) can read our outputs. Shapely is not available in this
sandbox, so encode/decode is implemented directly from the OGC spec.
Only the shapes the reference uses: Point, LineString, Polygon (outer
ring only — reference polygons are exploded to single parts first,
`/root/reference/src/noise_data_preprocessing/noise_data_preprocessing.py:26-41`).

Hot paths do NOT round-trip WKB per row; they carry plain double
columns (x, y / x1..y2) or coordinate arrays. WKB is for I/O edges and
for general-polygon kernels; the point-in-polygon join decodes each
polygon once into vertex arrays (``ring_vertex_lists``).
"""

from __future__ import annotations

import struct

import numpy as np

_LE = 1
WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6

_POINT_HEAD = struct.pack("<BI", _LE, WKB_POINT)


def points_to_wkb(x: np.ndarray, y: np.ndarray) -> list[bytes]:
    """Vectorized: build all 21-byte point buffers in one structured array."""
    n = len(x)
    arr = np.empty(n, dtype=np.dtype([("h", "V5"), ("x", "<f8"), ("y", "<f8")]))
    arr["h"] = np.frombuffer(_POINT_HEAD, dtype="V5")[0]
    arr["x"] = x
    arr["y"] = y
    raw = arr.tobytes()
    return [raw[i * 21 : (i + 1) * 21] for i in range(n)]


def _bo(buf: bytes, offset: int = 0) -> str:
    """Endianness prefix of the record at ``offset``: '<' (NDR) or '>'
    (XDR). Every decoder honors the per-record flag — real-world WKB
    interchange carries both orders (OGC 06-103r4 §8; PostGIS emits
    either). Encoders stay NDR (spec-legal, and the only order the
    vectorized fast paths write)."""
    b = buf[offset]
    if b == 1:
        return "<"
    if b == 0:
        return ">"
    raise ValueError(f"bad WKB byte-order flag {b}")


def point_from_wkb(buf: bytes) -> tuple[float, float]:
    e = _bo(buf)
    return struct.unpack_from(f"{e}dd", buf, 5)


def points_from_wkb(bufs) -> tuple[np.ndarray, np.ndarray]:
    bufs = list(bufs)
    if all(b[0] == _LE for b in bufs):  # vectorized NDR fast path
        raw = b"".join(bufs)
        arr = np.frombuffer(raw, dtype=np.dtype([("h", "V5"), ("x", "<f8"), ("y", "<f8")]))
        return arr["x"].copy(), arr["y"].copy()
    pts = np.array([point_from_wkb(b) for b in bufs], dtype=np.float64)
    return pts[:, 0].copy(), pts[:, 1].copy()


def linestring_to_wkb(coords: np.ndarray) -> bytes:
    """coords: (n, 2) float64."""
    head = struct.pack("<BII", _LE, WKB_LINESTRING, coords.shape[0])
    return head + np.ascontiguousarray(coords, dtype="<f8").tobytes()


def linestring_from_wkb(buf: bytes) -> np.ndarray:
    e = _bo(buf)
    (n,) = struct.unpack_from(f"{e}I", buf, 5)
    a = np.frombuffer(buf, dtype=f"{e}f8", count=2 * n, offset=9).reshape(n, 2)
    return a.astype(np.float64, copy=False) if e == "<" else a.astype(np.float64)


def multilinestring_to_wkb(parts: list[np.ndarray]) -> bytes:
    """MultiLineString: parts = list of (n, 2) arrays. OGC type 5."""
    head = struct.pack("<BII", _LE, WKB_MULTILINESTRING, len(parts))
    return head + b"".join(linestring_to_wkb(p) for p in parts)


def multilinestring_from_wkb(buf: bytes) -> list[np.ndarray]:
    """LineString rides through as a single part."""
    t = wkb_type(buf)
    if t == WKB_LINESTRING:
        return [linestring_from_wkb(buf)]
    assert t == WKB_MULTILINESTRING, t
    e = _bo(buf)
    (nparts,) = struct.unpack_from(f"{e}I", buf, 5)
    out, off = [], 9
    for _ in range(nparts):
        ei = _bo(buf, off)
        (n,) = struct.unpack_from(f"{ei}I", buf, off + 5)
        a = np.frombuffer(buf, f"{ei}f8", 2 * n, off + 9).reshape(n, 2)
        out.append(a.astype(np.float64) if ei == ">" else a)
        off += 9 + 16 * n
    return out


def polygon_to_wkb(ring: np.ndarray) -> bytes:
    """ring: (n, 2); closed automatically if first != last."""
    if not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    head = struct.pack("<BIII", _LE, WKB_POLYGON, 1, ring.shape[0])
    return head + np.ascontiguousarray(ring, dtype="<f8").tobytes()


def polygon_from_wkb(buf: bytes) -> np.ndarray:
    """Returns the outer ring (n, 2), closed."""
    e = _bo(buf)
    (nrings,) = struct.unpack_from(f"{e}I", buf, 5)
    assert nrings >= 1
    (n,) = struct.unpack_from(f"{e}I", buf, 9)
    a = np.frombuffer(buf, dtype=f"{e}f8", count=2 * n, offset=13).reshape(n, 2)
    return a.astype(np.float64) if e == ">" else a


def polygon_to_wkb_rings(rings: list[np.ndarray]) -> bytes:
    """Polygon with holes: rings[0] = outer, rings[1:] = holes."""
    closed = []
    for r in rings:
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        closed.append(np.ascontiguousarray(r, dtype="<f8"))
    head = struct.pack("<BII", _LE, WKB_POLYGON, len(closed))
    body = b"".join(
        struct.pack("<I", r.shape[0]) + r.tobytes() for r in closed
    )
    return head + body


def multipolygon_to_wkb(parts: list[list[np.ndarray]]) -> bytes:
    """MultiPolygon: parts = list of polygons, each a list of rings
    (outer first). OGC type 6, little-endian."""
    head = struct.pack("<BII", _LE, WKB_MULTIPOLYGON, len(parts))
    return head + b"".join(polygon_to_wkb_rings(rings) for rings in parts)


def polygon_rings_from_wkb(buf: bytes, offset: int = 0) -> tuple[list[np.ndarray], int]:
    """All rings of one polygon record; returns (rings, next offset)."""
    e = _bo(buf, offset)
    (t,) = struct.unpack_from(f"{e}I", buf, offset + 1)
    if t != WKB_POLYGON:
        raise ValueError(f"expected a WKB Polygon record, got type {t}")
    (nrings,) = struct.unpack_from(f"{e}I", buf, offset + 5)
    p = offset + 9
    rings = []
    for _ in range(nrings):
        (n,) = struct.unpack_from(f"{e}I", buf, p)
        a = np.frombuffer(buf, f"{e}f8", 2 * n, p + 4).reshape(n, 2)
        rings.append(a.astype(np.float64) if e == ">" else a)
        p += 4 + 16 * n
    return rings, p


def multipolygon_from_wkb(buf: bytes) -> list[list[np.ndarray]]:
    """F9 decode (reference noise_data_preprocessing.py:26-41 explodes
    multi→single parts): list of polygons, each a list of rings."""
    t = wkb_type(buf)
    if t == WKB_POLYGON:  # single part rides through unchanged
        rings, _ = polygon_rings_from_wkb(buf)
        return [rings]
    if t != WKB_MULTIPOLYGON:
        raise ValueError(f"expected a WKB Polygon or MultiPolygon, got type {t}")
    e = _bo(buf)
    (nparts,) = struct.unpack_from(f"{e}I", buf, 5)
    out, off = [], 9
    for _ in range(nparts):
        rings, off = polygon_rings_from_wkb(buf, off)
        out.append(rings)
    return out


def ring_vertex_lists(bufs) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Polygon/MultiPolygon WKB values → the flat layout of a pair of
    ``array<double>`` columns: (offsets, xs, ys, valid), where value i
    owns slots ``offsets[i]:offsets[i + 1]``.

    All rings of all parts (outers and holes) are closed — the first
    vertex is appended when the record leaves the ring open — and laid
    end to end with ONE invalid slot between consecutive rings, so a
    consecutive-slot edge never spans two rings. A ring of fewer than
    two vertices has no edge and is left out; a None or ring-less value
    owns no slot. Closing and layout are whole-array numpy steps."""
    coords, counts, owner = [], [], []
    for i, b in enumerate(bufs):
        if b is None:
            continue
        for part in multipolygon_from_wkb(b):
            for r in part:
                if len(r) >= 2:
                    coords.append(r.ravel())
                    counts.append(len(r))
                    owner.append(i)
    n = np.array(counts, dtype=np.int64)
    owner = np.array(owner, dtype=np.int64)
    xy = np.concatenate(coords).astype(np.float64) if coords else np.zeros(0)
    x, y = xy[0::2], xy[1::2]
    # output slots per ring: [separator] + its vertices + [closing vertex]
    v0 = np.cumsum(n) - n
    v1 = v0 + n - 1
    is_open = (x[v0] != x[v1]) | (y[v0] != y[v1])
    sep = np.concatenate([[False], owner[1:] == owner[:-1]]) if len(n) else np.zeros(0, bool)
    width = sep + n + is_open
    at = np.cumsum(width) - width + sep
    xs = np.zeros(int(width.sum()))
    ys = np.zeros(len(xs))
    valid = np.zeros(len(xs), dtype=bool)
    dst = np.repeat(at - v0, n) + np.arange(len(x))
    xs[dst], ys[dst], valid[dst] = x, y, True
    close = at[is_open] + n[is_open]
    xs[close], ys[close], valid[close] = x[v0[is_open]], y[v0[is_open]], True
    per_value = np.bincount(owner, weights=width, minlength=len(bufs)).astype(np.int64)
    return np.concatenate([[0], np.cumsum(per_value)]), xs, ys, valid


def rect_to_wkb(minx: float, miny: float, maxx: float, maxy: float) -> bytes:
    ring = np.array(
        [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]]
    )
    return polygon_to_wkb(ring)


def wkb_type(buf: bytes) -> int:
    return struct.unpack_from(f"{_bo(buf)}I", buf, 1)[0]
