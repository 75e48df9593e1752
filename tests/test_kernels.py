"""Pure-numpy kernel tests (no Spark) — mirror the reference's
unit-formula tests (noise_graph_join_test.py:24-31,62-69)."""

import numpy as np

from hope_graph_builder_spark.spatial import cells
from hope_graph_builder_spark.spatial.kernels import (
    clip_polygon_convex,
    point_segment_dist2,
    points_in_ring,
    polyline_interpolate,
    polyline_length,
    ring_points,
    shoelace_area,
)
from hope_graph_builder_spark.spatial import wkb


def test_cell_roundtrip():
    x = np.array([0.0, 255.9, 256.0, 100000.0])
    y = np.array([0.0, 10.0, 300.0, 99999.9])
    c = cells.cells_of_points_np(x, y, 9)
    res, ix, iy = cells.unpack_cell_np(c)
    assert (res == 9).all()
    assert (ix == np.floor(x / 256.0)).all()
    assert (iy == np.floor(y / 256.0)).all()


def test_cover_contains_point_cell():
    c = cells.cover_bbox_np(100.0, 100.0, 900.0, 400.0, 9)
    pc = cells.cells_of_points_np(np.array([512.0]), np.array([200.0]), 9)
    assert pc[0] in set(c.tolist())
    # bbox spans ix 0..3, iy 0..1 → 8 cells
    assert len(c) == 8


def test_pip_square():
    ring = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    px = np.array([5.0, 15.0, -1.0, 9.999])
    py = np.array([5.0, 5.0, 5.0, 9.999])
    assert points_in_ring(px, py, ring).tolist() == [True, False, False, True]


def test_pip_concave():
    # L-shape: point in the notch must be outside
    ring = np.array([[0, 0], [10, 0], [10, 4], [4, 4], [4, 10], [0, 10], [0, 0]], dtype=float)
    px = np.array([2.0, 8.0, 8.0])
    py = np.array([2.0, 2.0, 8.0])
    assert points_in_ring(px, py, ring).tolist() == [True, True, False]


def test_point_segment_dist():
    d2 = point_segment_dist2(
        np.array([5.0, -1.0, 11.0]),
        np.array([3.0, 0.0, 0.0]),
        np.zeros(3), np.zeros(3), np.full(3, 10.0), np.zeros(3),
    )
    assert np.allclose(d2, [9.0, 1.0, 1.0])


def test_ring_points_reference_invariants():
    """Reference: 20 points, each at distance 7 from center
    (noise_graph_join_test.py:62-69 asserts dist within tolerance)."""
    pts = ring_points(100.0, 50.0, 7.0, 20)
    assert pts.shape == (20, 2)
    d = np.sqrt((pts[:, 0] - 100.0) ** 2 + (pts[:, 1] - 50.0) ** 2)
    assert np.allclose(d, 7.0)


def test_polyline_interpolate_on_line():
    """Every sample point lies on its edge (reference
    noise_graph_join_test.py:43-48)."""
    coords = np.array([[0.0, 0.0], [3.0, 4.0], [6.0, 8.0]])
    fr = np.array([0.1, 0.5, 0.9])
    pts = polyline_interpolate(coords, fr)
    # all points on the straight line y = 4/3 x
    assert np.allclose(pts[:, 1], pts[:, 0] * 4.0 / 3.0)
    assert polyline_length(coords) == 10.0


def test_clip_and_area():
    subject = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
    clip = np.array([[2, -1], [6, -1], [6, 5], [2, 5]], dtype=float)
    out = clip_polygon_convex(subject, clip)
    assert np.isclose(shoelace_area(out), 8.0)  # 2x4 strip


def test_wkb_roundtrip():
    xs = np.array([1.5, -2.0])
    ys = np.array([3.25, 4.0])
    bufs = wkb.points_to_wkb(xs, ys)
    x2, y2 = wkb.points_from_wkb(bufs)
    assert (x2 == xs).all() and (y2 == ys).all()
    ring = np.array([[0, 0], [1, 0], [1, 1], [0, 1]], dtype=float)
    buf = wkb.polygon_to_wkb(ring)
    out = wkb.polygon_from_wkb(buf)
    assert out.shape == (5, 2) and (out[0] == out[-1]).all()
    ls = wkb.linestring_to_wkb(ring)
    assert (wkb.linestring_from_wkb(ls) == ring).all()


def test_points_in_rings_even_odd():
    import numpy as np

    from hope_graph_builder_spark.spatial.kernels import points_in_rings

    outer = np.array([[0.0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])
    hole = np.array([[4.0, 4], [6, 4], [6, 6], [4, 6], [4, 4]])
    px = np.array([5.0, 2.0, 11.0, 4.5])
    py = np.array([5.0, 2.0, 5.0, 4.5])
    # in-hole → out, in-ring → in, outside → out, in-hole → out
    got = points_in_rings(px, py, [outer, hole])
    assert got.tolist() == [False, True, False, False]
    # two overlapping outers cancel even-odd in the overlap
    outer2 = np.array([[5.0, 0], [15, 0], [15, 10], [5, 10], [5, 0]])
    got2 = points_in_rings(np.array([7.0, 2.0, 12.0]), np.array([5.0, 5.0, 5.0]),
                           [outer, outer2])
    assert got2.tolist() == [False, True, True]


def test_rect_union_parts_disjoint_exact_cover():
    import numpy as np

    from hope_graph_builder_spark.spatial.kernels import (
        rect_union_area,
        rect_union_parts,
    )

    rng = np.random.RandomState(7)
    for trial in range(25):
        n = rng.randint(1, 12)
        x0 = rng.uniform(0, 100, n); y0 = rng.uniform(0, 100, n)
        rects = np.column_stack([x0, y0, x0 + rng.uniform(1, 40, n),
                                 y0 + rng.uniform(1, 40, n)])
        parts = rect_union_parts(rects)
        areas = (parts[:, 2] - parts[:, 0]) * (parts[:, 3] - parts[:, 1])
        assert abs(areas.sum() - rect_union_area(rects)) < 1e-6
        # pairwise disjoint (open-interval overlap test)
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                a, b = parts[i], parts[j]
                assert not (a[0] < b[2] and b[0] < a[2]
                            and a[1] < b[3] and b[1] < a[3])
        # random probes: in-union iff in-some-part
        px = rng.uniform(-5, 150, 200); py = rng.uniform(-5, 150, 200)
        in_union = np.zeros(200, dtype=bool)
        for r in rects:
            in_union |= (px >= r[0]) & (px < r[2]) & (py >= r[1]) & (py < r[3])
        in_parts = np.zeros(200, dtype=bool)
        for p in parts:
            in_parts |= (px >= p[0]) & (px < p[2]) & (py >= p[1]) & (py < p[3])
        assert (in_union == in_parts).all()


def test_ring_clip_area_concave_exact():
    """General clip kernel vs hand-computed concave cases."""
    from hope_graph_builder_spark.spatial.kernels import clip_area_rings, ring_clip_area

    L = np.array([[0, 0], [60, 0], [60, 20], [20, 20], [20, 60], [0, 60]], float)
    full = np.array([[-10, -10], [100, -10], [100, 100], [-10, 100]], float)
    assert ring_clip_area(L, full) == 2000.0
    win = np.array([[10, 10], [50, 10], [50, 50], [10, 50]], float)
    # horizontal arm x∈[10,50] y∈[10,20] = 400; vertical arm x∈[10,20] y∈[20,50] = 300
    assert abs(ring_clip_area(L, win) - 700.0) < 1e-9
    # orientation invariance
    assert abs(ring_clip_area(L[::-1], win) - 700.0) < 1e-9
    # donut: outer 100² with 20² hole, window 40×40 centered → 1600−400
    outer = np.array([[0, 0], [100, 0], [100, 100], [0, 100]], float)
    hole = np.array([[40, 40], [60, 40], [60, 60], [40, 60]], float)
    win2 = np.array([[30, 30], [70, 30], [70, 70], [30, 70]], float)
    assert abs(clip_area_rings([[outer, hole]], win2) - 1200.0) < 1e-9
    # multipart: two disjoint squares, window covers half of each
    sq1 = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
    sq2 = np.array([[20, 0], [30, 0], [30, 10], [20, 10]], float)
    win3 = np.array([[5, 0], [25, 0], [25, 10], [5, 10]], float)
    assert abs(clip_area_rings([[sq1], [sq2]], win3) - 100.0) < 1e-9


def test_ring_clip_area_vs_grid_integration():
    """Random star-shaped concave rings vs brute-force grid sampling —
    the independence check the closed-form oracle can't give for
    non-rectilinear shapes."""
    from hope_graph_builder_spark.spatial.kernels import points_in_ring, ring_clip_area

    rng = np.random.RandomState(7)
    for trial in range(3):
        ang = np.sort(rng.uniform(0, 2 * np.pi, 15 + trial * 4))
        rad = rng.uniform(10, 50, len(ang))
        star = np.column_stack([50 + rad * np.cos(ang), 50 + rad * np.sin(ang)])
        win = np.array([[20, 20], [80, 20], [80, 65], [20, 65]], float)
        exact = ring_clip_area(star, win)
        n = 900
        gx, gy = np.meshgrid(
            np.linspace(20, 80, n, endpoint=False) + 30 / n,
            np.linspace(20, 65, n, endpoint=False) + 22.5 / n,
        )
        approx = points_in_ring(gx.ravel(), gy.ravel(), star).mean() * 60 * 45
        assert abs(exact - approx) / max(approx, 1.0) < 5e-3


def test_poly_union_trapezoids_rect_parity_and_disjoint():
    """Trapezoid-sweep union == rect coordinate-compression union on
    rectangles; parts pairwise disjoint; concave+hole vs grid."""
    from hope_graph_builder_spark.spatial.kernels import (
        points_in_rings,
        poly_union_area,
        poly_union_trapezoids,
        rect_union_area,
        trapezoid_areas,
    )

    rng = np.random.RandomState(11)
    rects = np.column_stack([
        rng.uniform(0, 80, 12), rng.uniform(0, 80, 12),
        np.zeros(12), np.zeros(12),
    ])
    rects[:, 2] = rects[:, 0] + rng.uniform(10, 40, 12)
    rects[:, 3] = rects[:, 1] + rng.uniform(10, 40, 12)
    polys = [
        [np.array([[a, b], [c, b], [c, d], [a, d]])] for a, b, c, d in rects
    ]
    assert abs(poly_union_area(polys) - rect_union_area(rects)) < 1e-6

    # concave + hole + multipart union vs brute-force grid
    L1 = np.array([[0, 0], [60, 0], [60, 20], [20, 20], [20, 60], [0, 60]], float)
    hole = np.array([[5, 30], [15, 30], [15, 50], [5, 50]], float)
    ang = np.sort(rng.uniform(0, 2 * np.pi, 14))
    rad = rng.uniform(10, 35, 14)
    star = np.column_stack([40 + rad * np.cos(ang), 35 + rad * np.sin(ang)])
    group = [[L1, hole], [star]]
    exact = poly_union_area(group)
    n = 1200
    gx, gy = np.meshgrid(
        np.linspace(-5, 80, n, endpoint=False), np.linspace(-5, 75, n, endpoint=False)
    )
    cov = points_in_rings(gx.ravel(), gy.ravel(), [L1, hole]) | points_in_rings(
        gx.ravel(), gy.ravel(), [star]
    )
    approx = cov.mean() * 85 * 80
    assert abs(exact - approx) / approx < 5e-3

    # disjointness: random points counted in ≤1 trapezoid; coverage == union
    traps = poly_union_trapezoids(group)
    assert abs(trapezoid_areas(traps).sum() - exact) < 1e-9
    pts = np.column_stack([rng.uniform(-5, 80, 4000), rng.uniform(-5, 75, 4000)])
    counts = np.zeros(len(pts), dtype=int)
    for x0, x1, yb0, yb1, yt0, yt1 in traps:
        inx = (pts[:, 0] > x0) & (pts[:, 0] < x1)
        fr = np.where(inx, (pts[:, 0] - x0) / (x1 - x0), 0.0)
        yb = yb0 + fr * (yb1 - yb0)
        yt = yt0 + fr * (yt1 - yt0)
        counts += (inx & (pts[:, 1] > yb) & (pts[:, 1] < yt)).astype(int)
    assert counts.max() <= 1


def test_ring_vertex_lists_layout():
    """Vertex-array layout of the WKB point-in-polygon refine: rings
    closed, one invalid slot between rings, rings without an
    edge and None values own no slot, XDR read in its own order."""
    import struct

    sq = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], float)  # open
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 1]], float)  # closed
    xdr = struct.pack(">BIII", 0, 3, 1, 3) + np.array([[9, 9], [8, 9], [9, 8]], ">f8").tobytes()
    dot = struct.pack("<BIII", 1, 3, 1, 1) + np.array([[5.0, 5.0]], "<f8").tobytes()
    offsets, xs, ys, valid = wkb.ring_vertex_lists(
        [wkb.multipolygon_to_wkb([[sq, hole]]), None, xdr, dot]
    )
    np.testing.assert_array_equal(offsets, [0, 10, 10, 14, 14])
    np.testing.assert_array_equal(valid, [True] * 5 + [False] + [True] * 8)
    np.testing.assert_array_equal(xs[valid], [0, 4, 4, 0, 0, 1, 2, 2, 1, 9, 8, 9, 9])
    np.testing.assert_array_equal(ys[valid], [0, 0, 4, 4, 0, 1, 1, 2, 1, 9, 9, 8, 9])


def test_wkb_big_endian_decode():
    """Every decoder honors the per-record XDR flag (OGC 06-103r4 §8):
    byte-swapped buffers decode to the same geometry, including mixed
    orders inside one MultiPolygon, and the native Column type filter
    reads the right byte."""
    import struct

    def swap_point(x, y):
        return struct.pack(">BIdd", 0, 1, x, y)

    def swap_linestring(coords):
        out = struct.pack(">BII", 0, 2, len(coords))
        for x, y in coords:
            out += struct.pack(">dd", x, y)
        return out

    def swap_polygon(rings):
        out = struct.pack(">BII", 0, 3, len(rings))
        for r in rings:
            out += struct.pack(">I", len(r))
            for x, y in r:
                out += struct.pack(">dd", x, y)
        return out

    assert wkb.point_from_wkb(swap_point(3.5, -7.25)) == (3.5, -7.25)
    x, y = wkb.points_from_wkb([swap_point(1.0, 2.0), wkb.points_to_wkb(
        np.array([5.0]), np.array([6.0]))[0]])
    np.testing.assert_array_equal(x, [1.0, 5.0])
    np.testing.assert_array_equal(y, [2.0, 6.0])

    coords = [(0.0, 0.0), (10.5, 2.0), (20.0, -3.0)]
    np.testing.assert_array_equal(
        wkb.linestring_from_wkb(swap_linestring(coords)), coords
    )
    ring = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)]
    hole = [(2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0), (2.0, 2.0)]
    got = wkb.polygon_rings_from_wkb(swap_polygon([ring, hole]))[0]
    np.testing.assert_array_equal(got[0], ring)
    np.testing.assert_array_equal(got[1], hole)
    assert wkb.wkb_type(swap_polygon([ring])) == wkb.WKB_POLYGON

    # mixed-order multipolygon: XDR outer header, NDR + XDR parts
    mp = struct.pack(">BII", 0, 6, 2)
    mp += wkb.polygon_to_wkb_rings([np.array(ring, float)])
    mp += swap_polygon([hole])
    parts = wkb.multipolygon_from_wkb(mp)
    assert len(parts) == 2
    np.testing.assert_array_equal(parts[0][0], ring)
    np.testing.assert_array_equal(parts[1][0], hole)


def test_wkb_type_expr_big_endian(spark):
    from pyspark.sql import functions as F

    from hope_graph_builder_spark.pipelines.graph_export import wkb_type_expr
    import struct

    ndr = wkb.rect_to_wkb(0, 0, 1, 1)
    xdr = struct.pack(">BII", 0, 3, 1) + struct.pack(">I", 5) + b"\x00" * 80
    df = spark.createDataFrame(
        [(1, bytearray(ndr)), (2, bytearray(xdr))], "i long, geom binary"
    )
    got = {r.i: r.t for r in df.select("i", wkb_type_expr(F.col("geom")).alias("t")).collect()}
    assert got == {1: wkb.WKB_POLYGON, 2: wkb.WKB_POLYGON}


def test_capsule_kernel_closed_forms_and_grid():
    from hope_graph_builder_spark.spatial.kernels import (
        capsule_area_rings,
        capsule_ring_area,
        point_segment_dist2,
        points_in_rings,
    )

    r = 30.0
    big = np.array([[-1000, -1000], [1000, -1000], [1000, 1000], [-1000, 1000]], float)
    assert abs(capsule_ring_area(big, 0, 0, 100, 0, r) - (100 * 60 + np.pi * 900)) < 1e-9
    # degenerate segment → full disk
    assert abs(capsule_ring_area(big, 5, 5, 5, 5, r) - np.pi * 900) < 1e-9
    # half-plane cut through the middle
    half = np.array([[0, -1000], [1000, -1000], [1000, 1000], [0, 1000]], float)
    assert abs(capsule_ring_area(half, -50, 0, 50, 0, r) - (50 * 60 + np.pi * 450)) < 1e-9

    # slanted capsule × concave star with a hole, vs grid integration
    rng = np.random.RandomState(3)
    ang = np.sort(rng.uniform(0, 2 * np.pi, 15))
    rad = rng.uniform(30, 90, 15)
    star = np.column_stack([50 + rad * np.cos(ang), 40 + rad * np.sin(ang)])
    hole = np.array([[30, 20], [60, 20], [60, 50], [30, 50]], float)
    x1, y1, x2, y2 = -20.0, -10.0, 120.0, 70.0
    exact = capsule_area_rings([[star, hole]], x1, y1, x2, y2, r)
    n = 1500
    gx, gy = np.meshgrid(
        np.linspace(-80, 180, n, endpoint=False), np.linspace(-80, 160, n, endpoint=False)
    )
    px, py = gx.ravel(), gy.ravel()
    ins = points_in_rings(px, py, [star, hole])
    d2 = point_segment_dist2(
        px, py, np.full_like(px, x1), np.full_like(px, y1),
        np.full_like(px, x2), np.full_like(px, y2),
    )
    approx = (ins & (d2 <= r * r)).mean() * 260 * 240
    assert abs(exact - approx) / approx < 2e-3
