"""The refinement paths must agree with each other and with the numpy
kernels: the WKB point-in-polygon refine (native predicate over vertex
arrays and their edge strips, decoded by an Arrow UDF) with the rect
path and with kernels.points_in_rings, the pandas-UDF overlay paths
with the native ones on shapes both can express (rectangles) — plus
CRS/WKT codecs."""

import os
import struct
import subprocess
import sys
import textwrap

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hope_graph_builder_spark import synth
from hope_graph_builder_spark.operators.spatial_join import (
    _edge_strips,
    pip_join_rect,
    pip_join_wkb,
    with_point_cell,
)
from hope_graph_builder_spark.pipelines.overlay import (
    overlay_share_convex,
    overlay_share_rect,
)
from hope_graph_builder_spark.spatial import crs, wkb
from hope_graph_builder_spark.spatial.kernels import points_in_rings
from hope_graph_builder_spark.spatial.wkt import (
    format_linestring_np,
    format_point_expr,
    parse_linestring_np,
    parse_point_expr,
)

from tests.conftest import SF_TINY


def _layers_with_wkb(spark):
    pdf = synth._layer_grid_np()
    pdf["geom"] = [
        wkb.rect_to_wkb(a, b, c, d)
        for a, b, c, d in zip(pdf.minx, pdf.miny, pdf.maxx, pdf.maxy)
    ]
    return spark.createDataFrame(pdf)


def test_pip_wkb_matches_rect_path(spark):
    """General-ring ray-cast refine == native rect refine on the same
    rectangles (boundary convention differs only on exact edges, which
    the 0.1m-grid points never hit)."""
    pts = synth.page_points(spark, SF_TINY).select("doc_id", "x", "y")
    layers = _layers_with_wkb(spark)
    a = (
        pip_join_rect(pts, layers.drop("geom"), res=7, how="inner", point_id="doc_id")
        .select("doc_id", "poly_id")
    )
    b = pip_join_wkb(pts, layers, res=7, point_id="doc_id").select("doc_id", "poly_id")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_pip_wkb_plans_as_first_query_of_a_session():
    """``test_pip_wkb_matches_rect_path`` as the FIRST query of a fresh
    Spark session, in a child process. Spark 4.1 can push an
    unresolvable filter onto the polygon side of this join
    (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) only in that position: an
    every-edge ``aggregate(...) % 2 = 1`` predicate fails here and
    passes after other queries of the same session."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = textwrap.dedent("""
        from hope_graph_builder_spark.session import get_spark
        from tests.test_udf_paths import test_pip_wkb_matches_rect_path
        spark = get_spark(app="first-query", cpus=2)
        test_pip_wkb_matches_rect_path(spark)
        spark.stop()
    """)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    r = subprocess.run([sys.executable, "-c", code], cwd=root, env=env,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-4000:]


def _xdr_polygon(rings):
    out = struct.pack(">BII", 0, 3, len(rings))
    for r in rings:
        out += struct.pack(">I", len(r)) + np.asarray(r, ">f8").tobytes()
    return out


def _star(cx, cy, n, r0, r1):
    """Concave n-vertex star around (cx, cy), vertices on the 0.5 grid
    of the fixture points; radius alternates between r0 and r1."""
    t = np.arange(n) * 2 * np.pi / n
    r = np.where(np.arange(n) % 2 == 0, r0, r1)
    return np.round(np.c_[cx + r * np.cos(t), cy + r * np.sin(t)] * 2) / 2


def _pip_fixture():
    """Polygons that exercise every layout the vertex arrays carry, and
    points on their vertices, on their horizontal, vertical and slanted
    edges, in the hole, in the overlap of two parts and around them.
    Polygons 6 and 7 have enough edges to be split into strips; points
    also sit on their strip boundaries."""
    sq = np.array([[1000, 1000], [1010, 1000], [1010, 1010], [1000, 1010]], float)
    hole = np.array([[1002, 1002], [1004, 1002], [1004, 1004], [1002, 1004]], float)
    tri = np.array([[1040.1, 1000.3], [1053.7, 1002.9], [1045.5, 1011.1]])
    ell = np.array([[1060, 1000], [1070, 1000], [1070, 1004], [1064, 1004],
                    [1064, 1012], [1060, 1012]], float)
    geoms = {
        # closed NDR polygon with a hole
        1: wkb.polygon_to_wkb_rings([sq, hole]),
        # NDR multipolygon whose parts overlap: the overlap is outside
        2: wkb.multipolygon_to_wkb([[sq + [20, 0]], [sq + [25, 5]]]),
        # unclosed concave ring (the record leaves the ring open)
        3: struct.pack("<BIII", 1, 3, 1, len(ell)) + ell.astype("<f8").tobytes(),
        # big-endian (XDR) slanted triangle with a big-endian hole
        4: _xdr_polygon([tri, (tri - tri.mean(0)) * 0.3 + tri.mean(0)]),
        # mixed-order multipolygon: XDR header, NDR + XDR parts
        5: struct.pack(">BII", 0, 6, 2) + wkb.polygon_to_wkb_rings([sq + [0, 20]])
        + _xdr_polygon([hole + [0, 20]]),
        # many-edge concave star with a many-edge hole
        6: wkb.polygon_to_wkb_rings([_star(1055, 1025, 64, 9.0, 6.0),
                                     _star(1055, 1025, 40, 3.0, 1.5)[::-1]]),
        # many-edge big-endian star, left open
        7: _xdr_polygon([_star(1072, 1025.2, 48, 6.0, 3.3)]),
    }
    rings = {
        k: [r for part in wkb.multipolygon_from_wkb(g) for r in part] for k, g in geoms.items()
    }
    pts = [np.stack(np.meshgrid(np.arange(995.0, 1080.0, 0.5),
                                np.arange(995.0, 1036.0, 0.5)), -1).reshape(-1, 2)]
    rng = np.random.default_rng(7)
    for rs in rings.values():
        for r in rs:
            a, b = r, np.roll(r, -1, axis=0)
            t = np.concatenate([[0.0, 0.5], rng.random(6)])[:, None, None]
            pts.append((a + t * (b - a)).reshape(-1, 2))
    _, _, _, _, h_off, hv, striped = _edge_strips(*wkb.ring_vertex_lists(list(geoms.values())))
    for i in np.flatnonzero(striped):
        y0, h, nb = hv[h_off[i]], hv[h_off[i] + 1], h_off[i + 1] - h_off[i] - 3
        ys = y0 + h * np.arange(nb + 1)
        pts.append(np.stack(np.meshgrid(np.arange(1044.0, 1080.0, 0.25), ys), -1).reshape(-1, 2))
    pts = np.unique(np.concatenate(pts), axis=0)
    return geoms, rings, pts


def _strip_refine_np(px, py, offsets, xs, ys, valid, h_off, hv, striped):
    """numpy transcription of the SQL refine predicate over the layout
    of _edge_strips: (points x polygons) containment."""
    out = np.zeros((len(px), len(offsets) - 1), dtype=bool)
    for i in range(len(offsets) - 1):
        a, b = offsets[i], offsets[i + 1]
        lo, hi = np.zeros(len(px), np.int64), np.full(len(px), b - a)
        if striped[i]:
            hd = hv[h_off[i]:h_off[i + 1]]
            k = np.floor(np.clip((py - hd[0]) / hd[1], 0, len(hd) - 4)).astype(np.int64)
            lo, hi = hd[k + 2].astype(np.int64), hd[k + 3].astype(np.int64)
        e = np.arange(b - a - 1)
        x0, y0, x1, y1 = xs[a:b - 1], ys[a:b - 1], xs[a + 1:b], ys[a + 1:b]
        live = valid[a:b - 1] & valid[a + 1:b]
        cond = live & ((y0 > py[:, None]) != (y1 > py[:, None]))
        cond &= (e >= lo[:, None]) & (e <= hi[:, None] - 2)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0 + (py[:, None] - y0) * (x1 - x0) / (y1 - y0)
        out[:, i] = (cond & (px[:, None] < xint)).sum(axis=1) % 2 == 1
    return out


def test_edge_strips_keep_every_crossing():
    """The strip layout re-lays only polygons of many edges whose strips
    stay small, and the predicate over it counts the same crossings'
    parity as points_in_rings — on vertices, edges and strip
    boundaries too."""
    geoms, rings, xy = _pip_fixture()
    # a zig-zag whose every edge spans the polygon's height: striped, it
    # would repeat each edge in every strip, so it keeps its layout
    zig = np.array([[1000 + i, 1000 + 30 * (i % 2)] for i in range(41)] + [[1040, 990]], float)
    geoms[8] = wkb.polygon_to_wkb(zig)
    rings[8] = [r for part in wkb.multipolygon_from_wkb(geoms[8]) for r in part]
    layout = _edge_strips(*wkb.ring_vertex_lists(list(geoms.values())))
    assert list(layout[6]) == [False] * 5 + [True, True, False]
    got = _strip_refine_np(xy[:, 0], xy[:, 1], *layout)
    for j, rs in enumerate(rings.values()):
        np.testing.assert_array_equal(got[:, j], points_in_rings(xy[:, 0], xy[:, 1], rs))


def test_pip_wkb_refine_equals_kernel(spark):
    """The native vertex-array refine equals kernels.points_in_rings on
    EVERY (point, polygon) pair — vertices, edges, holes, multipart
    overlaps, an unclosed ring, big-endian records and polygons split
    into edge strips — broadcast, shuffled and salted."""
    geoms, rings, xy = _pip_fixture()
    want = {
        (int(i), k)
        for k, rs in rings.items()
        for i in np.flatnonzero(points_in_rings(xy[:, 0], xy[:, 1], rs))
    }
    pts = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(len(xy)), "x": xy[:, 0], "y": xy[:, 1]})
    )
    polys = spark.createDataFrame(
        [
            (k, bytearray(g), float(np.concatenate(rings[k])[:, 0].min()),
             float(np.concatenate(rings[k])[:, 1].min()),
             float(np.concatenate(rings[k])[:, 0].max()),
             float(np.concatenate(rings[k])[:, 1].max()))
            for k, g in geoms.items()
        ],
        "poly_id long, geom binary, minx double, miny double, maxx double, maxy double",
    )
    hot = with_point_cell(pts, "x", "y", 14).select("_cell").distinct().withColumn("_k", F.lit(3))
    for kw in ({}, {"broadcast_polys": False}, {"broadcast_polys": False, "hot": hot},
               {"hot": hot}):
        out = pip_join_wkb(pts, polys, res=14, **kw)
        assert out.count() == len(want), kw
        assert out.columns == ["doc_id", "x", "y", "poly_id"]
        assert {(r.doc_id, r.poly_id) for r in out.collect()} == want, kw


def test_pip_wkb_rejects_non_finite_vertex(spark):
    """Spark orders NaN above every double, numpy compares it false: a
    non-finite vertex would split the two refines, so the decode
    refuses it and names the polygon."""
    pts = spark.createDataFrame([(1, 5.0, 5.0)], "doc_id long, x double, y double")
    for bad in (np.nan, np.inf):
        ring = np.array([[0, 0], [10, 0], [10, bad], [0, 10]], float)
        polys = spark.createDataFrame(
            [(42, bytearray(wkb.polygon_to_wkb(ring)), 0.0, 0.0, 10.0, 10.0)],
            "poly_id long, geom binary, minx double, miny double, maxx double, maxy double",
        )
        with pytest.raises(Exception, match="poly_id 42: non-finite vertex"):
            pip_join_wkb(pts, polys, res=10).count()


def test_overlay_convex_matches_rect_path(spark):
    edges = synth.page_edges(spark, SF_TINY)
    veg_pdf = synth._veg_grid_np()
    veg_pdf2 = veg_pdf.copy()
    veg_pdf2["geom"] = [
        wkb.rect_to_wkb(a, b, c, d)
        for a, b, c, d in zip(veg_pdf.minx, veg_pdf.miny, veg_pdf.maxx, veg_pdf.maxy)
    ]
    rect = overlay_share_rect(edges, spark.createDataFrame(veg_pdf), res=8).toPandas()
    conv = overlay_share_convex(edges, spark.createDataFrame(veg_pdf2), res=8).toPandas()
    m = rect.merge(conv, on=["edge_id", "veg_class"], suffixes=("_r", "_c"), how="outer")
    assert m.share_r.notna().all() and m.share_c.notna().all()
    assert (abs(m.share_r - m.share_c) < 1e-6).all()


def test_crs_roundtrip(spark):
    lon = np.array([0.0, 24.94, -122.4])
    lat = np.array([0.0, 60.17, 37.77])
    x, y = crs.lonlat_to_mercator_np(lon, lat)
    lon2, lat2 = crs.mercator_to_lonlat_np(x, y)
    assert np.allclose(lon, lon2) and np.allclose(lat, lat2)
    # Column flavor agrees with numpy flavor
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    cx, cy = crs.lonlat_to_mercator_expr(F.col("lon"), F.col("lat"))
    rows = df.select(cx.alias("x"), cy.alias("y")).collect()
    assert np.allclose([r.x for r in rows], x)
    assert np.allclose([r.y for r in rows], y)


def test_wkt_roundtrips(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1.5, -2.25], "y": [3.125, 4.0]}))
    w = df.select(format_point_expr(F.col("x"), F.col("y")).alias("wkt"), "x", "y")
    px, py = parse_point_expr(F.col("wkt"))
    out = w.select((px == F.col("x")).alias("ok_x"), (py == F.col("y")).alias("ok_y")).collect()
    assert all(r.ok_x and r.ok_y for r in out)
    coords = np.array([[1.5, 2.5], [3.0, 4.0], [5.25, 6.0]])
    assert (parse_linestring_np(format_linestring_np(coords)) == coords).all()
    assert parse_linestring_np("LINESTRING EMPTY").shape == (0, 2)


def test_overlay_general_concave_and_holes(spark):
    """overlay_share_general through the full Spark plan: concave ring
    + hole vs hand-computed areas, and agreement with the convex path
    on convex inputs."""
    from hope_graph_builder_spark.pipelines.overlay import overlay_share_general

    # one edge whose 30 m buffer is exactly [70,130]×[170,230]
    edges = spark.createDataFrame(
        [(1, 100.0, 200.0, 100.0, 200.0)], "edge_id long, x1 double, y1 double, x2 double, y2 double"
    )
    # L-shape: arm A (0,150)-(300,150)-(300,190) + arm B (0,190)-(60,190)-(60,400),
    # hole (10,250)-(50,250)-(50,300)-(10,300) inside arm B
    ring = np.array([[0, 150], [300, 150], [300, 190], [60, 190], [60, 400], [0, 400]], float)
    hole = np.array([[10, 250], [50, 250], [50, 300], [10, 300]], float)
    polys = spark.createDataFrame(
        [(7, "low", bytearray(wkb.polygon_to_wkb_rings([ring, hole])), 0.0, 150.0, 300.0, 400.0)],
        "poly_id long, veg_class string, geom binary, minx double, miny double, maxx double, maxy double",
    )
    out = overlay_share_general(edges, polys, res=9, area_q=100.0).collect()
    # buffer [70,130]×[170,230]: ∩armA = 60×20=1200 (y 170..190), ∩armB = 0
    # (x 70..130 vs arm x 0..60), ∩hole = 0 → area 1200; buf_area 3600
    assert len(out) == 1
    assert abs(out[0]["share"] - 1200.0 / 3600.0) < 1e-12

    # hole subtraction: buffer [−30,30]×[220,280] ∩ armB (x 0..60 y 190..400)
    # = 30×60 = 1800 minus hole ∩ = (10..30)×(250..280) = 20×30 = 600 → 1200
    edges2 = spark.createDataFrame(
        [(2, 0.0, 250.0, 0.0, 250.0)], "edge_id long, x1 double, y1 double, x2 double, y2 double"
    )
    out2 = overlay_share_general(edges2, polys, res=9, area_q=100.0).collect()
    assert len(out2) == 1
    assert abs(out2[0]["share"] - 1200.0 / 3600.0) < 1e-12


def test_overlay_general_matches_convex_on_convex(spark):
    edges = synth.page_edges(spark, SF_TINY)
    veg_pdf = synth._veg_grid_np()
    veg_pdf["geom"] = [
        wkb.rect_to_wkb(a, b, c, d)
        for a, b, c, d in zip(veg_pdf.minx, veg_pdf.miny, veg_pdf.maxx, veg_pdf.maxy)
    ]
    from hope_graph_builder_spark.pipelines.overlay import (
        overlay_share_convex,
        overlay_share_general,
    )

    conv = overlay_share_convex(edges, spark.createDataFrame(veg_pdf), res=8).toPandas()
    gen = overlay_share_general(edges, spark.createDataFrame(veg_pdf), res=8).toPandas()
    m = conv.merge(gen, on=["edge_id", "veg_class"], suffixes=("_c", "_g"), how="outer")
    assert m.share_c.notna().all() and m.share_g.notna().all()
    assert (abs(m.share_c - m.share_g) < 1e-6).all()


def test_dissolve_general_matches_rect_dissolve(spark):
    """dissolve_union_geometry_general over rect WKB == the rect
    dissolve's union area, and the emitted trapezoid WKB quads decode
    to the parts' own corners."""
    from hope_graph_builder_spark.pipelines.overlay import (
        dissolve_union_area,
        dissolve_union_geometry_general,
    )

    veg_pdf = synth._veg_grid_np().head(60).copy()
    veg_pdf["tile"] = (veg_pdf.minx // 10000).astype("int64")
    veg_pdf["geom"] = [
        wkb.rect_to_wkb(a, b, c, d)
        for a, b, c, d in zip(veg_pdf.minx, veg_pdf.miny, veg_pdf.maxx, veg_pdf.maxy)
    ]
    df = spark.createDataFrame(veg_pdf)
    area = dissolve_union_area(df).toPandas()
    parts = dissolve_union_geometry_general(df).toPandas()
    got = parts.groupby(["tile", "veg_class"], as_index=False).part_area.sum()
    m = area.merge(got, on=["tile", "veg_class"], how="outer")
    assert m.union_area.notna().all() and m.part_area.notna().all()
    assert (abs(m.union_area - m.part_area) < 1e-6).all()
    # WKB quad round-trip
    row = parts.iloc[0]
    ring = wkb.polygon_from_wkb(bytes(row.geom))
    assert ring[0][0] == row.x0 and ring[1][0] == row.x1


def test_overlay_round_caps_through_spark(spark):
    """overlay_share_round end-to-end: a capsule crossing a rect
    boundary with one cap in, one out — share matches the closed
    form (rect strip + half-disk) / capsule area."""
    import math

    from hope_graph_builder_spark.pipelines.overlay import overlay_share_round

    edges = spark.createDataFrame(
        [(1, 400.0, 1000.0, 700.0, 1000.0)],
        "edge_id long, x1 double, y1 double, x2 double, y2 double",
    )
    polys = spark.createDataFrame(
        [(7, "low", bytearray(wkb.rect_to_wkb(500.0, 500.0, 2000.0, 1700.0)),
          500.0, 500.0, 2000.0, 1700.0)],
        "poly_id long, veg_class string, geom binary, minx double, miny double, maxx double, maxy double",
    )
    out = overlay_share_round(edges, polys, res=7).collect()
    assert len(out) == 1
    want = ((700.0 - 500.0) * 60.0 + math.pi * 450.0) / (300.0 * 60.0 + math.pi * 900.0)
    assert abs(out[0]["share"] - want) < 1e-6
