"""Land-cover overlay analysis — reference J7/A9/J8
(`/root/reference/src/green_view_join_v1/land_cover_overlay_analysis.py:58-233`):
PostGIS ST_Intersects join of 30 m edge buffers × vegetation polygons,
ST_Intersection + per-edge dissolve, share = veg_area / buffer_area.

Re-expression: cell-cover equi-join prefilter + exact rectangle
intersection areas (native arithmetic). Two paths:

- ``overlay_share_rect``: axis-aligned buffers/polygons → closed-form
  intersection area, micro-quantized (floor(area·10⁶) int) so the
  per-edge SUM is order-independent and oracle-exact. Requires
  non-overlapping polygons within a class (the dissolve is then a
  plain sum — our synthetic veg grid guarantees it).
- ``overlay_share_convex``: general convex polygons via the
  Sutherland–Hodgman kernel in an Arrow-batched pandas UDF (the
  ST_Intersection twin for non-rectangular geometry).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hope_graph_builder_spark.operators.spatial_join import with_cover_cells, CELL
from hope_graph_builder_spark.spatial import cell_id_sql
from hope_graph_builder_spark.spatial.kernels import (
    clip_area_rings,
    clip_polygon_convex,
    rect_union_area,
    rect_union_parts,
    shoelace_area,
)
from hope_graph_builder_spark.spatial.wkb import (
    multipolygon_from_wkb,
    polygon_from_wkb,
    rect_to_wkb,
)

AREA_Q = 1_000_000.0  # micro-m² quantization for order-free sums


def _canon_cell(res: int):
    """Cell of the min corner of a (buffer, polygon) bbox intersection:
    the one joined cover cell a candidate pair is kept in."""
    return F.expr(cell_id_sql("greatest(bminx, minx)", "greatest(bminy, miny)", res))


def edge_buffer_rect(edges: DataFrame, dist: float = 30.0) -> DataFrame:
    """Axis-aligned buffer rectangle of each 2-vertex edge (documented
    deviation from the round-capped PostGIS buffer — the overlay
    *semantics* — intersect, dissolve, ratio — are identical)."""
    d = F.lit(float(dist))
    return (
        edges.withColumn("bminx", F.least("x1", "x2") - d)
        .withColumn("bmaxx", F.greatest("x1", "x2") + d)
        .withColumn("bminy", F.least("y1", "y2") - d)
        .withColumn("bmaxy", F.greatest("y1", "y2") + d)
        .withColumn(
            "buf_area",
            (F.col("bmaxx") - F.col("bminx")) * (F.col("bmaxy") - F.col("bminy")),
        )
    )


def overlay_share_rect(
    edges: DataFrame, veg: DataFrame, res: int = 8, dist: float = 30.0
) -> DataFrame:
    """edges(edge_id, x1..y2) × veg(veg_class, minx..maxy) →
    (edge_id, veg_class, share). One cover-join + one groupBy."""
    b = edge_buffer_rect(edges, dist)
    bc = with_cover_cells(
        b.select("edge_id", "bminx", "bminy", "bmaxx", "bmaxy", "buf_area"),
        "bminx", "bminy", "bmaxx", "bmaxy", res,
    )
    vc = with_cover_cells(veg, "minx", "miny", "maxx", "maxy", res)
    cand = bc.join(vc, CELL, "inner")
    ix = F.greatest(F.lit(0.0), F.least("bmaxx", "maxx") - F.greatest("bminx", "minx"))
    iy = F.greatest(F.lit(0.0), F.least("bmaxy", "maxy") - F.greatest("bminy", "miny"))
    # A (buffer, veg-rect) pair can meet in several cover cells; the
    # pair is COUNTED only in the one canonical cell that contains the
    # intersection's min corner (that corner is inside both bboxes, so
    # its cell is always among the joined cells — exactly once). This
    # is a codegen filter, replacing the full .distinct() shuffle of
    # the candidate set.
    canon = _canon_cell(res)
    inter = (
        cand.filter(F.col(CELL) == canon)
        .withColumn("area_q", F.floor(ix * iy * F.lit(AREA_Q)).cast("long"))
        .filter(F.col("area_q") > 0)
        .select("edge_id", "veg_class", "poly_id", "area_q", "buf_area")
    )
    return inter.groupBy("edge_id", "veg_class").agg(
        ((F.sum("area_q").cast("double") / F.lit(AREA_Q)) / F.min("buf_area")).alias("share")
    )


def dissolve_union_area(
    rects: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """F10 general dissolve (reference unary_union,
    land_cover_overlay_analysis.py:58-233): exact union AREA of
    OVERLAPPING axis-aligned polygons per group — the overlap case
    overlay_share_rect's plain sum cannot handle. applyInPandas per
    group over the coordinate-compression kernel; groups arrive from
    one hash shuffle on the (small) group key, each group's rect list
    is tiny after the cover join, so this is a map-sized stage at any
    corpus scale."""
    group_cols = group_cols or ["tile", "veg_class"]
    by_name = {f.name: f.dataType.simpleString() for f in rects.schema.fields}
    schema = ", ".join(f"{c} {by_name[c]}" for c in group_cols) + ", union_area double"

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        area = rect_union_area(
            pdf[["minx", "miny", "maxx", "maxy"]].to_numpy(dtype=np.float64)
        )
        return pd.DataFrame([[*key, area]], columns=[*group_cols, "union_area"])

    return rects.groupBy(*group_cols).applyInPandas(fn, schema=schema)


def dissolve_union_geometry(
    rects: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """F10 dissolve returning the union GEOMETRY, not just its area —
    the reference's ``unary_union`` output is a geometry that feeds
    later stages (`get_nodata_areas.py:36-37`, PostGIS ST_Union at
    `land_cover_overlay_analysis.py:114-129`). Emits the union's
    disjoint rectangle decomposition: one row per part with scalar
    bounds (so every downstream rect operator consumes it natively)
    plus the OGC WKB polygon. Same shuffle shape as
    ``dissolve_union_area`` — one hash shuffle on the group key, then
    a map-sized kernel per group."""
    group_cols = group_cols or ["tile", "veg_class"]
    by_name = {f.name: f.dataType.simpleString() for f in rects.schema.fields}
    schema = (
        ", ".join(f"{c} {by_name[c]}" for c in group_cols)
        + ", part_i int, minx double, miny double, maxx double, maxy double, geom binary"
    )

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        parts = rect_union_parts(
            pdf[["minx", "miny", "maxx", "maxy"]].to_numpy(dtype=np.float64)
        )
        rows = [
            [*key, i, p[0], p[1], p[2], p[3], rect_to_wkb(p[0], p[1], p[2], p[3])]
            for i, p in enumerate(parts)
        ]
        return pd.DataFrame(
            rows,
            columns=[*group_cols, "part_i", "minx", "miny", "maxx", "maxy", "geom"],
        )

    return rects.groupBy(*group_cols).applyInPandas(fn, schema=schema)


def overlay_share_round(
    edges: DataFrame, polys: DataFrame, res: int = 8, dist: float = 30.0,
    geom: str = "geom", area_q: float = 1000.0,
) -> DataFrame:
    """ROUND-CAP buffer overlay — exact circular geometry: the
    reference's PostGIS ST_Buffer discretizes each cap with
    quad_segs=8 arcs (land_cover_overlay_analysis.py:87-143); this
    path integrates the true capsule boundary exactly
    (kernels.capsule_area_rings: oriented core rect via signed-fan
    clip + two half-disk Green's-theorem integrations), so the only
    deviation from the reference is that OUR caps are not an 8-segment
    approximation. share = area / (L·2r + πr²), the exact capsule
    area. Same single-cover-join plan shape as the other overlay
    paths."""
    import math

    b = edge_buffer_rect(edges, dist)
    bc = with_cover_cells(
        b.select("edge_id", "x1", "y1", "x2", "y2",
                 "bminx", "bminy", "bmaxx", "bmaxy"),
        "bminx", "bminy", "bmaxx", "bmaxy", res,
    )
    vc = with_cover_cells(polys, "minx", "miny", "maxx", "maxy", res)
    canon = _canon_cell(res)
    buf_area = (
        F.sqrt(
            (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
            + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
        ) * F.lit(2.0 * float(dist))
        + F.lit(math.pi) * F.lit(float(dist) * float(dist))
    )
    cand = (
        bc.join(vc, CELL, "inner")
        .filter(F.col(CELL) == canon)
        .select("edge_id", "veg_class", "poly_id", geom,
                "x1", "y1", "x2", "y2", buf_area.alias("buf_area"))
    )
    r = float(dist)

    def clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from hope_graph_builder_spark.spatial.kernels import capsule_area_rings

        for pdf in batches:
            areas = np.zeros(len(pdf))
            for i, (buf, ex1, ey1, ex2, ey2) in enumerate(
                zip(pdf[geom], pdf.x1, pdf.y1, pdf.x2, pdf.y2)
            ):
                parts = multipolygon_from_wkb(bytes(buf))
                areas[i] = capsule_area_rings(parts, ex1, ey1, ex2, ey2, r)
            yield pd.DataFrame(
                {
                    "edge_id": pdf.edge_id,
                    "veg_class": pdf.veg_class,
                    "area": areas,
                    "buf_area": pdf.buf_area,
                }
            )

    inter = cand.mapInPandas(
        clip, schema="edge_id long, veg_class string, area double, buf_area double"
    )
    return (
        inter.withColumn("area_qv", F.round(F.col("area") * F.lit(float(area_q))).cast("long"))
        .filter(F.col("area_qv") > 0)
        .groupBy("edge_id", "veg_class")
        .agg(((F.sum("area_qv").cast("double") / F.lit(float(area_q))) / F.min("buf_area")).alias("share"))
    )


def dissolve_union_geometry_general(
    polys: DataFrame, group_cols: list[str] | None = None, geom: str = "geom"
) -> DataFrame:
    """F10/A9 dissolve of GENERAL polygons (concave, holes, multipart
    WKB) returning the union GEOMETRY as a disjoint trapezoid
    decomposition — the reference's ``unary_union`` over arbitrary
    land-cover polygons (`get_nodata_areas.py:36-37`,
    `land_cover_overlay_analysis.py:114-129`), which the axis-aligned
    ``dissolve_union_geometry`` cannot express. One hash shuffle on
    the group key, then the trapezoid-sweep kernel per group
    (``poly_union_trapezoids``); each part row carries the trapezoid
    corners (x0, x1, yb0, yb1, yt0, yt1), its exact area, and the OGC
    WKB quad so any consumer reads it."""
    from hope_graph_builder_spark.spatial.kernels import (
        poly_union_trapezoids,
        trapezoid_areas,
    )
    from hope_graph_builder_spark.spatial.wkb import polygon_to_wkb

    group_cols = group_cols or ["tile", "veg_class"]
    by_name = {f.name: f.dataType.simpleString() for f in polys.schema.fields}
    schema = (
        ", ".join(f"{c} {by_name[c]}" for c in group_cols)
        + ", part_i int, x0 double, x1 double, yb0 double, yb1 double,"
        + " yt0 double, yt1 double, part_area double, geom binary"
    )

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # flatten each row's multiparts: every part is one even-odd
        # (outer + holes) unit; union across all parts of all rows
        parts = [multipolygon_from_wkb(bytes(b)) for b in pdf[geom]]
        flat = [rings for poly in parts for rings in poly]
        traps = poly_union_trapezoids(flat)
        areas = trapezoid_areas(traps)
        rows = []
        for i, (t, a) in enumerate(zip(traps, areas)):
            x0, x1, yb0, yb1, yt0, yt1 = (float(v) for v in t)
            quad = np.array([[x0, yb0], [x1, yb1], [x1, yt1], [x0, yt0]])
            rows.append([*key, i, x0, x1, yb0, yb1, yt0, yt1, float(a),
                         polygon_to_wkb(quad)])
        return pd.DataFrame(
            rows,
            columns=[*group_cols, "part_i", "x0", "x1", "yb0", "yb1",
                     "yt0", "yt1", "part_area", "geom"],
        )

    return polys.groupBy(*group_cols).applyInPandas(fn, schema=schema)


def overlay_share_convex(
    edges: DataFrame, polys: DataFrame, res: int = 8, dist: float = 30.0,
    geom: str = "geom",
) -> DataFrame:
    """General convex-polygon overlay: candidates by cell cover, exact
    intersection area via Sutherland–Hodgman inside mapInPandas
    (the pandas-UDF path; polys carry WKB + bbox)."""
    b = edge_buffer_rect(edges, dist)
    bc = with_cover_cells(
        b.select("edge_id", "bminx", "bminy", "bmaxx", "bmaxy", "buf_area"),
        "bminx", "bminy", "bmaxx", "bmaxy", res,
    )
    vc = with_cover_cells(polys, "minx", "miny", "maxx", "maxy", res)
    # same canonical-cell ownership trick as overlay_share_rect: the
    # bbox-intersection min corner picks ONE joined cell per pair — a
    # codegen filter instead of a .distinct() shuffle, and the exact
    # clip kernel then runs once per pair
    canon = _canon_cell(res)
    cand = (
        bc.join(vc, CELL, "inner")
        .filter(F.col(CELL) == canon)
        .select("edge_id", "veg_class", "poly_id", geom,
                "bminx", "bminy", "bmaxx", "bmaxy", "buf_area")
    )

    def clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            areas = np.zeros(len(pdf))
            for i, (buf, x0, y0, x1, y1) in enumerate(
                zip(pdf[geom], pdf.bminx, pdf.bminy, pdf.bmaxx, pdf.bmaxy)
            ):
                ring = polygon_from_wkb(buf)
                rect = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
                out = clip_polygon_convex(ring[:-1], rect)
                areas[i] = shoelace_area(out) if len(out) >= 3 else 0.0
            yield pd.DataFrame(
                {
                    "edge_id": pdf.edge_id,
                    "veg_class": pdf.veg_class,
                    "area": areas,
                    "buf_area": pdf.buf_area,
                }
            )

    inter = cand.mapInPandas(
        clip, schema="edge_id long, veg_class string, area double, buf_area double"
    )
    return (
        inter.filter(F.col("area") > 0)
        .withColumn("area_q", F.floor(F.col("area") * F.lit(AREA_Q)).cast("long"))
        .groupBy("edge_id", "veg_class")
        .agg(((F.sum("area_q") / F.lit(AREA_Q)) / F.min("buf_area")).alias("share"))
    )


def overlay_share_general(
    edges: DataFrame, polys: DataFrame, res: int = 8, dist: float = 30.0,
    geom: str = "geom", area_q: float = AREA_Q,
) -> DataFrame:
    """GENERAL polygon overlay — concave rings, holes, multiparts: the
    exact ST_Intersection-area twin for the reference's real land-cover
    layers (arbitrary multipart polygons fetched at
    `fetch_land_cover.py:79-94`, intersected with no convexity
    assumption at `land_cover_overlay_analysis.py:87-143`). Same plan
    shape as ``overlay_share_convex`` — cell-cover candidates, one
    canonical-cell codegen filter, one Arrow-batched kernel pass, one
    groupBy — only the per-pair kernel changes: signed fan
    decomposition × Sutherland–Hodgman (``clip_area_rings``), so
    concavity and holes cost O(#vertices) triangles per pair, not a
    new shuffle.

    Quantization uses round-to-NEAREST at ``area_q`` units/m² (not the
    rect path's floor): the general kernel's Σ-of-triangle float error
    (absolute ~1e-5 m² at 1e5-scale coordinates) sits on the wrong
    side of floor() when the true area is exact, while nearest keeps
    closed-form-oracle parity; pick ``area_q`` so 1/(2·area_q) safely
    exceeds that absolute error (100 ⇒ 5e-3 m² margin). The candidate
    filter runs on the quantized value so a true-zero intersection
    that the kernel evaluates to ±1e-10 cannot leak a row."""
    b = edge_buffer_rect(edges, dist)
    bc = with_cover_cells(
        b.select("edge_id", "bminx", "bminy", "bmaxx", "bmaxy", "buf_area"),
        "bminx", "bminy", "bmaxx", "bmaxy", res,
    )
    vc = with_cover_cells(polys, "minx", "miny", "maxx", "maxy", res)
    canon = _canon_cell(res)
    cand = (
        bc.join(vc, CELL, "inner")
        .filter(F.col(CELL) == canon)
        .select("edge_id", "veg_class", "poly_id", geom,
                "bminx", "bminy", "bmaxx", "bmaxy", "buf_area")
    )

    def clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            areas = np.zeros(len(pdf))
            for i, (buf, x0, y0, x1, y1) in enumerate(
                zip(pdf[geom], pdf.bminx, pdf.bminy, pdf.bmaxx, pdf.bmaxy)
            ):
                parts = multipolygon_from_wkb(bytes(buf))
                rect = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
                areas[i] = clip_area_rings(parts, rect)
            yield pd.DataFrame(
                {
                    "edge_id": pdf.edge_id,
                    "veg_class": pdf.veg_class,
                    "area": areas,
                    "buf_area": pdf.buf_area,
                }
            )

    inter = cand.mapInPandas(
        clip, schema="edge_id long, veg_class string, area double, buf_area double"
    )
    return (
        inter.withColumn("area_qv", F.round(F.col("area") * F.lit(float(area_q))).cast("long"))
        .filter(F.col("area_qv") > 0)
        .groupBy("edge_id", "veg_class")
        .agg(((F.sum("area_qv").cast("double") / F.lit(float(area_q))) / F.min("buf_area")).alias("share"))
    )
