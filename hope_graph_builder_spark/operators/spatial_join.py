"""Cell-indexed spatial joins — the engine's flagship operators.

Re-expresses the reference's R-tree sjoins
(J1/J2/J3: `/root/reference/src/noise_graph_join/utils.py:143-163`,
`:75-87`; J4 DWithin: `src/green_view_join_v1/green_view_join_v1.py:38-53`)
as: cell equi-join prefilter (native Columns, §spatial/cells) + exact
refinement.

Refinement strategy:
- rectangles (axis-aligned)  → native comparisons (whole-stage codegen)
- DWithin(point, segment, d) → native arithmetic (dist² ≤ d², no UDF)
- general polygon rings      → vectorized numpy ray-cast inside
                               mapInPandas (Arrow batches)

Skew: hot cells (e.g. a popular page hotspot) are salted — the POINT
side gets `salt = pmod(xxhash64(id), k)`, the (small) polygon side is
replicated k× — with per-cell factors 1 ≤ k ≤ 64 from the ``hot``
frame (CELL, _k), normally the profile pass `hot_cell_factors`; a
uniform factor is ``cells.distinct().withColumn("_k", F.lit(k))``. AQE
skew-join stays on as backstop.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from hope_graph_builder_spark.functions.sqltext import dbl, ident
from hope_graph_builder_spark.spatial.cells import cell_id_sql, cover_bbox_sql
from hope_graph_builder_spark.spatial.kernels import points_in_rings
from hope_graph_builder_spark.spatial.wkb import multipolygon_from_wkb

CELL = "_cell"
SALT = "_salt"


def with_point_cell(df: DataFrame, x: str, y: str, res: int, out: str = CELL) -> DataFrame:
    return df.withColumn(out, F.expr(cell_id_sql(ident(x), ident(y), res)))


def with_cover_cells(
    df: DataFrame, minx: str, miny: str, maxx: str, maxy: str, res: int, out: str = CELL
) -> DataFrame:
    """Explode each bbox into the cells it intersects (native sequence)."""
    cover = cover_bbox_sql(ident(minx), ident(miny), ident(maxx), ident(maxy), res)
    return df.withColumn(out, F.expr(f"explode({cover})"))


def with_dist_cover(segments: DataFrame, dist: float, res: int) -> DataFrame:
    """Explode each 2-vertex segment (x1, y1, x2, y2) into the cells
    that its bbox, expanded by ``dist`` on every side, intersects — the
    candidate cover of a DWithin join."""
    d = dbl(dist)
    cover = cover_bbox_sql(
        f"least(x1, x2) - {d}", f"least(y1, y2) - {d}",
        f"greatest(x1, x2) + {d}", f"greatest(y1, y2) + {d}", res,
    )
    return segments.withColumn(CELL, F.expr(f"explode({cover})"))


def split_by_cover_size(
    polys: DataFrame, res: int, max_cells: int = 4096
) -> tuple[DataFrame, DataFrame]:
    """Operability valve for the polygon side: geometries whose bbox
    cover at ``res`` would explode past ``max_cells`` (a metro-wide
    boundary at a street-scale res covers millions of cells — measured
    in this repo's own gpkg test before the guard) are split off so the
    pipeline can route them to a coarser res or a broadcast refine
    instead of freezing the cover explode. Native arithmetic on the
    bbox columns; zero-cost when nothing is oversized."""
    from hope_graph_builder_spark.spatial import cells as cellsmod

    s = F.lit(cellsmod.cell_size(res))
    nx = F.floor(F.col("maxx") / s) - F.floor(F.col("minx") / s) + 1
    ny = F.floor(F.col("maxy") / s) - F.floor(F.col("miny") / s) + 1
    n = nx * ny
    return polys.filter(n <= max_cells), polys.filter(n > max_cells)


def hot_cell_factors(
    points_with_cell: DataFrame, threshold: int, max_factor: int = 32
) -> DataFrame:
    """Profile pass: cells whose point count exceeds ``threshold`` get a
    salt factor ceil(count/threshold), capped. Tiny output → broadcast.
    At 100 TB this profile runs on a sample; locally it's exact.

    ``max_factor`` must fit the 7 salt bits of the packed join key
    (_pack_ck) — validated here so a mis-tuned valve fails loudly
    instead of wrapping two salts onto one key."""
    if not (1 <= max_factor <= _MAX_SALT):
        raise ValueError(
            f"max_factor must be in [1, {_MAX_SALT}] (salt packs into 7 bits"
            f" of the join key), got {max_factor}"
        )
    return (
        points_with_cell.groupBy(CELL)
        .count()
        .filter(F.col("count") > threshold)
        .select(
            CELL,
            F.least(
                F.ceil(F.col("count") / F.lit(threshold)).cast("int"), F.lit(max_factor)
            ).alias("_k"),
        )
    )


_LOW56 = (1 << 56) - 1
_MAX_SALT = 64  # salt values 0..63 fit bits 56..62 of the packed key


def _pack_ck(salt_col):
    """(cell, salt) → ONE long key: low 56 bits = ix/iy, bits 56..62 =
    salt (≤ 63). The cell id's res bits live at 56..62, but res is
    CONSTANT within a join, so masking it out loses nothing. One 8-byte
    key column instead of two per shuffled row on BOTH join sides (the
    points side is the wide one at scale: 40 → 32 B/row, and one hash
    evaluation instead of two) — the salted-shuffle legs are
    memory-bandwidth-bound (BASELINE.md addendum 4), so exchange bytes
    are the scaling currency."""
    return F.col(CELL).bitwiseAND(F.lit(_LOW56)) + F.shiftleft(
        salt_col.cast("long"), 56
    )


def _apply_salt(
    points: DataFrame, polys: DataFrame, point_id: str, hot: DataFrame | None
) -> tuple[DataFrame, DataFrame, list[str]]:
    if hot is not None:
        points = points.join(F.broadcast(hot), CELL, "left").withColumn(
            "_ck",
            _pack_ck(F.pmod(F.xxhash64(F.col(point_id)), F.coalesce(F.col("_k"), F.lit(1)))),
        ).drop("_k", CELL)
        polys = (
            polys.join(F.broadcast(hot), CELL, "left")
            .withColumn(
                SALT,
                F.explode(F.sequence(F.lit(0), F.coalesce(F.col("_k"), F.lit(1)) - 1)),
            )
            .withColumn("_ck", _pack_ck(F.col(SALT)))
            .drop("_k", SALT, CELL)
        )
        return points, polys, ["_ck"]
    return points, polys, [CELL]


def pip_join_rect(
    points: DataFrame,
    rects: DataFrame,
    res: int,
    x: str = "x",
    y: str = "y",
    how: str = "inner",
    point_id: str = "doc_id",
    hot: DataFrame | None = None,
    broadcast_polys: bool = True,
) -> DataFrame:
    """Point-in-rectangle spatial join, fully native (no UDF).

    ``rects`` must carry minx/miny/maxx/maxy. Containment is half-open
    ([minx, maxx) × [miny, maxy)) so stacked rectangle borders never
    double-match. ``how='left'`` keeps unmatched points with null
    rect columns (reference J1/J2 left semantics, utils.py:143-163).
    """
    p = with_point_cell(points, x, y, res)
    g = with_cover_cells(rects, "minx", "miny", "maxx", "maxy", res)
    p, g, keys = _apply_salt(p, g, point_id, hot)
    if broadcast_polys:
        g = F.broadcast(g)
    cand = p.join(g, keys, "inner")
    refined = cand.filter(
        (F.col(x) >= F.col("minx")) & (F.col(x) < F.col("maxx"))
        & (F.col(y) >= F.col("miny")) & (F.col(y) < F.col("maxy"))
    ).drop(*keys)
    if how == "inner":
        return refined
    if how == "left":
        rect_cols = [c for c in rects.columns]
        matches = refined.select(point_id, *rect_cols)
        return points.join(matches, point_id, "left")
    raise ValueError(how)


def pip_join_wkb(
    points: DataFrame,
    polys: DataFrame,
    res: int,
    x: str = "x",
    y: str = "y",
    point_id: str = "doc_id",
    poly_id: str = "poly_id",
    geom: str = "geom",
    hot: DataFrame | None = None,
    broadcast_polys: bool = True,
) -> DataFrame:
    """Point-in-polygon join for general WKB geometry: Polygon or
    MultiPolygon, WITH hole rings (reference noise/land-cover surfaces
    carry both, noise_data_preprocessing.py:26-41).

    Same cell prefilter as pip_join_rect; exact refine is a vectorized
    even-odd ray-cast across ALL rings of all parts
    (spatial/kernels.points_in_rings — inside-the-hole correctly does
    NOT match) over Arrow batches, grouped by polygon within each
    batch — one decode + one vectorized test per (batch, polygon).
    Requires bbox columns minx/miny/maxx/maxy on ``polys`` (cheap to
    precompute at ingest; keeps the cover native).
    """
    p = with_point_cell(points, x, y, res)
    g = with_cover_cells(polys, "minx", "miny", "maxx", "maxy", res)
    p, g, keys = _apply_salt(p, g, point_id, hot)
    if broadcast_polys:
        g = F.broadcast(g)
    cand = p.join(g, keys, "inner").drop(*keys, "minx", "miny", "maxx", "maxy")
    out_schema = StructType([f for f in cand.schema.fields if f.name != geom])
    xcol, ycol, gcol = x, y, geom

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                yield pdf.drop(columns=[gcol])
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            px = pdf[xcol].to_numpy(dtype=np.float64)
            py = pdf[ycol].to_numpy(dtype=np.float64)
            for _, idx in pdf.groupby(poly_id, sort=False).indices.items():
                parts = multipolygon_from_wkb(bytes(pdf[gcol].iloc[idx[0]]))
                rings = [r for part in parts for r in part]
                keep[idx] = points_in_rings(px[idx], py[idx], rings)
            yield pdf.loc[keep].drop(columns=[gcol])

    return cand.mapInPandas(refine, schema=out_schema)


def dwithin_join(
    points: DataFrame,
    segments: DataFrame,
    dist: float,
    res: int,
    x: str = "x",
    y: str = "y",
    point_id: str = "doc_id",
    broadcast_points: bool = False,
    hot: DataFrame | None = None,
) -> DataFrame:
    """points × 2-vertex segments within ``dist`` meters — fully native.

    Re-expresses the reference's buffer(30 m)+sjoin(intersects) (J4,
    green_view_join_v1.py:38-53) without materializing buffer geometry:
    cover the segment bbox expanded by dist, equi-join on cell, refine
    with exact point-segment distance² ≤ dist² (pure arithmetic —
    stays in whole-stage codegen).
    ``segments`` must carry x1, y1, x2, y2.

    Skew: same valve as the PIP joins — ``hot`` sprays the point side
    by pmod(xxhash64(point_id), k) and replicates the cover-exploded
    segment side k× in the hot cells, joined on the packed single-long
    (cell, salt) key. A dense page hotspot otherwise lands every pair
    of its cell in one task at 100 TB. Salted ≡ unsalted is
    pytest-asserted."""
    g = with_dist_cover(segments, dist, res)
    p = with_point_cell(points, x, y, res)
    p, g, keys = _apply_salt(p, g, point_id, hot)
    cand = g.join(F.broadcast(p) if broadcast_points else p, keys, "inner").drop(*keys)
    return cand.filter(f"{_dist2_sql(x, y)} <= {dbl(dist * dist)}")


def _dist2_sql(x: str, y: str) -> str:
    px, py = ident(x), ident(y)
    dx, dy = "(x2 - x1)", "(y2 - y1)"
    seg2 = f"({dx} * {dx} + {dy} * {dy})"
    t_raw = f"((({px} - x1) * {dx} + ({py} - y1) * {dy}) / {seg2})"
    t = f"(CASE WHEN {seg2} > 0 THEN least(greatest({t_raw}, 0.0D), 1.0D) ELSE 0.0D END)"
    cx, cy = f"(x1 + {t} * {dx})", f"(y1 + {t} * {dy})"
    return f"(({px} - {cx}) * ({px} - {cx}) + ({py} - {cy}) * ({py} - {cy}))"


def point_segment_dist2(x: str, y: str):
    """Exact point→segment distance² as one codegen'd expression (clamped
    projection onto [x1,y1]-[x2,y2]; degenerate segment → endpoint
    distance). The identical association order is mirrored in every
    DuckDB oracle that shares it."""
    return F.expr(_dist2_sql(x, y))


def dwithin_polyline_join(
    points: DataFrame,
    polylines: DataFrame,
    dist: float,
    res: int,
    x: str = "x",
    y: str = "y",
    point_id: str = "doc_id",
    line_id: str = "edge_id",
    hot: DataFrame | None = None,
) -> DataFrame:
    """points × MULTI-VERTEX polylines within ``dist`` meters →
    (line_id, point_id, min_d2) — the real-street-edge form of J4 (the
    reference's edges are polylines, noise_graph_join/utils.py:23-30;
    dwithin_join handles the 2-vertex special case).

    Plan shape: polylines explode into their segments NARROWLY (an
    in-partition sequence explode — no shuffle, ~nv rows per line),
    each segment covers its dist-expanded bbox at ``res``, the
    cell-equi-join + exact distance² refine prunes BEFORE the single
    aggregation exchange, and groupBy(line, point) min collapses
    multi-segment duplicates while reporting the true polyline
    distance². Same skew valve as the segment path. Filter-then-min
    equals min-then-filter because any pair with a surviving segment
    has its global minimum among the survivors."""
    lid = ident(line_id)
    segs = polylines.selectExpr(
        lid, "explode(sequence(1, size(xs) - 1)) AS _i", "xs", "ys"
    ).selectExpr(
        lid,
        "element_at(xs, CAST(_i AS INT)) AS x1",
        "element_at(ys, CAST(_i AS INT)) AS y1",
        "element_at(xs, CAST(_i + 1 AS INT)) AS x2",
        "element_at(ys, CAST(_i + 1 AS INT)) AS y2",
    )
    g = with_dist_cover(segs, dist, res)
    p = with_point_cell(points, x, y, res)
    p, g, keys = _apply_salt(p, g, point_id, hot)
    cand = g.join(p, keys, "inner").drop(*keys)
    return (
        cand.withColumn("_d2", F.expr(_dist2_sql(x, y)))
        .filter(f"_d2 <= {dbl(dist * dist)}")
        .groupBy(line_id, point_id)
        .agg(F.expr("min(_d2) AS min_d2"))
    )
