"""Cell-indexed spatial joins — the engine's flagship operators.

Re-expresses the reference's R-tree sjoins
(J1/J2/J3: `/root/reference/src/noise_graph_join/utils.py:143-163`,
`:75-87`; J4 DWithin: `src/green_view_join_v1/green_view_join_v1.py:38-53`)
as: cell equi-join prefilter (native Columns, §spatial/cells) + exact
refinement.

Refinement strategy:
- rectangles (axis-aligned)  → native comparisons (whole-stage codegen)
- DWithin(point, segment, d) → native arithmetic (dist² ≤ d², no UDF)
- general polygon rings      → native even-odd ray-cast over vertex
                               arrays, split into horizontal edge
                               strips on polygons of many edges; the
                               WKB decode is one Arrow UDF over the
                               polygon rows, before the join

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
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from hope_graph_builder_spark.functions.sqltext import dbl, ident
from hope_graph_builder_spark.spatial.cells import cell_id_sql, cover_bbox_sql
from hope_graph_builder_spark.spatial.wkb import ring_vertex_lists

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

    Same cell prefilter as pip_join_rect; the exact refine is an
    even-odd ray-cast across ALL rings of all parts — inside-the-hole
    correctly does NOT match. Each polygon's WKB is decoded ONCE, before
    the cover explode, into vertex arrays (``_polygon_vertices``, an
    Arrow UDF over the polygon rows only); every candidate is then
    tested by a native array predicate (``_even_odd_sql``), so the
    point rows never leave the JVM. A polygon of more than
    ``_STRIP_EDGES`` edges is split into horizontal strips
    (``_edge_strips``) and a candidate tests only its strip's edges,
    so the interpreted per-candidate work stays near ``_STRIP_EDGES``
    edges whatever the vertex count. Bit-identical to
    spatial/kernels.points_in_rings. Requires bbox columns
    minx/miny/maxx/maxy on ``polys`` (cheap to precompute at ingest;
    keeps the cover native). Output: the point columns, then the
    polygon columns without ``geom`` and the bbox.
    """
    p = with_point_cell(points, x, y, res)
    g = with_cover_cells(
        _polygon_vertices(polys, geom, poly_id), "minx", "miny", "maxx", "maxy", res
    )
    p, g, keys = _apply_salt(p, g, point_id, hot)
    if broadcast_polys:
        g = F.broadcast(g)
    cand = p.join(g, keys, "inner").drop(*keys, "minx", "miny", "maxx", "maxy")
    return cand.filter(_even_odd_sql(x, y)).drop("_vx", "_vy", "_vs")


def _polygon_vertices(polys: DataFrame, geom: str, poly_id: str) -> DataFrame:
    """``polys`` with ``geom`` replaced by the vertex arrays ``_vx``/
    ``_vy`` of wkb.ring_vertex_lists (every ring closed, one NULL
    between rings), re-laid by ``_edge_strips`` with the strip header
    ``_vs`` on polygons of many edges. Rows whose geometry has no edge
    are dropped (they contain no point). A non-finite vertex raises
    ValueError naming the polygon: Spark orders NaN above every double
    where numpy compares it false, so the two refines would part ways
    on it."""
    vertex = ArrayType(DoubleType())
    schema = StructType(
        [f for f in polys.schema.fields if f.name != geom]
        + [StructField("_vx", vertex), StructField("_vy", vertex), StructField("_vs", vertex)]
    )

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            offsets, xs, ys, valid = ring_vertex_lists(b.column(geom).to_pylist())
            bad = np.flatnonzero(valid & ~(np.isfinite(xs) & np.isfinite(ys)))
            if len(bad):
                row = int(np.searchsorted(offsets, bad[0], side="right")) - 1
                raise ValueError(
                    f"{poly_id} {b.column(poly_id)[row].as_py()!r}: non-finite vertex"
                    f" ({xs[bad[0]]}, {ys[bad[0]]})"
                )
            offsets, xs, ys, valid, h_off, hv, striped = _edge_strips(offsets, xs, ys, valid)
            off = pa.array(offsets, pa.int32())
            cols = [b.column(f.name) for f in schema.fields[:-3]] + [
                pa.ListArray.from_arrays(off, pa.array(xs, mask=~valid)),
                pa.ListArray.from_arrays(off, pa.array(ys, mask=~valid)),
                pa.ListArray.from_arrays(
                    pa.array(h_off, pa.int32()), pa.array(hv, pa.float64()),
                    mask=pa.array(~striped),
                ),
            ]
            out = pa.RecordBatch.from_arrays(cols, names=schema.fieldNames())
            yield out.filter(pa.array(np.diff(offsets) > 0))

    return polys.mapInArrow(decode, schema)


_STRIP_EDGES = 8
_STRIP_GROWTH = 4


def _edge_strips(offsets, xs, ys, valid):
    """Horizontal strips over the vertex layout of wkb.ring_vertex_lists,
    so that a candidate tests the edges its ray can cross, not every
    edge of the polygon.

    A row with more than ``_STRIP_EDGES`` non-horizontal edges gets
    B = ceil(edges / _STRIP_EDGES) strips of height h over its edges'
    y-extent from y0. Its slots are re-laid strip after strip: strip k
    holds every non-horizontal edge whose y-range meets the strip, as
    runs of consecutive vertices with one invalid slot between runs.
    Its header is [y0, h, o_0, ..., o_B]: strip k owns the row's slots
    o_k:o_(k+1). A point at y reads strip floor(clip((y - y0) / h, 0,
    B - 1)); that map is monotone in y under IEEE rounding, so the
    strip holds every edge the ray at y straddles (min <= y < max).
    The edges it leaves out are horizontal or not straddled: they add
    no crossing, and the count's parity is unchanged. Other rows keep
    their slots and get no header, and so does a row whose strips would
    take more than ``_STRIP_GROWTH`` times its slots (edges that span
    many strips, as in a zig-zag, repeat in each), which bounds the
    growth of the cover exchange.

    Returns (offsets, xs, ys, valid, header offsets, header values,
    has-header mask)."""
    rows = len(offsets) - 1
    owner = np.repeat(np.arange(rows), np.diff(offsets))
    e = np.flatnonzero(valid[:-1] & valid[1:] & (owner[:-1] == owner[1:]) & (ys[:-1] != ys[1:]))
    r = owner[e]
    lo_y, hi_y = np.minimum(ys[e], ys[e + 1]), np.maximum(ys[e], ys[e + 1])
    nb = -(-np.bincount(r, minlength=rows) // _STRIP_EDGES)
    y0 = np.full(rows, np.inf)
    y1 = np.full(rows, -np.inf)
    np.minimum.at(y0, r, lo_y)
    np.maximum.at(y1, r, hi_y)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        h = (y1 - y0) / nb
    striped = (nb > 1) & np.isfinite(h) & (h > 0)

    def unstriped():
        return offsets, xs, ys, valid, np.zeros(rows + 1, np.int64), np.zeros(0), striped

    if not striped.any():
        return unstriped()
    keep = striped[r]
    e, r, lo_y, hi_y = e[keep], r[keep], lo_y[keep], hi_y[keep]

    def strip(v):
        return np.floor(np.clip((v - y0[r]) / h[r], 0, nb[r] - 1)).astype(np.int64)

    # one (row, strip, edge) triple per strip an edge meets, in slot order
    k0 = strip(lo_y)
    cnt = strip(hi_y) - k0 + 1
    pe, pr = np.repeat(e, cnt), np.repeat(r, cnt)
    pk = np.repeat(k0 - (np.cumsum(cnt) - cnt), cnt) + np.arange(cnt.sum())
    o = np.lexsort((pe, pk, pr))
    pe, pk, pr = pe[o], pk[o], pr[o]
    first = np.ones(len(pe), bool)
    first[1:] = (pr[1:] != pr[:-1]) | (pk[1:] != pk[:-1])
    run = first.copy()
    run[1:] |= pe[1:] != pe[:-1] + 1
    # slots per triple: [separator] + edge start, when it opens a run, + edge end
    width = 1 + run + (run & ~first)
    n_str = np.bincount(pr, weights=width, minlength=rows).astype(np.int64)
    striped &= n_str <= _STRIP_GROWTH * np.diff(offsets)
    if not striped.any():
        return unstriped()
    keep = striped[pr]
    pe, pk, pr, run, width = pe[keep], pk[keep], pr[keep], run[keep], width[keep]
    n_str[~striped] = 0
    end = np.cumsum(width)
    str_at = np.cumsum(n_str) - n_str
    new_off = np.concatenate([[0], np.cumsum(np.where(striped, n_str, np.diff(offsets)))])
    X, Y = np.zeros(new_off[-1]), np.zeros(new_off[-1])
    V = np.zeros(new_off[-1], bool)
    src = np.flatnonzero(~striped[owner])
    dst = src + (new_off[:-1] - offsets[:-1])[owner[src]]
    X[dst], Y[dst], V[dst] = xs[src], ys[src], valid[src]
    shift = new_off[:-1] - str_at
    at = end - 1 + shift[pr]
    X[at], Y[at], V[at] = xs[pe + 1], ys[pe + 1], True
    at = (end - 2 + shift[pr])[run]
    X[at], Y[at], V[at] = xs[pe[run]], ys[pe[run]], True
    # headers: [y0, h, 0, end of strip 0, ..., end of strip B - 1]
    hn = np.where(striped, nb + 3, 0)
    h_off = np.concatenate([[0], np.cumsum(hn)])
    hv = np.zeros(h_off[-1])
    rs = np.flatnonzero(striped)
    hv[h_off[rs]], hv[h_off[rs] + 1] = y0[rs], h[rs]
    ns = np.where(striped, nb, 0)
    s_at = np.cumsum(ns) - ns
    srow = np.repeat(rs, nb[rs])
    ends = np.cumsum(np.bincount(s_at[pr] + pk, weights=width, minlength=len(srow)))
    hv[h_off[srow] + 3 + np.arange(len(srow)) - s_at[srow]] = ends - str_at[srow]
    return new_off, X, Y, V, h_off, hv, striped


def _even_odd_sql(x: str, y: str) -> str:
    """Even-odd containment of the point (x, y) in the rings of
    ``_vx``/``_vy`` as SQL text: the number of edges (k, k + 1) the
    rightward ray crosses is odd. Only the slots of the point's strip
    are tested when the row has a strip header ``_vs`` (see
    ``_edge_strips``), all of them otherwise. The operation order is
    kernels.points_in_ring's, so both refines round alike; a NULL
    separator makes the CASE fall through to false, so no edge spans
    two rings or two runs. ``filter`` + ``size``, not ``aggregate``: an
    every-edge ``aggregate`` form made Spark 4.1 push an unresolvable
    filter onto the polygon side (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)
    when the join was a session's first query."""
    px, py = ident(x), ident(y)
    k = f"CAST(FLOOR(least(greatest(({py} - _vs[0]) / _vs[1], 0), size(_vs) - 4)) AS INT)"
    lo = f"if(_vs IS NULL, 0, CAST(_vs[{k} + 2] AS INT))"
    hi = f"if(_vs IS NULL, size(_vx), CAST(_vs[{k} + 3] AS INT))"
    crosses = (
        f"CASE WHEN (_vy[_e] > {py}) != (_vy[_e + 1] > {py}) "
        f"THEN {px} < _vx[_e] + ({py} - _vy[_e]) * (_vx[_e + 1] - _vx[_e])"
        " / (_vy[_e + 1] - _vy[_e]) ELSE false END"
    )
    return (
        f"CASE WHEN {hi} - {lo} >= 2"
        f" THEN size(filter(sequence({lo}, {hi} - 2), _e -> {crosses})) % 2 = 1 ELSE false END"
    )


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
    """Exact point→segment distance² as SQL text (clamped projection
    onto [x1,y1]-[x2,y2]; degenerate segment → endpoint distance). The
    identical association order is mirrored in every DuckDB oracle that
    shares it."""
    px, py = ident(x), ident(y)
    dx, dy = "(x2 - x1)", "(y2 - y1)"
    seg2 = f"({dx} * {dx} + {dy} * {dy})"
    t_raw = f"((({px} - x1) * {dx} + ({py} - y1) * {dy}) / {seg2})"
    t = f"(CASE WHEN {seg2} > 0 THEN least(greatest({t_raw}, 0.0D), 1.0D) ELSE 0.0D END)"
    cx, cy = f"(x1 + {t} * {dx})", f"(y1 + {t} * {dy})"
    return f"(({px} - {cx}) * ({px} - {cx}) + ({py} - {cy}) * ({py} - {cy}))"


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
