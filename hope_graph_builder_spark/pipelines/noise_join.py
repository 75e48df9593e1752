"""Flagship pipeline: the noise-graph spatial join, re-expressed as one
lazy DataFrame DAG (reference `/root/reference/src/noise_graph_join/
noise_graph_join.py:17-138`, traced in SURVEY.md §3.1).

Stage map (reference step → here):
  3  sampling points           sample_edges            (native explode)
  4  xy_id dedup (CSE)         with_xy_id + location_exposures
  5  nodata-zone flag          native rect predicate, or a pip_join_wkb
                               semi-join for a nodata polygon
  6  13-layer sjoin + dedup    location_exposures: 1 broadcast left
                               cell-join + 1 grouped max (dedup and
                               pivot in one shuffle — not 13 sjoins)
  7  missing split             native predicate
  8  kNN ring interpolation    ring_points + _left_cell_pivot +
                               exact 0.7-nearest quantile
  9  source coalesce/max/...   aggregate_noise_values
 10  union                     unionByName
 11  fan-out join              samples ⟕ all_samples on xy_id
 12  per-edge aggregate        aggregate_noises_by_edge
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hope_graph_builder_spark.functions.sqltext import dbl, ident
from hope_graph_builder_spark.operators.noise import (
    LAYER_NAMES,
    aggregate_noise_values,
    aggregate_noises_by_edge,
    interpolate_missing,
)
from hope_graph_builder_spark.operators.sampling import (
    ring_points,
    sample_edges,
    with_xy_id,
)
from hope_graph_builder_spark.spatial.cells import cover_bbox_sql

SAMPLE_COLS = [
    "xy_id", "road", "train", "tram", "metro",
    "n_max", "n_max_sources", "n_max_adj", "n_max_mask",
]

# the quantized location's coordinates, derived from xy_id (SQL text)
_X = "(FLOOR(xy_id / 10000000) / 10.0D)"
_Y = "(pmod(xy_id, 10000000) / 10.0D)"
# every layer column is NULL: the location got no noise value
_NO_NOISE = "(" + " AND ".join(f"{c} IS NULL" for c in LAYER_NAMES) + ")"


def _in_rect_sql(x: str, y: str, rect: tuple[float, float, float, float]) -> str:
    """Half-open containment of the SQL operands (x, y) in ``rect``."""
    x0, y0, x1, y1 = (dbl(v) for v in rect)
    return f"({x} >= {x0} AND {x} < {x1} AND {y} >= {y0} AND {y} < {y1})"


def unique_points(samples: DataFrame) -> DataFrame:
    """Distinct quantized sampling locations. The reference keeps the
    first duplicate's exact geometry (noise_graph_join.py:33); for
    deterministic distributed execution we use the quantized location
    itself (bin coordinate, 0.1 m grid) — documented deviation, same
    equivalence classes."""
    return samples.select("xy_id").distinct().selectExpr("xy_id", f"{_X} AS x", f"{_Y} AS y")


def noise_final_samples(
    edges: DataFrame,
    layers: DataFrame,
    nodata_rect: tuple[float, float, float, float] | None,
    res: int = 7,
    ring_radius: float = 7.0,
    ring_count: int = 20,
    nodata_polys: DataFrame | None = None,
    nodata_res: int = 4,
) -> DataFrame:
    """edges(edge_id, x1, y1, x2, y2, length) ×
    layers(layer, poly_id, minx, miny, maxx, maxy, db) →
    one row per edge sample with per-source dB, n_max, n_max_sources,
    n_max_adj (reference steps 3-11; input to the per-edge aggregate).

    Dedup + PIP + pivot run in ONE shuffle: the raw samples LEFT
    cell-join the broadcast layer cover at their QUANTIZED coordinates
    (identical evaluation points, so identical values) and one
    groupBy(xy_id) with map-side combine is simultaneously the dedup
    AND the per-layer max pivot (``location_exposures``); unmatched
    locations survive via the left join. Measured at 4N/MULT=400:
    42.5 → ~35 s end-to-end against an explicit distinct → inner
    cell-join → pivot → join-back shape.

    The nodata zone is ``nodata_rect`` (a native predicate) unless
    ``nodata_polys`` (poly_id, geom WKB, bbox) is given — general
    geometry, as the reference's nodata layer is a municipal-boundary
    multipolygon read from GeoPackage (noise_graph_join_test.py:90,
    noise_graph_join.py:41-47). The polygon form flags the distinct
    locations with an even-odd ``pip_join_wkb`` semi-join;
    ``nodata_res`` is coarse by default, because nodata zones are
    municipality-scale and big cells keep their cover linear.

    Miss-branch shape (each step oracle-pinned identical by the
    flagship queries):
    - rect zone: the miss input is a strip-only recompute. Only edges
      whose bbox (±0.1 m, covering the 0.05 m quantization shift)
      intersects the strip can yield strip samples, so the recompute
      explodes a tiny fraction of the edges, and the OR-form predicate
      pushes down to the parquet scan. ``pts.filter(missing)`` can't
      push this itself: the no-noise predicate needs the pivot's output.
    - polygon zone: no strip recompute (no benchmark workload runs
      this form); the miss input is ``pts.filter(missing)``.
    - the ring pivot is a LEFT broadcast cell-join + one aggregation
      (``_left_cell_pivot``) instead of inner PIP → pivot → join-back.
    - ``interp_vals`` has exactly one row per ``miss`` key by
      construction (every miss point spawns ring_count ring rows, the
      left join preserves them, both groupBys preserve keys), so no
      ``miss ⟕ interp_vals`` reassembly join is needed."""
    samples = with_xy_id(sample_edges(edges))

    if nodata_polys is None:
        in_rect = _in_rect_sql(_X, _Y, nodata_rect)

        def located(src: DataFrame, strip: tuple | None) -> DataFrame:
            return location_exposures(src, layers, res, strip=strip).selectExpr(
                "xy_id", f"{_X} AS x", f"{_Y} AS y", f"{in_rect} AS nodata_zone", *LAYER_NAMES,
            )

        pts = located(samples, None)
    else:
        from hope_graph_builder_spark.operators.spatial_join import pip_join_wkb

        loc = location_exposures(samples, layers, res).selectExpr(
            "xy_id", f"{_X} AS x", f"{_Y} AS y", *LAYER_NAMES
        )
        flags = (
            pip_join_wkb(
                loc.select("xy_id", "x", "y"), nodata_polys,
                res=nodata_res, point_id="xy_id",
            )
            .select("xy_id").distinct()
            .selectExpr("xy_id", "true AS _nz")
        )
        pts = loc.join(flags, "xy_id", "left").selectExpr(
            "xy_id", "x", "y", "coalesce(_nz, false) AS nodata_zone", *LAYER_NAMES,
        )

    pts = pts.withColumn("missing_noises", F.expr(f"nodata_zone AND {_NO_NOISE}"))
    normal = aggregate_noise_values(pts.filter("NOT missing_noises")).select(*SAMPLE_COLS)

    if nodata_polys is None:
        m = 0.1  # quantization moves a sample ≤0.05 m; margin 2×
        nx0, ny0, nx1, ny1 = nodata_rect
        near_strip = " AND ".join(
            f"({c}1 {op} {dbl(v)} OR {c}2 {op} {dbl(v)})"
            for c, op, v in (
                ("x", ">=", nx0 - m), ("x", "<", nx1 + m),
                ("y", ">=", ny0 - m), ("y", "<", ny1 + m),
            )
        )
        pre = edges.filter(near_strip)
        miss = located(with_xy_id(sample_edges(pre)), nodata_rect).filter(_NO_NOISE)
    else:
        miss = pts.filter("missing_noises")
    rings = ring_points(miss, radius=ring_radius, count=ring_count, keep=["xy_id"],
                        index_col="ring_i")
    ring_pivot = _left_cell_pivot(rings, layers, res, keys=["xy_id", "ring_i"])
    interp_vals = interpolate_missing(ring_pivot, ring_count=ring_count)
    interp = aggregate_noise_values(interp_vals, prefer_syke=True).select(*SAMPLE_COLS)

    all_samples = normal.unionByName(interp)
    return samples.join(all_samples, "xy_id", "left")


# layer name → its LAYER_NAMES position, evaluated ONCE on the (tiny,
# broadcast) polygon side so the hot per-candidate aggregation compares
# ints instead of strings (r06: 8 string equalities per candidate row ×
# 53M rows dominated the fused-agg CPU)
_LAYER_INDEX = (
    "CASE " + " ".join(f"WHEN layer = '{c}' THEN {i}" for i, c in enumerate(LAYER_NAMES)) + " END"
)


def _left_cell_pivot(
    points: DataFrame,
    layers: DataFrame,
    res: int,
    keys: list[str],
    x: str = "x",
    y: str = "y",
    res_bump: int = 0,
) -> DataFrame:
    """LEFT broadcast cell-join + one grouped 8-way max(CASE WHEN) —
    the fused PIP+pivot core shared by ``location_exposures`` and the
    ring branch. Exactly one aggregation over a stream-static broadcast
    join; unmatched points survive with all-null layer columns.
    Value-identical to pip_join_rect(inner) → pivot_layer_max →
    join-back (oracle-pinned), with zero join-backs.

    ``res_bump`` joins at a finer cell resolution than the caller's
    polygon-scale ``res`` — results are resolution-invariant (the exact
    bbox refine decides), only the candidate count changes. One step
    finer quarters the cell area, so far fewer non-hit (point, rect)
    candidate rows reach the aggregation (measured at bench scale:
    53M → 33M rows, 2.36 → 1.79 s for the big location pass) at the
    cost of ~4× cover rows on the (tiny, broadcast) polygon side.
    Callers bump only when the point side is large. Nothing bounds the
    cover explode here: no flagship path applies split_by_cover_size,
    so a layer polygon spanning n cells at the (bumped) resolution
    becomes n broadcast rows."""
    from hope_graph_builder_spark.operators.spatial_join import CELL, with_point_cell

    res = res + res_bump
    p = with_point_cell(points, x, y, res)
    cover = cover_bbox_sql("minx", "miny", "maxx", "maxy", res)
    g = F.broadcast(layers.selectExpr(
        f"explode({cover}) AS {CELL}", f"{_LAYER_INDEX} AS _li", "minx", "miny", "maxx", "maxy", "db"
    ))
    cand = p.join(g, CELL, "left")
    px, py = ident(x), ident(y)
    hit = f"{px} >= minx AND {px} < maxx AND {py} >= miny AND {py} < maxy"
    rows = cand.selectExpr(
        *[ident(k) for k in keys],
        f"CASE WHEN {hit} THEN _li END AS _li",
        f"CASE WHEN {hit} THEN db END AS db",
    )
    return rows.groupBy(*keys).agg(
        *[F.expr(f"max(CASE WHEN _li = {i} THEN db END) AS {c}") for i, c in enumerate(LAYER_NAMES)]
    )


def location_exposures(
    samples: DataFrame,
    layers: DataFrame,
    res: int,
    strip: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Location-level exposure table — the fused dedup+PIP+pivot core:
    raw samples LEFT-cell-join the broadcast layer cover at their
    QUANTIZED coordinates and ONE groupBy(xy_id) with map-side combine
    is simultaneously the location dedup AND the per-layer max pivot.
    Output: (xy_id, <one max-dB column per layer>); unmatched
    locations survive the left join with all-null layers.

    x / y are pure functions of xy_id, so they are NOT carried through
    the shuffle as first() buffers — callers re-derive them from xy_id
    (measured: dropping the derivable columns trims the fused partial
    rows ~19%).

    ``strip`` pre-filters samples to a rect BEFORE the join (the
    flagship's miss-branch recompute pushes the nodata filter down to
    the sample explode this way).

    Exactly one aggregation over a stream-static broadcast join — a
    legal Structured Streaming stage: streaming/noise_stream.py runs
    this same function over an edge STREAM and the test pins
    stream == batch equality."""
    sq = samples.selectExpr("xy_id", f"{_X} AS x", f"{_Y} AS y")
    if strip is not None:
        sq = sq.filter(_in_rect_sql("x", "y", strip))
    # the point side is corpus-sized here → join one res step finer
    # (fewer false candidates; see _left_cell_pivot docstring)
    return _left_cell_pivot(sq, layers, res, keys=["xy_id"], res_bump=1)


def run_noise_join(
    edges: DataFrame,
    layers: DataFrame,
    nodata_rect: tuple[float, float, float, float] | None,
    res: int = 7,
    ring_radius: float = 7.0,
    ring_count: int = 20,
    extent_rect: tuple[float, float, float, float] | None = None,
    nodata_polys: DataFrame | None = None,
    nodata_res: int = 4,
    extent_polys: list | None = None,
) -> DataFrame:
    """Full flagship: → edge_noises(edge_id, noises map, noise_source,
    noise_sources map). ``nodata_polys`` / ``nodata_res``: see
    ``noise_final_samples``.

    ``extent_rect`` enables the J3 three-valued semantics (reference
    noise_graph_update.py:36-44, gpd.sjoin op='within'): edges whose
    GEOMETRY is within the noise-data extent get the {} / '' defaults
    when unmatched; all other edges get noises=NULL / noise_source=NULL
    (nodata). For a rectangular (convex) extent and straight 2-vertex
    edges, geometry-within ⇔ BOTH endpoints inside — exactly the native
    predicate below, no refinement needed.

    ``extent_polys`` is the turnkey GENERAL-extent form (list of ring
    arrays, outer + holes, even-odd — the reference's extent is a real
    concave municipal polygon): within = both endpoints inside AND no
    boundary crossing (``segments_within_rings``), which differs from
    the endpoint-only predicate exactly when a segment exits and
    re-enters a concave region. Mutually exclusive with
    ``extent_rect``."""
    if extent_rect is not None and extent_polys is not None:
        raise ValueError("pass extent_rect OR extent_polys, not both")
    final = noise_final_samples(
        edges, layers, nodata_rect, res, ring_radius, ring_count,
        nodata_polys=nodata_polys, nodata_res=nodata_res,
    )
    # SLIM all-numeric projection into the fused single-pass edge
    # aggregate: ONE exchange for the entire tail (the old 2-pass +
    # reassembly-join tail cost 5 exchanges / 6 stages, and the
    # stage-launch floor was the measured N-vs-4N scaling bottleneck).
    # No persist: the fused aggregate is the only consumer.
    slim = final.select("edge_id", "sample_len", "n_max_adj", "n_max_mask")
    if extent_rect is None and extent_polys is None:
        # every edge yields ≥1 sample ⇒ the aggregate's group keys
        # already cover the full edge list — no reassembly join
        return aggregate_noises_by_edge(slim)
    if extent_polys is not None:
        from hope_graph_builder_spark.operators.geometry import edges_within_rings

        return aggregate_noises_by_edge(
            slim,
            edges_all=edges_within_rings(edges, extent_polys),
            extent_flag="in_extent",
        )
    # within(convex rect) ⇔ both endpoints inside (see docstring)
    edges_flagged = edges.selectExpr(
        "edge_id",
        f"{_in_rect_sql('x1', 'y1', extent_rect)} AND {_in_rect_sql('x2', 'y2', extent_rect)}"
        " AS in_extent",
    )
    # (edges_flagged is the preserved side of the left join, so it
    # cannot be broadcast; it re-shuffles on edge_id — extent mode only)
    return aggregate_noises_by_edge(
        slim, edges_all=edges_flagged, extent_flag="in_extent"
    )
