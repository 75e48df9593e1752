"""Contract entries for the GVI, overlay, export and graph-import
pipelines (reference §3.2-§3.3 operators: J4/A10/A11, J7/A9/J8,
F12-F18, P2/P3/J10/G1-G4)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hope_graph_builder_spark import synth
from hope_graph_builder_spark.contract import register
from hope_graph_builder_spark.functions.rowexprs import (
    biking_length,
    geojson_line_feature,
)
from hope_graph_builder_spark.operators.graph import (
    connected_components,
    strongly_connected_components,
)
from hope_graph_builder_spark.pipelines.graph_import import (
    build_graph,
    edges_with_attrs,
    filter_traversable,
    run_graph_import,
)
from hope_graph_builder_spark.pipelines.green_view import (
    gvi_mean_per_edge,
    rescale_gvi,
    update_gvi_attributes,
)
from hope_graph_builder_spark.pipelines.noise_join import run_noise_join
from hope_graph_builder_spark.pipelines.overlay import overlay_share_rect
from hope_graph_builder_spark import oracle
from hope_graph_builder_spark.oracle import flagship_ctes


def _edges(spark, sf_dir):
    return synth.page_edges(spark, sf_dir)


# ------------------------------------------------------------ green view --

_SQL_GVI_MEAN = f"""
WITH pts AS (SELECT gvi_id, x, y, round_even(gvi_raw / 100.0, 3) AS GVI
             FROM ({{gvi_pts}}) g),
edges AS ({{edges}}),
j AS (
  SELECT e.edge_id, e.length, p.GVI
  FROM edges e JOIN pts p ON (
    CASE WHEN (e.x2-e.x1)*(e.x2-e.x1) + (e.y2-e.y1)*(e.y2-e.y1) > 0 THEN
      (p.x - (e.x1 + least(greatest(((p.x-e.x1)*(e.x2-e.x1) + (p.y-e.y1)*(e.y2-e.y1))
          / ((e.x2-e.x1)*(e.x2-e.x1) + (e.y2-e.y1)*(e.y2-e.y1)), 0.0), 1.0) * (e.x2-e.x1)))
      * (p.x - (e.x1 + least(greatest(((p.x-e.x1)*(e.x2-e.x1) + (p.y-e.y1)*(e.y2-e.y1))
          / ((e.x2-e.x1)*(e.x2-e.x1) + (e.y2-e.y1)*(e.y2-e.y1)), 0.0), 1.0) * (e.x2-e.x1)))
      + (p.y - (e.y1 + least(greatest(((p.x-e.x1)*(e.x2-e.x1) + (p.y-e.y1)*(e.y2-e.y1))
          / ((e.x2-e.x1)*(e.x2-e.x1) + (e.y2-e.y1)*(e.y2-e.y1)), 0.0), 1.0) * (e.y2-e.y1)))
      * (p.y - (e.y1 + least(greatest(((p.x-e.x1)*(e.x2-e.x1) + (p.y-e.y1)*(e.y2-e.y1))
          / ((e.x2-e.x1)*(e.x2-e.x1) + (e.y2-e.y1)*(e.y2-e.y1)), 0.0), 1.0) * (e.y2-e.y1)))
    ELSE (p.x - e.x1)*(p.x - e.x1) + (p.y - e.y1)*(p.y - e.y1) END
  ) <= 900.0
)
SELECT edge_id, n,
       CASE WHEN n >= (CASE WHEN length > 20.0 THEN floor((length / 10.0) * 0.5) ELSE 1 END)
            THEN round_even(CAST(s AS DOUBLE) / n, 2) END AS mean_gvi
FROM (SELECT edge_id, count(*) AS n, sum(CAST(GVI AS DECIMAL(9,3))) AS s,
             min(length) AS length
      FROM j GROUP BY edge_id)
"""


@register(
    "gvi_mean_per_edge",
    _SQL_GVI_MEAN.format(gvi_pts=synth.sql_gvi_points(), edges=synth.sql_edges()),
)
def q_gvi_mean(spark, sf_dir):
    """J4+A10+A11: DWithin(30 m) GVI samples → gated mean per edge."""
    pts = rescale_gvi(synth.gvi_points(spark, sf_dir))
    return gvi_mean_per_edge(_edges(spark, sf_dir), pts)


_SQL_OVERLAY_SHARE = f"""
  SELECT edge_id, veg_class,
         (CAST(sum(area_q) AS DOUBLE) / 1000000.0) / min(buf_area) AS share
  FROM (
    SELECT b.edge_id, v.veg_class, v.poly_id, b.buf_area,
           CAST(floor(greatest(0.0, least(b.bmaxx, v.maxx) - greatest(b.bminx, v.minx))
                * greatest(0.0, least(b.bmaxy, v.maxy) - greatest(b.bminy, v.miny))
                * 1000000.0) AS BIGINT) AS area_q
    FROM (
      SELECT edge_id,
             least(x1, x2) - 30.0 AS bminx, greatest(x1, x2) + 30.0 AS bmaxx,
             least(y1, y2) - 30.0 AS bminy, greatest(y1, y2) + 30.0 AS bmaxy,
             ((greatest(x1, x2) + 30.0) - (least(x1, x2) - 30.0))
             * ((greatest(y1, y2) + 30.0) - (least(y1, y2) - 30.0)) AS buf_area
      FROM ({synth.sql_edges()})
    ) b JOIN ({synth.sql_veg_duckdb()}) v
      ON b.bminx < v.maxx AND b.bmaxx > v.minx AND b.bminy < v.maxy AND b.bmaxy > v.miny
  ) WHERE area_q > 0 GROUP BY edge_id, veg_class
"""


@register(
    "gvi_attributes",
    f"""
    WITH mg AS ({_SQL_GVI_MEAN.format(gvi_pts=synth.sql_gvi_points(), edges=synth.sql_edges())}),
    sh AS ({_SQL_OVERLAY_SHARE}),
    pv AS (
      SELECT edge_id,
             round_even(coalesce(max(CASE WHEN veg_class = 'low' THEN share END), 0.0), 3) AS lowv,
             round_even(coalesce(max(CASE WHEN veg_class = 'high' THEN share END), 0.0), 3) AS highv
      FROM sh GROUP BY edge_id
    ),
    joined AS (
      SELECT e.edge_id, mg.mean_gvi AS gvi_gsv,
             coalesce(pv.lowv, 0.0) AS gvi_low_veg_share,
             coalesce(pv.highv, 0.0) AS gvi_high_veg_share
      FROM ({synth.sql_edges()}) e
      LEFT JOIN mg USING (edge_id) LEFT JOIN pv USING (edge_id)
    )
    SELECT edge_id, gvi_gsv, gvi_low_veg_share, gvi_high_veg_share,
      CASE WHEN gvi_gsv IS NOT NULL AND gvi_gsv != 0.0 THEN round_even(gvi_gsv, 2)
           WHEN gvi_high_veg_share + CAST(0.6 AS DOUBLE) * gvi_low_veg_share <= 1.0
             THEN round_even(gvi_high_veg_share + CAST(0.6 AS DOUBLE) * gvi_low_veg_share, 2)
           ELSE 1.0 END AS gvi_comb_gsv_veg,
      CASE WHEN gvi_gsv IS NOT NULL AND gvi_gsv != 0.0 THEN round_even(gvi_gsv, 2)
           ELSE round_even(gvi_high_veg_share, 2) END AS gvi_comb_gsv_high_veg
    FROM joined
    """,
)
def q_gvi_attributes(spark, sf_dir):
    """F18/G5 write-back: combined GVI columns per edge."""
    edges = _edges(spark, sf_dir)
    pts = rescale_gvi(synth.gvi_points(spark, sf_dir))
    mean_gvi = gvi_mean_per_edge(edges, pts)
    shares = overlay_share_rect(edges, synth.veg_rects(spark)).groupBy("edge_id").pivot(
        "veg_class", ["low", "high"]
    ).agg(F.first("share"))
    shares = shares.select(
        "edge_id",
        F.bround(F.coalesce("low", F.lit(0.0)), 3).alias("low_veg_share"),
        F.bround(F.coalesce("high", F.lit(0.0)), 3).alias("high_veg_share"),
    )
    return update_gvi_attributes(edges, mean_gvi, shares)


# --------------------------------------------------------------- overlay --

@register(
    "overlay_veg_share",
    f"""
    WITH edges AS ({synth.sql_edges()}),
    veg AS ({synth.sql_veg_duckdb()}),
    b AS (
      SELECT edge_id,
             least(x1, x2) - 30.0 AS bminx, greatest(x1, x2) + 30.0 AS bmaxx,
             least(y1, y2) - 30.0 AS bminy, greatest(y1, y2) + 30.0 AS bmaxy,
             -- same op order as the engine: (max+30) - (min-30), not (max-min)+60
             ((greatest(x1, x2) + 30.0) - (least(x1, x2) - 30.0))
             * ((greatest(y1, y2) + 30.0) - (least(y1, y2) - 30.0)) AS buf_area
      FROM edges
    ),
    inter AS (
      SELECT b.edge_id, v.veg_class, v.poly_id, b.buf_area,
             CAST(floor(greatest(0.0, least(b.bmaxx, v.maxx) - greatest(b.bminx, v.minx))
                  * greatest(0.0, least(b.bmaxy, v.maxy) - greatest(b.bminy, v.miny))
                  * 1000000.0) AS BIGINT) AS area_q
      FROM b JOIN veg v
        ON b.bminx < v.maxx AND b.bmaxx > v.minx AND b.bminy < v.maxy AND b.bmaxy > v.miny
    )
    SELECT edge_id, veg_class,
           (CAST(sum(area_q) AS DOUBLE) / 1000000.0) / min(buf_area) AS share
    FROM inter WHERE area_q > 0 GROUP BY edge_id, veg_class
    """,
)
def q_overlay(spark, sf_dir):
    """J7+A9+J8: buffer × vegetation overlay, dissolved share per edge."""
    return overlay_share_rect(_edges(spark, sf_dir), synth.veg_rects(spark))


@register(
    "overlay_concave",
    f"""
    WITH edges AS ({synth.sql_concave_edges()}),
    b AS (
      SELECT edge_id,
             least(x1, x2) - 30.0 AS bminx, greatest(x1, x2) + 30.0 AS bmaxx,
             least(y1, y2) - 30.0 AS bminy, greatest(y1, y2) + 30.0 AS bmaxy,
             ((greatest(x1, x2) + 30.0) - (least(x1, x2) - 30.0))
             * ((greatest(y1, y2) + 30.0) - (least(y1, y2) - 30.0)) AS buf_area
      FROM edges
    ),
    r AS ({synth.sql_concave_rects_duckdb()}),
    pair AS (
      SELECT b.edge_id, r.veg_class, r.poly_id, min(b.buf_area) AS buf_area,
             sum(sgn
                 * greatest(0.0, least(b.bmaxx, r.rmaxx) - greatest(b.bminx, r.rminx))
                 * greatest(0.0, least(b.bmaxy, r.rmaxy) - greatest(b.bminy, r.rminy))
             ) AS area
      FROM b JOIN r
        ON b.bminx < r.rmaxx AND b.bmaxx > r.rminx
       AND b.bminy < r.rmaxy AND b.bmaxy > r.rminy
      GROUP BY b.edge_id, r.veg_class, r.poly_id
    ),
    q AS (
      SELECT edge_id, veg_class, buf_area,
             CAST(round(area * 100.0) AS BIGINT) AS area_qv
      FROM pair
    )
    SELECT edge_id, veg_class,
           (CAST(sum(area_qv) AS DOUBLE) / 100.0) / min(buf_area) AS share
    FROM q WHERE area_qv > 0 GROUP BY edge_id, veg_class
    """,
)
def q_overlay_concave(spark, sf_dir):
    """J7/A9 GENERAL overlay: CONCAVE hole-bearing vegetation polygons
    (the reference's real land-cover shape,
    land_cover_overlay_analysis.py:87-143) × edge buffers, exact
    intersection-area share. Engine: signed-fan × Sutherland–Hodgman
    kernel over the raw WKB rings (overlay_share_general — it never
    sees the decomposition); oracle: the closed-form signed-rectangle
    decomposition of the same fixture. Integer-valued true areas make
    the 0.01 m² quantization exact on both sides."""
    from hope_graph_builder_spark.pipelines.overlay import overlay_share_general

    return overlay_share_general(
        synth.concave_edges(spark, sf_dir),
        synth.concave_polys(spark),
        res=8, dist=30.0, area_q=100.0,
    )


@register(
    "overlay_capsule",
    f"""
    WITH edges AS ({synth.sql_capsule_edges()}),
    polys AS ({synth.sql_capsule_polys_duckdb()}),
    pair AS (
      SELECT e.edge_id, p.veg_class, p.poly_id,
             sqrt((e.x2 - e.x1) * (e.x2 - e.x1) + (e.y2 - e.y1) * (e.y2 - e.y1)) * 60.0
               + pi() * 900.0 AS buf_area,
             greatest(0.0, least(greatest(e.x1, e.x2), p.maxx) - greatest(least(e.x1, e.x2), p.minx))
             * greatest(0.0, least(e.y1 + 30.0, p.maxy) - greatest(e.y1 - 30.0, p.miny))
             + (CASE WHEN e.x1 - 30.0 >= p.minx AND e.x1 + 30.0 <= p.maxx
                      AND e.y1 - 30.0 >= p.miny AND e.y1 + 30.0 <= p.maxy
                 THEN pi() * 450.0 ELSE 0.0 END)
             + (CASE WHEN e.x2 - 30.0 >= p.minx AND e.x2 + 30.0 <= p.maxx
                      AND e.y2 - 30.0 >= p.miny AND e.y2 + 30.0 <= p.maxy
                 THEN pi() * 450.0 ELSE 0.0 END)
             AS area
      FROM edges e JOIN polys p
        ON least(e.x1, e.x2) - 30.0 < p.maxx AND greatest(e.x1, e.x2) + 30.0 > p.minx
       AND e.y1 - 30.0 < p.maxy AND e.y1 + 30.0 > p.miny
    ),
    q AS (
      SELECT edge_id, veg_class, buf_area,
             CAST(round(area * 1000.0) AS BIGINT) AS area_qv
      FROM pair
    )
    SELECT edge_id, veg_class,
           (CAST(sum(area_qv) AS DOUBLE) / 1000.0) / min(buf_area) AS share
    FROM q WHERE area_qv > 0 GROUP BY edge_id, veg_class
    """,
)
def q_overlay_capsule(spark, sf_dir):
    """J7 with TRUE round-cap buffers (overlay_share_round): the
    engine integrates each capsule's circular caps exactly
    (Green's-theorem disk kernel); the oracle's closed form holds
    because the fixture keeps every cap disk cleanly inside (πr²/2)
    or outside (0) its polygon while the core rectangle crosses
    boundaries for real. The reference itself only approximates these
    caps (ST_Buffer quad_segs=8)."""
    from hope_graph_builder_spark.pipelines.overlay import overlay_share_round

    return overlay_share_round(
        synth.capsule_edges(spark, sf_dir),
        synth.capsule_polys(spark),
        res=7, dist=30.0, area_q=1000.0,
    )


@register(
    "f10_dissolve_union",
    f"""
    WITH veg AS ({synth.sql_veg_overlapping_duckdb()}),
    t AS (
      SELECT *, CAST(floor(minx / 10000) AS BIGINT) * 1000
                + CAST(floor(miny / 10000) AS BIGINT) AS tile
      FROM veg
    ),
    cells AS (
      SELECT DISTINCT tile, veg_class,
             CAST(minx / 200 AS BIGINT) + cx.range AS cellx,
             CAST(miny / 200 AS BIGINT) + cy.range AS celly
      FROM t, range(0, 8) cx, range(0, 8) cy
    )
    SELECT tile, veg_class,
           CAST(count(*) AS DOUBLE) * CAST(40000 AS DOUBLE) AS union_area
    FROM cells GROUP BY tile, veg_class
    """,
)
def q_f10_dissolve(spark, sf_dir):
    """F10 general dissolve (unary_union): exact union AREA of
    overlapping same-class polygons per map tile — the case the
    disjoint-sum overlay cannot handle. Engine: coordinate-compression
    kernel per group (applyInPandas); oracle: exact 200 m cell
    counting on the integer-aligned fixture (every rect side is a
    multiple of 200, so cell count × 40000 IS the union area)."""
    from hope_graph_builder_spark.pipelines.overlay import dissolve_union_area

    veg = synth.veg_rects_overlapping(spark)
    t = veg.select(
        (
            F.floor(F.col("minx") / 10000).cast("long") * 1000
            + F.floor(F.col("miny") / 10000).cast("long")
        ).alias("tile"),
        "veg_class", "minx", "miny", "maxx", "maxy",
    )
    return dissolve_union_area(t)


@register(
    "f10_dissolve_parts",
    f"""
    WITH veg AS ({synth.sql_veg_overlapping_duckdb()}),
    t AS (
      SELECT *, CAST(floor(minx / 10000) AS BIGINT) * 1000
                + CAST(floor(miny / 10000) AS BIGINT) AS tile
      FROM veg
    ),
    cells AS (
      SELECT DISTINCT tile, veg_class,
             CAST(minx / 200 AS BIGINT) + cx.range AS cellx,
             CAST(miny / 200 AS BIGINT) + cy.range AS celly
      FROM t, range(0, 8) cx, range(0, 8) cy
    )
    SELECT tile, veg_class,
           CAST(count(*) AS DOUBLE) * CAST(40000 AS DOUBLE) AS union_area
    FROM cells GROUP BY tile, veg_class
    """,
)
def q_f10_dissolve_parts(spark, sf_dir):
    """F10 dissolve GEOMETRY: the engine emits the union's disjoint
    rectangle decomposition (dissolve_union_geometry — one row per
    part, scalar bounds + WKB), then re-aggregates the emitted parts'
    areas. Exactness of the geometry output: sum of emitted disjoint
    part areas must equal the independent union area the oracle
    computes by 200 m cell counting. Part areas are multiples of
    40000 (integer-valued < 2^53), so the float sum is exact and
    order-free."""
    from hope_graph_builder_spark.pipelines.overlay import dissolve_union_geometry

    veg = synth.veg_rects_overlapping(spark)
    t = veg.select(
        (
            F.floor(F.col("minx") / 10000).cast("long") * 1000
            + F.floor(F.col("miny") / 10000).cast("long")
        ).alias("tile"),
        "veg_class", "minx", "miny", "maxx", "maxy",
    )
    parts = dissolve_union_geometry(t)
    return parts.groupBy("tile", "veg_class").agg(
        F.sum(
            (F.col("maxx") - F.col("minx")) * (F.col("maxy") - F.col("miny"))
        ).alias("union_area")
    )


@register(
    "f10_dissolve_concave",
    synth.sql_dissolve_concave_union_duckdb(),
)
def q_f10_dissolve_concave(spark, sf_dir):
    """F10 GENERAL dissolve: union GEOMETRY of overlapping CONCAVE
    hole-bearing polygons (the reference's unary_union over arbitrary
    layers, get_nodata_areas.py:36-37) via the trapezoid-sweep kernel
    (dissolve_union_geometry_general). Exactness of the emitted
    geometry: the disjoint parts' summed area must equal the union
    area the oracle computes independently by 100 m cell counting on
    the rectilinear decomposition. Integer-valued areas ⇒ the float
    sum is exact on both sides."""
    from hope_graph_builder_spark.pipelines.overlay import (
        dissolve_union_geometry_general,
    )

    parts = dissolve_union_geometry_general(
        synth.dissolve_concave_polys(spark), group_cols=["tile"]
    )
    return parts.groupBy("tile").agg(
        F.round(F.sum("part_area"), 0).alias("union_area")
    )


# ---------------------------------------------------------------- export --

@register(
    "export_noise_stats",
    f"""
    WITH {flagship_ctes()},
    exp AS (
      SELECT edge_id, CAST(n_max_adj AS INT) AS db,
             round_even(count(*) * min(sample_len), 5) AS exposure
      FROM final_samples WHERE n_max_adj IS NOT NULL
      GROUP BY edge_id, n_max_adj
    ),
    edge_exp AS (
      SELECT e.edge_id, e.length,
             coalesce(x.tot, 0.0) AS noise_len,
             coalesce(x.s, 0.0) AS weighted
      FROM edges e LEFT JOIN (
        SELECT edge_id,
               CAST(sum(CAST(exposure AS DECIMAL(20,5))) AS DOUBLE) AS tot,
               CAST(sum(CAST((db + 2.5) AS DECIMAL(10,1)) * CAST(exposure AS DECIMAL(20,5))) AS DOUBLE) AS s
        FROM exp GROUP BY edge_id
      ) x USING (edge_id)
    )
    SELECT edge_id,
           round_even(weighted / length, 1) AS mean_db,
           CASE WHEN length - noise_len > 0 THEN length - noise_len ELSE 0.0 END AS db40_len
    FROM edge_exp
    """,
)
def q_export_noise_stats(spark, sf_dir):
    """F13+F14 on the flagship output maps (decimal inner products —
    order-free, oracle-exact)."""
    edges = _edges(spark, sf_dir)
    noises = run_noise_join(edges, synth.noise_layers(spark), synth.NODATA_RECT, res=9)
    j = noises.join(edges.select("edge_id", "length"), "edge_id")
    # decimal-exact Σ(db+2.5)·exposure to mirror the oracle
    s = F.aggregate(
        F.map_entries("noises"),
        F.lit(0).cast("decimal(30,10)"),
        lambda a, e: (
            a + (e["key"] + F.lit(2.5)).cast("decimal(10,1)") * e["value"].cast("decimal(20,5)")
        ).cast("decimal(30,10)"),
    ).cast("double")
    tot = F.aggregate(
        F.map_entries("noises"),
        F.lit(0).cast("decimal(30,10)"),
        lambda a, e: (a + e["value"].cast("decimal(20,5)")).cast("decimal(30,10)"),
    ).cast("double")
    return j.select(
        "edge_id",
        F.bround(s / F.col("length"), 1).alias("mean_db"),
        F.when(F.col("length") - tot > 0, F.col("length") - tot)
        .otherwise(F.lit(0.0))
        .alias("db40_len"),
    )


@register(
    "export_biking_len",
    f"""
    WITH edges AS ({synth.sql_edges()})
    SELECT edge_id,
           round_even(length * (CAST(1 AS DOUBLE)
             + (((edge_id * {synth.A3} + {synth.C3}) % {synth.MOD}) % 100) / CAST(100 AS DOUBLE)), 3)
           AS biking_len
    FROM edges
    """,
)
def q_biking(spark, sf_dir):
    """F15: biking length = round(length × safety factor, 3)."""
    e = edges_with_attrs(spark, sf_dir)
    return e.select(
        "edge_id", biking_length(F.col("length"), F.col("bike_safety_factor")).alias("biking_len")
    )


_PRIO_SQL = "CASE src WHEN 'road' THEN 0 WHEN 'train' THEN 1 WHEN 'tram' THEN 2 WHEN 'metro' THEN 3 END"


@register(
    "export_geojson",
    f"""
    WITH {flagship_ctes()},
    src_rows AS (
      SELECT edge_id, src, count(*) AS cnt
      FROM (SELECT edge_id, unnest(n_max_sources) AS src FROM final_samples)
      WHERE src IS NOT NULL GROUP BY edge_id, src
    ),
    ranked AS (
      SELECT edge_id, src,
             row_number() OVER (PARTITION BY edge_id ORDER BY cnt DESC, {_PRIO_SQL} ASC) AS rn
      FROM src_rows
    )
    SELECT e.edge_id, e.x1, e.y1, e.x2, e.y2,
           coalesce(r.src, '') AS noise_source,
           length(coalesce(r.src, '')) > 0 AS has_props
    FROM edges e
    LEFT JOIN (SELECT edge_id, src FROM ranked WHERE rn = 1) r USING (edge_id)
    """,
)
def q_geojson(spark, sf_dir):
    """S11/F20: line-delimited GeoJSON features with the main noise
    source as a property. The feature is assembled with to_json (its
    validity + field layout is pytest-asserted:
    test_geojson_feature_is_valid_json); the oracle checks the exact
    scalar content that goes INTO the feature (JSON float formatting
    itself is engine-specific, so the text is not hash-compared)."""
    edges = _edges(spark, sf_dir)
    noises = run_noise_join(edges, synth.noise_layers(spark), synth.NODATA_RECT, res=7)
    j = noises.join(edges, "edge_id")
    feats = j.select(
        "edge_id", "x1", "y1", "x2", "y2", "noise_source",
        geojson_line_feature(
            F.col("edge_id"),
            F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"),
            {"noise_source": F.col("noise_source")},
        ).alias("feature"),
    )
    return feats.select(
        "edge_id", "x1", "y1", "x2", "y2", "noise_source",
        # derived FROM the assembled JSON feature so the sink itself is
        # exercised under the oracle: the property survives round-trip
        (F.get_json_object("feature", "$.properties.noise_source") != F.lit("")).alias("has_props"),
    )


# ------------------------------------------------- P4 / F9 geometry ops --

_P4_AOI = (47700.5, 47700.5, 48900.5, 48900.5)


@register(
    "p4_boundary_filter",
    f"""
    WITH layers AS ({synth.sql_layers_duckdb()})
    SELECT layer, poly_id FROM layers
    WHERE (minx <= {_P4_AOI[2]} AND maxx >= {_P4_AOI[0]}
           AND miny <= {_P4_AOI[3]} AND maxy >= {_P4_AOI[1]})
      AND NOT (minx < {_P4_AOI[0]} AND maxx > {_P4_AOI[2]}
               AND miny < {_P4_AOI[1]} AND maxy > {_P4_AOI[3]})
    """,
)
def q_p4_boundary(spark, sf_dir):
    """P4 boundary-intersects filter (noise_data_preprocessing.py:43-47):
    keep polygons whose BOUNDARY touches the AOI. The engine runs the
    general ring-segment slab test (exists over segments, codegen); the
    oracle is the independent closed-form for rectangles (bbox overlap
    AND NOT strict-containment) — two formulations, same truth table."""
    from hope_graph_builder_spark.operators.geometry import (
        ring_boundary_intersects_rect,
    )

    layers = synth.noise_layers(spark)
    ring = layers.select(
        "layer", "poly_id",
        F.array("minx", "maxx", "maxx", "minx", "minx").alias("xs"),
        F.array("miny", "miny", "maxy", "maxy", "miny").alias("ys"),
    )
    return ring.filter(
        ring_boundary_intersects_rect(F.col("xs"), F.col("ys"), _P4_AOI)
    ).select("layer", "poly_id")


@register(
    "f9_multipart_explode",
    f"""
    WITH pts AS ({synth.sql_points()}),
    parts AS (SELECT doc_id, x, y, unnest(range(0, 1 + doc_id % 3)) AS k FROM pts)
    SELECT doc_id, CAST(k AS INT) AS part_i,
           CAST(CASE WHEN (doc_id + k) % 4 = 0 THEN 2 ELSE 1 END AS INT) AS n_rings,
           x + k * CAST(37 AS DOUBLE) AS minx,
           y + k * CAST(23 AS DOUBLE) AS miny,
           (x + k * CAST(37 AS DOUBLE)) + CAST(10 + (doc_id * 7 + k * 13) % 50 AS DOUBLE) AS maxx,
           (y + k * CAST(23 AS DOUBLE)) + CAST(8 + (doc_id * 11 + k * 17) % 40 AS DOUBLE) AS maxy
    FROM parts
    """,
)
def q_f9_explode(spark, sf_dir):
    """F9 multi→single explode (noise_data_preprocessing.py:26-41):
    deterministic multipolygon WKB (1-3 rect parts, some with hole
    rings) → encode → decode + explode via Arrow mapInPandas → one row
    per part with ring count and outer bbox. The oracle recomputes the
    parts from the generator rules — the WKB round-trip must be exact."""
    from hope_graph_builder_spark.operators.geometry import (
        explode_multipolygon,
        synth_multipolygons,
    )

    pts = synth.page_points(spark, sf_dir).select("doc_id", "x", "y")
    geoms = synth_multipolygons(pts)
    return explode_multipolygon(geoms)


@register(
    "pip_wkb_donut",
    f"""
    WITH pts AS ({synth.sql_points()}),
    gen AS (SELECT doc_id, x, y FROM pts WHERE doc_id % 25 = 0),
    parts AS (SELECT doc_id, x, y, unnest(range(0, 1 + doc_id % 3)) AS k FROM gen),
    outer_r AS (
      SELECT doc_id,
             x + k * CAST(37 AS DOUBLE) AS rminx,
             y + k * CAST(23 AS DOUBLE) AS rminy,
             (x + k * CAST(37 AS DOUBLE)) + CAST(10 + (doc_id * 7 + k * 13) % 50 AS DOUBLE) AS rmaxx,
             (y + k * CAST(23 AS DOUBLE)) + CAST(8 + (doc_id * 11 + k * 17) % 40 AS DOUBLE) AS rmaxy,
             k, (doc_id + k) % 4 = 0 AS has_hole
      FROM parts
    ),
    rings AS (
      SELECT doc_id, rminx, rminy, rmaxx, rmaxy FROM outer_r
      UNION ALL
      SELECT doc_id,
             rminx + CAST(2 AS DOUBLE),
             rminy + CAST(2 AS DOUBLE),
             rminx + CAST(2 AS DOUBLE) + CAST(1 + (doc_id + k) % 3 AS DOUBLE),
             rminy + CAST(2 AS DOUBLE) + CAST(1 + (doc_id + k) % 2 AS DOUBLE)
      FROM outer_r WHERE has_hole
    )
    SELECT p.doc_id, r.doc_id AS poly_id
    FROM pts p JOIN rings r
      ON p.x >= r.rminx AND p.x < r.rmaxx AND p.y >= r.rminy AND p.y < r.rmaxy
    GROUP BY p.doc_id, r.doc_id
    HAVING count(*) % 2 = 1
    """,
)
def q_pip_wkb_donut(spark, sf_dir):
    """J1 general-polygon PIP with HOLES and overlapping MULTIPARTS:
    the even-odd refine across all rings (operators/spatial_join.
    pip_join_wkb). The oracle expresses the identical even-odd rule in
    pure SQL — per (point, polygon), the number of containing rings
    (outers + holes, half-open rect containment ≡ the ray-cast
    convention for axis-aligned rings) must be odd. Inside-the-hole
    points and even-overlap cancellations correctly do NOT match."""
    from hope_graph_builder_spark.operators.geometry import (
        explode_multipolygon,
        synth_multipolygons,
    )
    from hope_graph_builder_spark.operators.spatial_join import pip_join_wkb

    pts = synth.page_points(spark, sf_dir).select("doc_id", "x", "y")
    gen = pts.filter(F.col("doc_id") % 25 == 0)
    geoms = synth_multipolygons(gen)
    bbox = explode_multipolygon(geoms).groupBy("doc_id").agg(
        F.min("minx").alias("minx"), F.min("miny").alias("miny"),
        F.max("maxx").alias("maxx"), F.max("maxy").alias("maxy"),
    )
    polys = (
        geoms.join(bbox, "doc_id")
        .select(F.col("doc_id").alias("poly_id"), "geom", "minx", "miny", "maxx", "maxy")
    )
    return pip_join_wkb(pts, polys, res=7).select("doc_id", "poly_id")


@register("noise_nodata_poly", oracle.sql_noise_exposures())
def q_noise_nodata_poly(spark, sf_dir):
    """Flagship with the nodata zone given as GENERAL GEOMETRY (WKB
    polygon through the even-odd PIP semi-join) instead of a rect
    predicate — the reference's nodata layer is a multipolygon
    GeoPackage layer (noise_graph_join.py:41-47). The polygon here
    encodes exactly NODATA_RECT, so the oracle is the UNCHANGED rect
    flagship SQL: any deviation in the polygon path hash-mismatches."""
    from hope_graph_builder_spark.operators.noise import edge_db_rows
    from hope_graph_builder_spark.pipelines.noise_join import noise_final_samples
    from hope_graph_builder_spark.spatial.wkb import rect_to_wkb

    nx0, ny0, nx1, ny1 = synth.NODATA_RECT
    polys = spark.createDataFrame(
        [(0, bytearray(rect_to_wkb(nx0, ny0, nx1, ny1)),
          float(nx0), float(ny0), float(nx1), float(ny1))],
        "poly_id long, geom binary, minx double, miny double, maxx double, maxy double",
    )
    final = noise_final_samples(
        synth.page_edges(spark, sf_dir), synth.noise_layers(spark),
        None, res=7, nodata_polys=polys,
    )
    return edge_db_rows(final)


_EXTENT = (0.0, 0.0, 60000.0, 131072.0)


@register(
    "noise_nulls_extent",
    f"""
    WITH {flagship_ctes()},
    exp AS (
      SELECT edge_id, CAST(n_max_adj AS INT) AS db,
             round_even(count(*) * min(sample_len), 5) AS exposure
      FROM final_samples WHERE n_max_adj IS NOT NULL
      GROUP BY edge_id, n_max_adj
    ),
    nn AS (SELECT edge_id, count(*) AS n_noises FROM exp GROUP BY edge_id),
    src_rows AS (
      SELECT edge_id, src, count(*) AS cnt
      FROM (SELECT edge_id, unnest(n_max_sources) AS src FROM final_samples)
      WHERE src IS NOT NULL GROUP BY edge_id, src
    ),
    ranked AS (
      SELECT edge_id, src,
             row_number() OVER (PARTITION BY edge_id ORDER BY cnt DESC, {_PRIO_SQL} ASC) AS rn
      FROM src_rows
    ),
    flags AS (
      SELECT edge_id,
             ((x1 >= {_EXTENT[0]} AND x1 < {_EXTENT[2]} AND y1 >= {_EXTENT[1]} AND y1 < {_EXTENT[3]})
              AND (x2 >= {_EXTENT[0]} AND x2 < {_EXTENT[2]} AND y2 >= {_EXTENT[1]} AND y2 < {_EXTENT[3]}))
             AS in_extent
      FROM edges
    )
    SELECT e.edge_id,
           CASE WHEN NOT f.in_extent THEN CAST(-1 AS BIGINT)
                ELSE coalesce(nn.n_noises, 0) END AS n_noises,
           CASE WHEN NOT f.in_extent THEN NULL
                ELSE coalesce(r.src, '') END AS noise_source
    FROM edges e
    JOIN flags f USING (edge_id)
    LEFT JOIN nn USING (edge_id)
    LEFT JOIN (SELECT edge_id, src FROM ranked WHERE rn = 1) r USING (edge_id)
    """,
)
def q_noise_nulls_extent(spark, sf_dir):
    """J3 three-valued semantics (reference noise_graph_update.py:29-48
    / igraph.py:62): NULL (outside the noise-data extent) vs {} / ''
    (inside, no match) vs populated. n_noises = -1 encodes the NULL
    map so the driver hash distinguishes all three states."""
    edges = _edges(spark, sf_dir)
    out = run_noise_join(
        edges, synth.noise_layers(spark), synth.NODATA_RECT, res=7,
        extent_rect=_EXTENT,
    )
    return out.select(
        "edge_id",
        F.when(F.col("noises").isNull(), F.lit(-1).cast("long"))
        .otherwise(F.size("noises").cast("long"))
        .alias("n_noises"),
        "noise_source",
    )


_SQL_EXTENT_CONCAVE = """
    WITH {flagship},
    exp AS (
      SELECT edge_id, CAST(n_max_adj AS INT) AS db,
             round_even(count(*) * min(sample_len), 5) AS exposure
      FROM final_samples WHERE n_max_adj IS NOT NULL
      GROUP BY edge_id, n_max_adj
    ),
    nn AS (SELECT edge_id, count(*) AS n_noises FROM exp GROUP BY edge_id),
    src_rows AS (
      SELECT edge_id, src, count(*) AS cnt
      FROM (SELECT edge_id, unnest(n_max_sources) AS src FROM final_samples)
      WHERE src IS NOT NULL GROUP BY edge_id, src
    ),
    ranked AS (
      SELECT edge_id, src,
             row_number() OVER (PARTITION BY edge_id ORDER BY cnt DESC, {prio} ASC) AS rn
      FROM src_rows
    ),
    flags AS (
      SELECT edge_id, {within} AS in_extent
      FROM edges
    )
    SELECT e.edge_id,
           CASE WHEN NOT f.in_extent THEN CAST(-1 AS BIGINT)
                ELSE coalesce(nn.n_noises, 0) END AS n_noises,
           CASE WHEN NOT f.in_extent THEN NULL
                ELSE coalesce(r.src, '') END AS noise_source,
           f.in_extent,
           ((e.x1 >= 200.03 AND e.x1 < 80000.03 AND e.y1 >= 200.03 AND e.y1 < 70000.03)
            AND (e.x2 >= 200.03 AND e.x2 < 80000.03 AND e.y2 >= 200.03 AND e.y2 < 70000.03))
           AS bbox_endpoint_flag
    FROM edges e
    JOIN flags f USING (edge_id)
    LEFT JOIN nn USING (edge_id)
    LEFT JOIN (SELECT edge_id, src FROM ranked WHERE rn = 1) r USING (edge_id)
    """


@register(
    "noise_extent_concave",
    _SQL_EXTENT_CONCAVE.format(
        flagship=flagship_ctes(),
        prio=_PRIO_SQL,
        within=synth.sql_within_rings(
            "x1", "y1", "x2", "y2", synth.CONCAVE_EXTENT_RINGS
        ),
    ),
)
def q_noise_extent_concave(spark, sf_dir):
    """Turnkey J3 for a GENERAL (concave + hole) extent polygon:
    run_noise_join(extent_polys=...) uses geometry-within (both
    endpoints even-odd inside AND no boundary crossing) — the fixture's
    U-notch contains the hotspot, so many edges that the endpoint-only
    bbox flag would call inside are correctly nodata, and the oracle's
    bbox_endpoint_flag column proves the two predicates genuinely
    diverge on this input. Oracle within is generated from the same
    float expressions as the kernel (synth.sql_within_rings)."""
    edges = _edges(spark, sf_dir)
    out = run_noise_join(
        edges, synth.noise_layers(spark), synth.NODATA_RECT, res=7,
        extent_polys=synth.CONCAVE_EXTENT_RINGS,
    )
    from hope_graph_builder_spark.operators.geometry import edges_within_rings

    flags = edges_within_rings(edges, synth.CONCAVE_EXTENT_RINGS)
    bx = lambda x, y: (  # noqa: E731
        (F.col(x) >= 200.03) & (F.col(x) < 80000.03)
        & (F.col(y) >= 200.03) & (F.col(y) < 70000.03)
    )
    bbox_flag = edges.select(
        "edge_id", (bx("x1", "y1") & bx("x2", "y2")).alias("bbox_endpoint_flag")
    )
    return (
        out.select(
            "edge_id",
            F.when(F.col("noises").isNull(), F.lit(-1).cast("long"))
            .otherwise(F.size("noises").cast("long"))
            .alias("n_noises"),
            "noise_source",
        )
        .join(flags, "edge_id")
        .join(bbox_flag, "edge_id")
    )


# ----------------------------------------------------------- graph import --

@register(
    "gi_p2_filter",
    f"""
    WITH e AS (
      SELECT doc_id AS edge_id,
             ((doc_id * {synth.A1} + {synth.C1}) % {synth.MOD}) % 5 != 0 AS allows_walking,
             ((doc_id * {synth.A2} + {synth.C2}) % {synth.MOD}) % 3 != 0 AS allows_biking,
             ((doc_id * {synth.A3} + {synth.C3}) % {synth.MOD}) % 7 = 0 AS is_no_thru_traffic
      FROM documents
    )
    SELECT edge_id FROM e
    WHERE (allows_walking OR allows_biking) AND NOT is_no_thru_traffic
    """,
)
def q_gi_p2(spark, sf_dir):
    """P2 boolean predicate filter (otp_graph_import.py:66-74)."""
    return filter_traversable(edges_with_attrs(spark, sf_dir)).select("edge_id")


@register(
    "gi_node_remap",
    f"""
    WITH edges AS ({synth.sql_edges()})
    SELECT edge_id,
           CAST(round_even(x1 * CAST(10 AS DOUBLE), 0) AS BIGINT) * 10000000
           + CAST(round_even(y1 * CAST(10 AS DOUBLE), 0) AS BIGINT) AS src,
           CAST(round_even(x2 * CAST(10 AS DOUBLE), 0) AS BIGINT) * 10000000
           + CAST(round_even(y2 * CAST(10 AS DOUBLE), 0) AS BIGINT) AS dst
    FROM edges
    """,
)
def q_gi_remap(spark, sf_dir):
    """J10/G1: endpoint quantization → node ids."""
    _, e = build_graph(_edges(spark, sf_dir))
    return e.select("edge_id", "src", "dst")


@register(
    "gi_full_import",
    f"""
    WITH e0 AS (
      SELECT doc_id AS edge_id,
             ((doc_id * {synth.A1} + {synth.C1}) % {synth.MOD}) % 5 != 0 AS allows_walking,
             ((doc_id * {synth.A2} + {synth.C2}) % {synth.MOD}) % 3 != 0 AS allows_biking,
             ((doc_id * {synth.A3} + {synth.C3}) % {synth.MOD}) % 7 = 0 AS is_no_thru_traffic
      FROM documents
    ),
    edges AS (
      SELECT g.* FROM ({synth.sql_edges()}) g
      JOIN e0 ON e0.edge_id = g.edge_id
      WHERE (e0.allows_walking OR e0.allows_biking) AND NOT e0.is_no_thru_traffic
    ),
    aoi AS (
      SELECT * FROM edges
      WHERE (x1 >= 0.0 AND x1 < 80000.0 AND y1 >= 0.0 AND y1 < 80000.0)
         OR (x2 >= 0.0 AND x2 < 80000.0 AND y2 >= 0.0 AND y2 < 80000.0)
    ),
    remapped AS (
      SELECT CAST(round_even(x1 * CAST(10 AS DOUBLE), 0) AS BIGINT) * 10000000
             + CAST(round_even(y1 * CAST(10 AS DOUBLE), 0) AS BIGINT) AS src,
             CAST(round_even(x2 * CAST(10 AS DOUBLE), 0) AS BIGINT) * 10000000
             + CAST(round_even(y2 * CAST(10 AS DOUBLE), 0) AS BIGINT) AS dst
      FROM aoi
    ),
    nodes AS (SELECT DISTINCT src AS id FROM remapped UNION SELECT DISTINCT dst FROM remapped)
    SELECT id, row_number() OVER (ORDER BY id) - 1 AS new_id FROM nodes
    """,
)
def q_gi_full(spark, sf_dir):
    """Full §3.2 import chain. min_component_nodes is pinned to 0 HERE
    (CC drop disabled) so the composition stays SQL-expressible; the
    iterative CC itself is oracle-checked separately via
    g_connected_components, and the reference's small-subgraph
    deletion (step 10) is exercised by the golden-fixture test
    (tests/test_golden_import.py) with the reference's own ≤15-edge
    threshold."""
    nodes, edges = run_graph_import(spark, sf_dir, min_component_nodes=0)
    return nodes.select("id", "new_id")


# ------------------------------------------------- graph components (G2) --

N_GRAPH_NODES = 2000


def _graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h1 = f"((doc_id * {synth.A1} + {synth.C1}) % {synth.MOD})"
    h2 = f"((doc_id * {synth.A2} + {synth.C2}) % {synth.MOD})"
    return d.select(
        F.expr(f"{h1} % {N_GRAPH_NODES}").alias("src"),
        F.expr(f"{h2} % {N_GRAPH_NODES}").alias("dst"),
    )


N_SCC_NODES = 400


def _scc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed graph with real cycles: hash edges + reversed copies
    for every third page."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h1 = f"((doc_id * {synth.A1} + {synth.C1}) % {synth.MOD}) % {N_SCC_NODES}"
    h2 = f"((doc_id * {synth.A2} + {synth.C2}) % {synth.MOD}) % {N_SCC_NODES}"
    fwd = d.select(F.expr(h1).alias("src"), F.expr(h2).alias("dst"))
    back = d.filter(F.col("doc_id") % 3 == 0).select(
        F.expr(h2).alias("src"), F.expr(h1).alias("dst")
    )
    return fwd.unionByName(back)


@register(
    "g_strong_components",
    f"""
    WITH e AS (
      SELECT ((doc_id * {synth.A1} + {synth.C1}) % {synth.MOD}) % {N_SCC_NODES} AS src,
             ((doc_id * {synth.A2} + {synth.C2}) % {synth.MOD}) % {N_SCC_NODES} AS dst
      FROM documents
      UNION ALL
      SELECT ((doc_id * {synth.A2} + {synth.C2}) % {synth.MOD}) % {N_SCC_NODES} AS src,
             ((doc_id * {synth.A1} + {synth.C1}) % {synth.MOD}) % {N_SCC_NODES} AS dst
      FROM documents WHERE doc_id % 3 = 0
    ),
    nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.a, e.dst FROM r JOIN e ON e.src = r.b
      ) SELECT * FROM r
    )
    SELECT x.a AS id, min(x.b) AS component
    FROM reach x JOIN reach y ON y.a = x.b AND y.b = x.a
    GROUP BY x.a
    """,
)
def q_strong_components(spark, sf_dir):
    """G2 STRONG mode (otp_graph_import.py:161): FW-BW trim-settle SCC;
    oracle = recursive-CTE mutual-reachability closure."""
    return strongly_connected_components(_scc_edges(spark, sf_dir), max_rounds=20)


@register(
    "g_connected_components",
    f"""
    WITH e AS (
      SELECT ((doc_id * {synth.A1} + {synth.C1}) % {synth.MOD}) % {N_GRAPH_NODES} AS src,
             ((doc_id * {synth.A2} + {synth.C2}) % {synth.MOD}) % {N_GRAPH_NODES} AS dst
      FROM documents
    ),
    sym AS (
      SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e
    ),
    nodes AS (SELECT DISTINCT a AS id FROM sym),
    walk AS (
      WITH RECURSIVE w(id, seed) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT s.b, w.seed FROM w JOIN sym s ON s.a = w.id
      ) SELECT * FROM w
    )
    SELECT id, min(seed) AS component FROM walk GROUP BY id
    """,
)
def q_connected_components(spark, sf_dir):
    """G2 re-expression: iterative min-label propagation; DuckDB oracle
    is a recursive-CTE reachability closure."""
    return connected_components(_graph_edges(spark, sf_dir))


# -------------------------------------------- multi-vertex sampling (F4) --

@register(
    "sample_polyline",
    f"""
    WITH pl AS ({synth.sql_polylines()}),
    seg AS (
      SELECT edge_id, xs, ys,
             list_transform(range(1, len(xs)),
               i -> sqrt((xs[i+1] - xs[i]) * (xs[i+1] - xs[i])
                         + (ys[i+1] - ys[i]) * (ys[i+1] - ys[i]))) AS seg
      FROM pl
    ),
    cum AS (
      SELECT *, list_transform(range(1, len(seg) + 1),
                  i -> list_reduce(list_slice(seg, 1, i), (a, x) -> a + x)) AS cum
      FROM seg
    ),
    base AS (
      SELECT *, cum[len(cum)] AS length,
             greatest(1, CAST(round_even(cum[len(cum)] / CAST(3 AS DOUBLE), 0) AS BIGINT)) AS n
      FROM cum
    ),
    samp AS (
      SELECT edge_id, xs, ys, seg, cum, length, n, unnest(range(0, n)) AS i FROM base
    ),
    loc AS (
      SELECT *, ((i + CAST(0.5 AS DOUBLE)) / n) * length AS d FROM samp
    ),
    jj AS (
      SELECT *, 1 + len(list_filter(list_slice(cum, 1, len(cum) - 1), c -> c <= d)) AS j
      FROM loc
    )
    SELECT edge_id, i,
           xs[j] + (xs[j+1] - xs[j])
             * (CASE WHEN seg[j] > 0 THEN
                  (d - CASE WHEN j = 1 THEN CAST(0 AS DOUBLE) ELSE cum[j-1] END) / seg[j]
                ELSE CAST(0 AS DOUBLE) END) AS x,
           ys[j] + (ys[j+1] - ys[j])
             * (CASE WHEN seg[j] > 0 THEN
                  (d - CASE WHEN j = 1 THEN CAST(0 AS DOUBLE) ELSE cum[j-1] END) / seg[j]
                ELSE CAST(0 AS DOUBLE) END) AS y
    FROM jj
    """,
)
def q_sample_polyline(spark, sf_dir):
    """F4 general form: sampling points on multi-vertex (3-5 vertex)
    polyline edges — the reference walks real LineStrings
    (noise_graph_join/utils.py:23-30), never just 2-vertex segments.
    Exact per-sample coordinates are oracle-compared (no aggregation)."""
    from hope_graph_builder_spark.operators.sampling import sample_polyline

    pl = synth.page_polylines(spark, sf_dir)
    return sample_polyline(pl, index_col="i").select("edge_id", "i", "x", "y")


# ------------------------------------------------ general-polygon PIP --

@register(
    "pip_wkb_triangles",
    f"""
    WITH pts AS ({synth.sql_points()}),
    tri AS ({synth.sql_triangles_duckdb()}),
    v AS (
      SELECT poly_id, ax AS x1, ay AS y1, ax + w AS x2, ay AS y2,
             ax + cx AS x3, ay + h AS y3
      FROM tri
    )
    SELECT p.doc_id, v.poly_id
    FROM pts p JOIN v
      ON  (v.x2 - v.x1) * (p.y - v.y1) - (v.y2 - v.y1) * (p.x - v.x1) > 0.0
      AND (v.x3 - v.x2) * (p.y - v.y2) - (v.y3 - v.y2) * (p.x - v.x2) > 0.0
      AND (v.x1 - v.x3) * (p.y - v.y3) - (v.y1 - v.y3) * (p.x - v.x3) > 0.0
    """,
)
def q_pip_wkb_triangles(spark, sf_dir):
    """General-polygon PIP (J1's non-rectangular form): cell-cover
    prefilter + native even-odd ray-cast over the vertex arrays each
    triangle's WKB decodes to once. The oracle is the INDEPENDENT closed form (three
    half-plane signs on CCW triangles) — two different PIP
    formulations must produce identical match sets (boundary hits are
    measure-zero on the jittered fixture)."""
    from hope_graph_builder_spark.operators.spatial_join import pip_join_wkb

    pts = synth.page_points(spark, sf_dir).select("doc_id", "x", "y")
    tris = synth.triangles(spark)
    return pip_join_wkb(pts, tris, res=7).select("doc_id", "poly_id")


# --------------------------------------------------- graph export (§3.3) --

_EXPORT_AOI = (20000.0, 20000.0, 90000.0, 90000.0)


@register(
    "export_clip",
    f"""
    WITH e0 AS (
      SELECT g.*,
             CAST(1 AS DOUBLE) + (((edge_id * {synth.A3} + {synth.C3}) % {synth.MOD}) % 100)
               / CAST(100 AS DOUBLE) AS bike_safety_factor,
             CAST(round_even(x1 * CAST(10 AS DOUBLE), 0) AS BIGINT) * 10000000
             + CAST(round_even(y1 * CAST(10 AS DOUBLE), 0) AS BIGINT) AS src,
             CAST(round_even(x2 * CAST(10 AS DOUBLE), 0) AS BIGINT) * 10000000
             + CAST(round_even(y2 * CAST(10 AS DOUBLE), 0) AS BIGINT) AS dst
      FROM ({synth.sql_edges()}) g
    ),
    kept AS (
      SELECT * FROM e0
      WHERE floor(src / 10000000) / 10.0 >= {_EXPORT_AOI[0]}
        AND floor(src / 10000000) / 10.0 < {_EXPORT_AOI[2]}
        AND (src % 10000000) / 10.0 >= {_EXPORT_AOI[1]}
        AND (src % 10000000) / 10.0 < {_EXPORT_AOI[3]}
        AND floor(dst / 10000000) / 10.0 >= {_EXPORT_AOI[0]}
        AND floor(dst / 10000000) / 10.0 < {_EXPORT_AOI[2]}
        AND (dst % 10000000) / 10.0 >= {_EXPORT_AOI[1]}
        AND (dst % 10000000) / 10.0 < {_EXPORT_AOI[3]}
        AND edge_id % 11 != 0
    )
    SELECT edge_id, round_even(length * bike_safety_factor, 3) AS biking_len
    FROM kept
    """,
)
def q_export_clip(spark, sf_dir):
    """§3.3 export composition (graph_export.py:74-87): J5 extent clip
    (both endpoint NODES inside the AOI) + P7/U3 excluded-edge
    anti-join + F15 biking length. F19 simplify is pytest-covered (the
    recursion has no SQL twin)."""
    from hope_graph_builder_spark.pipelines.graph_export import run_graph_export

    e_attr = edges_with_attrs(spark, sf_dir)
    nodes, e2 = build_graph(e_attr)
    nodes_xy = nodes.select(
        "id",
        (F.floor(F.col("id") / 10_000_000) / 10.0).alias("x"),
        (F.pmod(F.col("id"), 10_000_000) / 10.0).alias("y"),
    )
    excluded = e2.filter(F.col("edge_id") % 11 == 0).select("edge_id")
    kept, _nodes = run_graph_export(e2, nodes_xy, _EXPORT_AOI, excluded_edges=excluded)
    return kept.select("edge_id", "biking_len")


@register(
    "p5_type_filter",
    """
    SELECT doc_id AS edge_id, CAST(9 + 16 * (3 + doc_id % 3) AS BIGINT) AS wkb_len
    FROM documents
    """,
)
def q_p5_type_filter(spark, sf_dir):
    """P5 geometry-type filter, natively: mixed WKB column (LineStrings
    + MultiPolygons) → keep LineStrings via the one-byte type-code
    expression; the oracle pins the surviving ids AND the exact WKB
    byte length (9-byte header + 16 per vertex, nv = 3 + id%3)."""
    from hope_graph_builder_spark.operators.geometry import (
        polylines_to_wkb,
        synth_multipolygons,
    )
    from hope_graph_builder_spark.pipelines.graph_export import filter_geometry_type
    from hope_graph_builder_spark.spatial.wkb import WKB_LINESTRING

    lines = polylines_to_wkb(synth.page_polylines(spark, sf_dir))
    multis = synth_multipolygons(
        synth.page_points(spark, sf_dir).select("doc_id", "x", "y")
    ).select(F.col("doc_id").alias("edge_id"), "geom")
    mixed = lines.unionByName(multis)
    return filter_geometry_type(mixed, "geom", WKB_LINESTRING).select(
        "edge_id", F.octet_length("geom").cast("long").alias("wkb_len")
    )


# -------------------------------------------------------------- WKT (F1) --

@register(
    "wkt_points",
    f"""
    WITH pts AS ({synth.sql_points()}),
    w AS (SELECT doc_id, 'POINT (' || CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ')' AS wkt
          FROM pts)
    SELECT doc_id,
           CAST(string_split(trim(regexp_extract(wkt, '\\(([^)]*)\\)', 1)), ' ')[1] AS DOUBLE) AS px,
           CAST(string_split(trim(regexp_extract(wkt, '\\(([^)]*)\\)', 1)), ' ')[2] AS DOUBLE) AS py
    FROM w
    """,
)
def q_wkt_points(spark, sf_dir):
    """S1/F1: WKT point round-trip (format then parse, both native).
    NB: double→string uses shortest-repr in both engines; the parse
    cast is correctly rounded, so the round-trip is exact."""
    from hope_graph_builder_spark.spatial.wkt import format_point_expr, parse_point_expr

    pts = synth.page_points(spark, sf_dir).select("doc_id", "x", "y")
    w = pts.select("doc_id", format_point_expr(F.col("x"), F.col("y")).alias("wkt"))
    px, py = parse_point_expr(F.col("wkt"))
    return w.select("doc_id", px.alias("px"), py.alias("py"))
