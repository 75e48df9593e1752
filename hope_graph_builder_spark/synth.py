"""Deterministic geometry synthesis from the web-pages table.

The driver's input hint mandates a Common-Crawl-style pages table
``(url, warc_ts, html, text, lang)``; geometries are synthesized from it
deterministically (BASELINE.json north_star: "page-derived point/polygon
geometries"). The sandbox's stand-in is ``documents.parquet``
(doc_id, text, lang, source, n_chars) — ``pages()`` adapts it.

EVERY formula here uses only IEEE-exact operations (integer LCG, `%` on
non-negative ints, `+ - * /`, `sqrt`, `floor`, CASE) so the DuckDB
oracle (sql_* emitters below) reproduces Spark's doubles bit-for-bit —
the driver's value-hash comparison depends on this.

Skew is synthesized on purpose: every 10th page lands in one ~100 m
hotspot square, creating a hot cell for the salting path (reference
warns of stacked overlapping surfaces at
`/root/reference/src/noise_graph_join/utils.py:150-151`).

Per-row invariant: ``text`` (and ``url``) ride along untouched through
every derived table — byte-identity is asserted in tests via xxhash64
digest anti-joins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# LCG constants (public: glibc / MS / Knuth mixes)
A1, C1 = 1103515245, 12345
A2, C2 = 69069, 1
A3, C3 = 214013, 2531011
A4, C4 = 134775813, 1
MOD = 2147483648

SAMPLING_INTERVAL_M = 3.0  # reference noise_graph_join.py:28
HOTSPOT = 50000.0

# noise layer grid: providers {hel, syke} × sources {road, train, tram, metro}
# (synthetic stand-in for the reference's 13 layers, noise_layers.csv)
NGRID = 25
GRID_CELL = 4000.0
RECT_SIDE = 3600.0
SOURCES = ["road", "train", "tram", "metro"]
PROVIDERS = ["hel", "syke"]
N_LAYERS = len(SOURCES) * len(PROVIDERS)
LAYER_NAMES = [f"{p}_{s}" for p in PROVIDERS for s in SOURCES]
# nodata zone: a narrow vertical strip (reference: 22 m municipal
# boundary strips, get_nodata_areas.py:26) — noise rectangles are
# clipped out of it, so points inside are genuinely data-free and the
# kNN ring interpolation branch has real work to do.
# 240 m wide: ~15 sampling points land inside at sf0.01, so the kNN
# ring-interpolation branch does real work in the correctness gate
# (at 40 m it matched the reference's strips but caught 0 points)
NODATA_X0, NODATA_X1 = 52000.0, 52240.0
NODATA_RECT = (NODATA_X0, 0.0, NODATA_X1, 131072.0)


def _h(col: str, a: int, c: int) -> str:
    return f"(({col} * {a} + {c}) % {MOD})"


# NB: bare literals like ``10.0`` parse as DECIMAL in both Spark SQL
# and DuckDB, dragging the whole expression into (slow, differently
# scaled) decimal arithmetic. Every shared fragment forces DOUBLE.
D10 = "CAST(10 AS DOUBLE)"
D2 = "CAST(2 AS DOUBLE)"


# SQL fragments valid in BOTH Spark SQL and DuckDB (shared arithmetic).
def xy_fragments(id_col: str = "doc_id") -> dict[str, str]:
    h1, h2 = _h(id_col, A1, C1), _h(id_col, A2, C2)
    h3, h4 = _h(id_col, A3, C3), _h(id_col, A4, C4)
    hot = f"CAST({HOTSPOT} AS DOUBLE)"
    base = "CAST(100 AS DOUBLE)"
    x = f"(CASE WHEN {id_col} % 10 = 0 THEN {hot} + ({h1} % 1000) / {D10} ELSE {base} + ({h1} % 998000) / {D10} END)"
    y = f"(CASE WHEN {id_col} % 10 = 0 THEN {hot} + ({h2} % 1000) / {D10} ELSE {base} + ({h2} % 998000) / {D10} END)"
    dx = f"(({h3} % 201 - 100) / {D2})"
    dy = f"(({h4} % 201 - 100) / {D2})"
    return {"x": x, "y": y, "dx": dx, "dy": dy}


def pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → the mandated pages schema
    (url string, warc_ts timestamp, html binary, text string, lang string)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        F.concat(F.lit("https://example.org/"), F.col("lang"), F.lit("/"), F.col("doc_id")).alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )


def page_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-derived points: (doc_id, url, text, lang, x, y) in the metric CRS."""
    fr = xy_fragments("doc_id")
    return pages(spark, sf_dir).select(
        "doc_id", "url", "text", "lang",
        F.expr(fr["x"]).alias("x"),
        F.expr(fr["y"]).alias("y"),
    )


def page_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-derived street edges: 2-vertex LineStrings
    (edge_id, url, text, x1, y1, x2, y2, length)."""
    fr = xy_fragments("doc_id")
    return pages(spark, sf_dir).select(
        F.col("doc_id").alias("edge_id"), "url", "text",
        F.expr(fr["x"]).alias("x1"),
        F.expr(fr["y"]).alias("y1"),
        (F.expr(fr["x"]) + F.expr(fr["dx"])).alias("x2"),
        (F.expr(fr["y"]) + F.expr(fr["dy"])).alias("y2"),
        F.sqrt(F.expr(fr["dx"]) * F.expr(fr["dx"]) + F.expr(fr["dy"]) * F.expr(fr["dy"])).alias("length"),
    )


def _layer_grid_np() -> pd.DataFrame:
    """All noise rectangles: grid + deliberate intra-layer overlaps
    (reference invalid-overlap dedup, utils.py:112-141)."""
    gx, gy, lr = np.meshgrid(np.arange(NGRID), np.arange(NGRID), np.arange(N_LAYERS), indexing="ij")
    gx, gy, lr = gx.ravel(), gy.ravel(), lr.ravel()
    keep = (gx * 31 + gy * 17 + lr * 7) % 3 != 0
    gx, gy, lr = gx[keep], gy[keep], lr[keep]
    minx = gx * GRID_CELL + lr * 250.0
    miny = gy * GRID_CELL + lr * 250.0
    db = 45 + 5 * ((gx + gy + lr) % 6)
    names = np.array(LAYER_NAMES)
    base = pd.DataFrame({
        "layer": names[lr],
        "poly_id": (lr.astype(np.int64) * NGRID * NGRID + gx * NGRID + gy),
        "minx": minx, "miny": miny,
        "maxx": minx + RECT_SIDE, "maxy": miny + RECT_SIDE,
        "db": db.astype(np.int64),
    })
    # overlapping duplicates (shifted +900, db+5 capped at 70)
    dup_mask = (gx + gy) % 5 == 0
    dup = base[dup_mask].copy()
    dup["poly_id"] = dup["poly_id"] + 1_000_000
    for c in ("minx", "miny", "maxx", "maxy"):
        dup[c] = dup[c] + 900.0
    dup["db"] = np.minimum(dup["db"] + 5, 70)
    allr = pd.concat([base, dup], ignore_index=True)

    # clip the nodata strip out of every rectangle (axis-aligned clip
    # by a vertical strip keeps everything rectangular)
    x0, x1 = NODATA_X0, NODATA_X1
    outside = allr[(allr.maxx <= x0) | (allr.minx >= x1)]
    left = allr[(allr.minx < x0) & (allr.maxx > x0)].copy()
    left["maxx"] = x0
    right = allr[(allr.minx < x1) & (allr.maxx > x1)].copy()
    right["minx"] = x1
    right["poly_id"] = right["poly_id"] + 2_000_000
    return pd.concat([outside, left, right], ignore_index=True)


def noise_layers(spark: SparkSession) -> DataFrame:
    """Rectangular noise polygon layers (layer, poly_id, minx..maxy, db)."""
    return spark.createDataFrame(_layer_grid_np())


def dense_ids(spark: SparkSession, sf_dir: str, mult: int) -> DataFrame:
    """Deterministic id amplification for benchmarks: each page spawns
    ``mult`` synthetic entities (id = doc_id·mult + j). The driver's
    documents table is small (5k rows at sf0.1); the reference's real
    workload is 1.28M edges (BASELINE.md) — benches run at comparable
    scale via this multiplier. Not used by oracle-checked queries."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    # documents.parquet is one small file → one input partition; spread
    # BEFORE the ×mult explode or the whole bench runs on one core
    nparts = spark.sparkContext.defaultParallelism * 4
    return d.repartition(nparts).select(
        F.explode(
            F.sequence(F.col("doc_id") * mult, F.col("doc_id") * mult + (mult - 1))
        ).alias("doc_id")
    )


def page_edges_dense(spark: SparkSession, sf_dir: str, mult: int) -> DataFrame:
    fr = xy_fragments("doc_id")
    return dense_ids(spark, sf_dir, mult).select(
        F.col("doc_id").alias("edge_id"),
        F.expr(fr["x"]).alias("x1"),
        F.expr(fr["y"]).alias("y1"),
        (F.expr(fr["x"]) + F.expr(fr["dx"])).alias("x2"),
        (F.expr(fr["y"]) + F.expr(fr["dy"])).alias("y2"),
        F.sqrt(F.expr(fr["dx"]) * F.expr(fr["dx"]) + F.expr(fr["dy"]) * F.expr(fr["dy"])).alias("length"),
    )


MAX_PL_VERTS = 5


def polyline_fragments(id_col: str = "edge_id") -> dict[str, object]:
    """Shared Spark-SQL/DuckDB fragments for multi-vertex polyline
    edges: nv = 3 + (id % 3) vertices (3..5); vertex 0 at the page
    point, each next vertex offset by a per-(id, k) LCG delta. All
    cumulative sums are expanded textually (same association order in
    both engines ⇒ bit-identical doubles)."""
    fr = xy_fragments(id_col)
    vx, vy = [f"({fr['x']})"], [f"({fr['y']})"]
    for k in range(1, MAX_PL_VERTS):
        kid = f"({id_col} * {MAX_PL_VERTS} + {k})"
        dxk = f"(({_h(kid, A3, C3)} % 201 - 100) / {D2})"
        dyk = f"(({_h(kid, A4, C4)} % 201 - 100) / {D2})"
        vx.append(f"({vx[-1]} + {dxk})")
        vy.append(f"({vy[-1]} + {dyk})")
    return {"vx": vx, "vy": vy, "nv": f"(3 + {id_col} % 3)"}


def page_polylines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vertex street edges (edge_id, xs array<double>,
    ys array<double>) — the reference samples REAL polylines
    (noise_graph_join/utils.py:23-30), never just segments."""
    fr = polyline_fragments("edge_id")
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("edge_id")
    )
    xs = f"slice(array({', '.join(fr['vx'])}), 1, {fr['nv']})"
    ys = f"slice(array({', '.join(fr['vy'])}), 1, {fr['nv']})"
    return d.select("edge_id", F.expr(xs).alias("xs"), F.expr(ys).alias("ys"))


def sql_polylines(table: str = "documents") -> str:
    """DuckDB twin of page_polylines."""
    fr = polyline_fragments("edge_id")
    return f"""
    SELECT edge_id,
           list_slice([{', '.join(fr['vx'])}], 1, {fr['nv']}) AS xs,
           list_slice([{', '.join(fr['vy'])}], 1, {fr['nv']}) AS ys
    FROM (SELECT doc_id AS edge_id FROM {table})
    """


def gvi_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GSV-style GVI sample points: 4 per page, deterministic
    (gvi_id, x, y, gvi_raw in [0, 100])."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    g = d.select("doc_id", F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("_j")).select(
        (F.col("doc_id") * 4 + F.col("_j")).alias("gvi_id")
    )
    fr = xy_fragments("gvi_id")
    h5 = _h("gvi_id", A3, C1)
    return g.select(
        "gvi_id",
        F.expr(fr["x"]).alias("x"),
        F.expr(fr["y"]).alias("y"),
        F.expr(f"({h5} % 1001) / {D10}").alias("gvi_raw"),
    )


def sql_gvi_points(table: str = "documents") -> str:
    """DuckDB twin of gvi_points."""
    fr = xy_fragments("gvi_id")
    h5 = _h("gvi_id", A3, C1)
    return f"""
    SELECT gvi_id, {fr['x']} AS x, {fr['y']} AS y, ({h5} % 1001) / {D10} AS gvi_raw
    FROM (SELECT doc_id * 4 + j.range AS gvi_id FROM {table}, range(0, 4) j)
    """


# vegetation rect grid: non-overlapping within each class (so the
# overlay dissolve A9 reduces to a plain sum)
VEG_GRID = 50
VEG_CELL = 2000.0
VEG_SIDE = 1600.0
VEG_CLASSES = ["low", "high"]


def _veg_grid_np() -> pd.DataFrame:
    gx, gy, vc = np.meshgrid(
        np.arange(VEG_GRID), np.arange(VEG_GRID), np.arange(len(VEG_CLASSES)), indexing="ij"
    )
    gx, gy, vc = gx.ravel(), gy.ravel(), vc.ravel()
    keep = (gx * 7 + gy * 13 + vc * 5) % 4 != 0
    gx, gy, vc = gx[keep], gy[keep], vc[keep]
    minx = gx * VEG_CELL + vc * 200.0
    miny = gy * VEG_CELL + vc * 200.0
    return pd.DataFrame({
        "veg_class": np.array(VEG_CLASSES)[vc],
        "poly_id": vc.astype(np.int64) * VEG_GRID * VEG_GRID + gx * VEG_GRID + gy,
        "minx": minx, "miny": miny,
        "maxx": minx + VEG_SIDE, "maxy": miny + VEG_SIDE,
    })


def veg_rects(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(_veg_grid_np())


def sql_veg_duckdb() -> str:
    cls = "CASE vc WHEN 0 THEN 'low' ELSE 'high' END"
    return f"""
    SELECT {cls} AS veg_class,
           vc * {VEG_GRID} * {VEG_GRID} + gx * {VEG_GRID} + gy AS poly_id,
           gx * {VEG_CELL} + vc * 200.0 AS minx,
           gy * {VEG_CELL} + vc * 200.0 AS miny,
           gx * {VEG_CELL} + vc * 200.0 + {VEG_SIDE} AS maxx,
           gy * {VEG_CELL} + vc * 200.0 + {VEG_SIDE} AS maxy
    FROM (SELECT g1.range AS gx, g2.range AS gy, c.range AS vc
          FROM range(0, {VEG_GRID}) g1, range(0, {VEG_GRID}) g2, range(0, 2) c)
    WHERE (gx * 7 + gy * 13 + vc * 5) % 4 != 0
    """


N_TRIANGLES = 200


def _triangle_params(k: np.ndarray):
    """Shared triangle-generator arithmetic (numpy twin of the SQL
    fragments in sql_triangles_duckdb — integer-scaled doubles, exact
    in both engines)."""
    ax = (k % 20) * 5000.0 + 300.0 + (k * 7 % 100) * 3.0
    ay = (k // 20) * 5000.0 + 400.0 + (k * 11 % 100) * 3.0
    w = 1000.0 + (k * 13 % 8) * 500.0
    h = 1000.0 + (k * 17 % 8) * 500.0
    cx = 200.0 + (k * 5 % 10) * 400.0
    return ax, ay, w, h, cx


def triangles(spark: SparkSession) -> DataFrame:
    """General (non-rectangular) polygon fixture: N CCW triangles with
    WKB geometry + bbox columns — the input shape pip_join_wkb's
    ray-cast refine expects."""
    from hope_graph_builder_spark.spatial.wkb import polygon_to_wkb

    k = np.arange(N_TRIANGLES, dtype=np.int64)
    ax, ay, w, h, cx = _triangle_params(k)
    rows = []
    for i in range(N_TRIANGLES):
        ring = np.array(
            [[ax[i], ay[i]], [ax[i] + w[i], ay[i]], [ax[i] + cx[i], ay[i] + h[i]]]
        )
        rows.append(
            (
                int(i),
                bytearray(polygon_to_wkb(ring)),
                float(ax[i]),
                float(ay[i]),
                float(ax[i] + max(w[i], cx[i])),
                float(ay[i] + h[i]),
            )
        )
    return spark.createDataFrame(
        rows, "poly_id long, geom binary, minx double, miny double, maxx double, maxy double"
    )


def sql_triangles_duckdb() -> str:
    """DuckDB twin of the triangle parameters (vertex coordinates)."""
    return f"""
    SELECT k AS poly_id,
           (k % 20) * 5000.0 + 300.0 + (k * 7 % 100) * 3.0 AS ax,
           (k // 20) * 5000.0 + 400.0 + (k * 11 % 100) * 3.0 AS ay,
           1000.0 + (k * 13 % 8) * 500.0 AS w,
           1000.0 + (k * 17 % 8) * 500.0 AS h,
           200.0 + (k * 5 % 10) * 400.0 AS cx
    FROM (SELECT unnest(range(0, {N_TRIANGLES})) AS k)
    """


N_CONCAVE = 150


def _concave_params(k: np.ndarray):
    """Concave-with-hole fixture parameters — all INTEGER-valued, so
    every buffer∩polygon intersection area is an exact integer and the
    round-to-nearest quantization in overlay_share_general is immune
    to the general kernel's ~1e-5 m² float error (see its docstring).
    Shape: an L — horizontal arm rect A (ax, ay, ax+w, ay+t) plus
    vertical arm rect B (ax, ay+t, ax+t2, ay+h) — with a rectangular
    hole punched in the vertical arm. w > t2 always ⇒ concave ring."""
    ax = (k % 15).astype(np.float64) * 4000.0 + (k * 7 % 40) * 10.0
    ay = (k // 15).astype(np.float64) * 4000.0 + (k * 11 % 40) * 10.0
    w = 600.0 + (k * 13 % 5) * 100.0
    h = 600.0 + (k * 17 % 5) * 100.0
    t = 200.0 + (k * 5 % 3) * 50.0
    t2 = 200.0 + (k * 3 % 3) * 50.0
    return ax, ay, w, h, t, t2


def concave_polys(spark: SparkSession) -> DataFrame:
    """General-polygon land-cover fixture: N concave hexagonal rings,
    each with a rectangular hole, as WKB + bbox — the shape of the
    reference's real (arbitrary multipart) vegetation layers
    (fetch_land_cover.py:79-94). The engine sees ONLY the WKB ring
    soup; only the oracle knows the rectilinear decomposition."""
    from hope_graph_builder_spark.spatial.wkb import polygon_to_wkb_rings

    k = np.arange(N_CONCAVE, dtype=np.int64)
    ax, ay, w, h, t, t2 = _concave_params(k)
    rows = []
    for i in range(N_CONCAVE):
        ring = np.array([
            [ax[i], ay[i]], [ax[i] + w[i], ay[i]], [ax[i] + w[i], ay[i] + t[i]],
            [ax[i] + t2[i], ay[i] + t[i]], [ax[i] + t2[i], ay[i] + h[i]],
            [ax[i], ay[i] + h[i]],
        ])
        hole = np.array([
            [ax[i] + 50.0, ay[i] + t[i] + 50.0],
            [ax[i] + t2[i] - 50.0, ay[i] + t[i] + 50.0],
            [ax[i] + t2[i] - 50.0, ay[i] + t[i] + 150.0],
            [ax[i] + 50.0, ay[i] + t[i] + 150.0],
        ])
        rows.append((
            int(i), "low" if i % 2 == 0 else "high",
            bytearray(polygon_to_wkb_rings([ring, hole])),
            float(ax[i]), float(ay[i]), float(ax[i] + w[i]), float(ay[i] + h[i]),
        ))
    return spark.createDataFrame(
        rows,
        "poly_id long, veg_class string, geom binary, "
        "minx double, miny double, maxx double, maxy double",
    )


def sql_concave_rects_duckdb() -> str:
    """DuckDB-side closed form of concave_polys: the signed rectangle
    decomposition (arm A +, arm B +, hole −). Oracle-only — the engine
    never sees this."""
    return f"""
    WITH p AS (
      SELECT k AS poly_id,
             CASE WHEN k % 2 = 0 THEN 'low' ELSE 'high' END AS veg_class,
             CAST((k % 15) * 4000 + (k * 7 % 40) * 10 AS DOUBLE) AS ax,
             CAST((k // 15) * 4000 + (k * 11 % 40) * 10 AS DOUBLE) AS ay,
             CAST(600 + (k * 13 % 5) * 100 AS DOUBLE) AS w,
             CAST(600 + (k * 17 % 5) * 100 AS DOUBLE) AS h,
             CAST(200 + (k * 5 % 3) * 50 AS DOUBLE) AS t,
             CAST(200 + (k * 3 % 3) * 50 AS DOUBLE) AS t2
      FROM (SELECT unnest(range(0, {N_CONCAVE})) AS k)
    )
    SELECT poly_id, veg_class, 1 AS sgn,
           ax AS rminx, ay AS rminy, ax + w AS rmaxx, ay + t AS rmaxy FROM p
    UNION ALL
    SELECT poly_id, veg_class, 1, ax, ay + t, ax + t2, ay + h FROM p
    UNION ALL
    SELECT poly_id, veg_class, -1,
           ax + 50.0, ay + t + 50.0, ax + t2 - 50.0, ay + t + 150.0 FROM p
    """


def concave_edge_fragments(id_col: str = "doc_id") -> dict[str, str]:
    """Integer-coordinate edges over the concave-poly domain — shared
    Spark-SQL/DuckDB fragments (only +, *, %, floor on non-negative
    ints → bit-identical doubles)."""
    ex = f"CAST(({id_col} % 15) * 4000 + ({id_col} * 19 % 350) * 10 AS DOUBLE)"
    ey = (f"CAST((CAST(floor({id_col} / 15) AS BIGINT) % 10) * 4000 "
          f"+ ({id_col} * 23 % 350) * 10 AS DOUBLE)")
    dx = f"CAST(({id_col} * 29 % 21 - 10) * 20 AS DOUBLE)"
    dy = f"CAST(({id_col} * 31 % 21 - 10) * 20 AS DOUBLE)"
    return {"ex": ex, "ey": ey, "dx": dx, "dy": dy}


def concave_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = concave_edge_fragments()
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return d.select(
        F.col("doc_id").alias("edge_id"),
        F.expr(fr["ex"]).alias("x1"),
        F.expr(fr["ey"]).alias("y1"),
        (F.expr(fr["ex"]) + F.expr(fr["dx"])).alias("x2"),
        (F.expr(fr["ey"]) + F.expr(fr["dy"])).alias("y2"),
    )


def sql_concave_edges(table: str = "documents") -> str:
    fr = concave_edge_fragments()
    return (
        f"SELECT doc_id AS edge_id, {fr['ex']} AS x1, {fr['ey']} AS y1, "
        f"{fr['ex']} + {fr['dx']} AS x2, {fr['ey']} + {fr['dy']} AS y2 FROM {table}"
    )


N_DISSOLVE_TILES = 40
POLYS_PER_TILE = 4


def dissolve_concave_polys(spark: SparkSession) -> DataFrame:
    """Overlapping CONCAVE hole-bearing polygons for the general
    dissolve (F10 unary_union over arbitrary polygons,
    get_nodata_areas.py:36-37): per tile, 4 heavily-overlapping
    L-with-hole polygons in a 2 km window. All bounds are multiples of
    100 so the DuckDB oracle can count exact 100 m cells; the engine
    sees only WKB ring soup."""
    from hope_graph_builder_spark.spatial.wkb import polygon_to_wkb_rings

    rows = []
    for k in range(N_DISSOLVE_TILES * POLYS_PER_TILE):
        g = k // POLYS_PER_TILE
        ox, oy = (g % 8) * 3000.0, (g // 8) * 3000.0
        ax = ox + (k * 7 % 10) * 100.0
        ay = oy + (k * 11 % 10) * 100.0
        w = 600.0 + (k * 13 % 4) * 100.0
        h = 600.0 + (k * 17 % 4) * 100.0
        t = 200.0 + (k * 5 % 2) * 100.0
        t2 = 300.0 + (k * 3 % 2) * 100.0
        ring = np.array([
            [ax, ay], [ax + w, ay], [ax + w, ay + t],
            [ax + t2, ay + t], [ax + t2, ay + h], [ax, ay + h],
        ])
        hole = np.array([
            [ax + 100.0, ay + t + 100.0], [ax + t2 - 100.0, ay + t + 100.0],
            [ax + t2 - 100.0, ay + t + 200.0], [ax + 100.0, ay + t + 200.0],
        ])
        rows.append((int(g), int(k), bytearray(polygon_to_wkb_rings([ring, hole]))))
    return spark.createDataFrame(rows, "tile long, poly_id long, geom binary")


def sql_dissolve_concave_union_duckdb() -> str:
    """Closed-form oracle for the general dissolve: exact 100 m cell
    counting against the rectilinear decomposition (arm A ∪ arm B
    minus that polygon's own hole, unioned across the tile's polys)."""
    n = N_DISSOLVE_TILES * POLYS_PER_TILE
    return f"""
    WITH p AS (
      SELECT k AS poly_id, CAST(k // {POLYS_PER_TILE} AS BIGINT) AS tile,
             CAST(((k // {POLYS_PER_TILE}) % 8) * 3000 + (k * 7 % 10) * 100 AS DOUBLE) AS ax,
             CAST(((k // {POLYS_PER_TILE}) // 8) * 3000 + (k * 11 % 10) * 100 AS DOUBLE) AS ay,
             CAST(600 + (k * 13 % 4) * 100 AS DOUBLE) AS w,
             CAST(600 + (k * 17 % 4) * 100 AS DOUBLE) AS h,
             CAST(200 + (k * 5 % 2) * 100 AS DOUBLE) AS t,
             CAST(300 + (k * 3 % 2) * 100 AS DOUBLE) AS t2
      FROM (SELECT unnest(range(0, {n})) AS k)
    ),
    cells AS (
      SELECT t.tile,
             CAST((t.tile % 8) * 3000 + cx.range * 100 AS DOUBLE) AS cx0,
             CAST((t.tile // 8) * 3000 + cy.range * 100 AS DOUBLE) AS cy0
      FROM (SELECT DISTINCT tile FROM p) t, range(0, 20) cx, range(0, 20) cy
    ),
    cov AS (
      SELECT c.tile, c.cx0, c.cy0
      FROM cells c
      WHERE EXISTS (
        SELECT 1 FROM p
        WHERE p.tile = c.tile
          AND (
            (c.cx0 >= p.ax AND c.cx0 + 100 <= p.ax + p.w
             AND c.cy0 >= p.ay AND c.cy0 + 100 <= p.ay + p.t)
            OR
            (c.cx0 >= p.ax AND c.cx0 + 100 <= p.ax + p.t2
             AND c.cy0 >= p.ay + p.t AND c.cy0 + 100 <= p.ay + p.h)
          )
          AND NOT (
            c.cx0 >= p.ax + 100 AND c.cx0 + 100 <= p.ax + p.t2 - 100
            AND c.cy0 >= p.ay + p.t + 100 AND c.cy0 + 100 <= p.ay + p.t + 200
          )
      )
    )
    SELECT tile, CAST(count(*) * 10000 AS DOUBLE) AS union_area
    FROM cov GROUP BY tile
    """


N_CAPSULE_POLYS = 50


def capsule_polys(spark: SparkSession) -> DataFrame:
    """Rect vegetation polys on a margin-rich grid for the round-cap
    overlay oracle: every fixture edge's cap disk is either ≥100 m
    clear inside a poly or clear outside it, so cap contributions are
    exactly 0 or πr²/2 and the oracle stays closed-form while the
    engine integrates the circles for real."""
    from hope_graph_builder_spark.spatial.wkb import rect_to_wkb

    rows = []
    for t in range(N_CAPSULE_POLYS):
        gx, gy = t % 10, t // 10
        a, b = gx * 3000.0 + 500.0, gy * 3000.0 + 500.0
        c, d = gx * 3000.0 + 2000.0, gy * 3000.0 + 1700.0
        rows.append((int(t), "low" if t % 2 == 0 else "high",
                     bytearray(rect_to_wkb(a, b, c, d)), a, b, c, d))
    return spark.createDataFrame(
        rows,
        "poly_id long, veg_class string, geom binary, "
        "minx double, miny double, maxx double, maxy double",
    )


def sql_capsule_polys_duckdb() -> str:
    return f"""
    SELECT t AS poly_id,
           CASE WHEN t % 2 = 0 THEN 'low' ELSE 'high' END AS veg_class,
           CAST((t % 10) * 3000 + 500 AS DOUBLE) AS minx,
           CAST((t // 10) * 3000 + 500 AS DOUBLE) AS miny,
           CAST((t % 10) * 3000 + 2000 AS DOUBLE) AS maxx,
           CAST((t // 10) * 3000 + 1700 AS DOUBLE) AS maxy
    FROM (SELECT unnest(range(0, {N_CAPSULE_POLYS})) AS t)
    """


def capsule_edge_fragments(id_col: str = "doc_id") -> dict[str, str]:
    """Horizontal integer edges in four scenarios s = (id*7)%4:
    0 = capsule fully inside its tile's poly; 1 = crossing the poly's
    LEFT x-boundary (cap1 clear outside, cap2 clear inside); 2 = fully
    outside (below the poly); 3 = crossing the RIGHT boundary (cap1
    in, cap2 out). Caps never straddle a boundary."""
    gx = f"({id_col} % 10)"
    gy = f"(CAST(floor({id_col} / 10) AS BIGINT) % 5)"
    s = f"(({id_col} * 7) % 4)"
    y = (f"CAST({gy} * 3000 + (CASE WHEN {s} = 2 THEN 300 "
         f"ELSE 1100 + ({id_col} * 17 % 5) * 50 END) AS DOUBLE)")
    x1 = (f"CAST({gx} * 3000 + (CASE "
          f"WHEN {s} = 1 THEN 380 + ({id_col} * 11 % 3) * 20 "
          f"WHEN {s} = 3 THEN 1700 + ({id_col} * 11 % 3) * 20 "
          f"ELSE 700 + ({id_col} * 11 % 10) * 20 END) AS DOUBLE)")
    dx = (f"CAST((CASE WHEN {s} = 1 THEN 300 WHEN {s} = 3 THEN 330 "
          f"ELSE 200 + ({id_col} * 13 % 5) * 40 END) AS DOUBLE)")
    return {"x1": x1, "y": y, "dx": dx}


def capsule_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = capsule_edge_fragments()
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return d.select(
        F.col("doc_id").alias("edge_id"),
        F.expr(fr["x1"]).alias("x1"),
        F.expr(fr["y"]).alias("y1"),
        (F.expr(fr["x1"]) + F.expr(fr["dx"])).alias("x2"),
        F.expr(fr["y"]).alias("y2"),
    )


def sql_capsule_edges(table: str = "documents") -> str:
    fr = capsule_edge_fragments()
    return (
        f"SELECT doc_id AS edge_id, {fr['x1']} AS x1, {fr['y']} AS y1, "
        f"{fr['x1']} + {fr['dx']} AS x2, {fr['y']} AS y2 FROM {table}"
    )


def veg_rects_overlapping(spark: SparkSession) -> DataFrame:
    """Vegetation grid WITH deliberate intra-class overlaps (every
    (gx+gy)%3==0 rect gets an (+800,+600)-shifted twin) — the F10
    dissolve fixture. All coordinates are multiples of 200 so the
    DuckDB oracle can count exact 200 m cells."""
    base = _veg_grid_np()
    gxy = (base["minx"] // VEG_CELL).astype(np.int64) + (base["miny"] // VEG_CELL).astype(np.int64)
    dup = base[gxy % 3 == 0].copy()
    dup["poly_id"] = dup["poly_id"] + 1_000_000
    dup["minx"] += 800.0
    dup["maxx"] += 800.0
    dup["miny"] += 600.0
    dup["maxy"] += 600.0
    return spark.createDataFrame(pd.concat([base, dup], ignore_index=True))


def sql_veg_overlapping_duckdb() -> str:
    """DuckDB twin of veg_rects_overlapping."""
    return f"""
    WITH b AS ({sql_veg_duckdb()})
    SELECT * FROM b
    UNION ALL
    SELECT veg_class, poly_id + 1000000 AS poly_id,
           minx + 800.0 AS minx, miny + 600.0 AS miny,
           maxx + 800.0 AS maxx, maxy + 600.0 AS maxy
    FROM b
    WHERE (CAST(minx // {VEG_CELL} AS BIGINT) + CAST(miny // {VEG_CELL} AS BIGINT)) % 3 = 0
    """


# Concave extent fixture for the turnkey J3 general-polygon path: a
# U-shape whose notch contains the hotspot square (so hot edges fall
# OUTSIDE the extent) plus a rectangular hole. The .03 offsets keep
# ring lines off the synthetic 0.1-m coordinate grid.
CONCAVE_EXTENT_RINGS = [
    np.array([
        [200.03, 200.03], [80000.03, 200.03], [80000.03, 70000.03],
        [60000.03, 70000.03], [60000.03, 20000.03], [40000.03, 20000.03],
        [40000.03, 70000.03], [200.03, 70000.03],
    ]),
    np.array([
        [10000.03, 10000.03], [20000.03, 10000.03],
        [20000.03, 15000.03], [10000.03, 15000.03],
    ]),
]


def sql_within_rings(
    x1: str, y1: str, x2: str, y2: str, rings: list[np.ndarray]
) -> str:
    """DuckDB boolean: segment (x1,y1)-(x2,y2) WITHIN the even-odd
    region of ``rings`` — mechanically generated from the IDENTICAL
    float expressions as kernels.segments_within_rings (same op order
    ⇒ identical doubles ⇒ identical decisions, even on degenerate
    touches). Oracle-side only."""
    def segs(r: np.ndarray):
        r = np.asarray(r, dtype=float)
        if r[0, 0] != r[-1, 0] or r[0, 1] != r[-1, 1]:
            r = np.vstack([r, r[:1]])
        return [
            (repr(r[i, 0]), repr(r[i, 1]), repr(r[i + 1, 0]), repr(r[i + 1, 1]))
            for i in range(len(r) - 1)
        ]

    def inside(px: str, py: str) -> str:
        terms = []
        for r in rings:
            for ax, ay, bx, by in segs(r):
                cond = f"(({ay} > {py}) != ({by} > {py}))"
                xint = f"({ax} + ({py} - {ay}) * ({bx} - {ax}) / ({by} - {ay}))"
                terms.append(
                    f"CASE WHEN {cond} AND ({px} < {xint}) THEN 1 ELSE 0 END"
                )
        return f"(({' + '.join(terms)}) % 2 = 1)"

    cross = []
    for r in rings:
        for ax, ay, bx, by in segs(r):
            o1 = f"(({x2} - {x1}) * ({ay} - {y1}) - ({y2} - {y1}) * ({ax} - {x1}))"
            o2 = f"(({x2} - {x1}) * ({by} - {y1}) - ({y2} - {y1}) * ({bx} - {x1}))"
            o3 = f"(({bx} - {ax}) * ({y1} - {ay}) - ({by} - {ay}) * ({x1} - {ax}))"
            o4 = f"(({bx} - {ax}) * ({y2} - {ay}) - ({by} - {ay}) * ({x2} - {ax}))"
            cross.append(f"(({o1} * {o2} < 0) AND ({o3} * {o4} < 0))")
    return (
        f"({inside(x1, y1)} AND {inside(x2, y2)} "
        f"AND NOT ({' OR '.join(cross)}))"
    )


def sql_points(id_col: str = "doc_id", table: str = "documents") -> str:
    fr = xy_fragments(id_col)
    return (
        f"SELECT {id_col}, text, lang, {fr['x']} AS x, {fr['y']} AS y FROM {table}"
    )


def sql_edges(table: str = "documents") -> str:
    fr = xy_fragments("doc_id")
    return (
        f"SELECT doc_id AS edge_id, text, {fr['x']} AS x1, {fr['y']} AS y1, "
        f"{fr['x']} + {fr['dx']} AS x2, {fr['y']} + {fr['dy']} AS y2, "
        f"sqrt({fr['dx']}*{fr['dx']} + {fr['dy']}*{fr['dy']}) AS length FROM {table}"
    )


def sql_layers_duckdb() -> str:
    """DuckDB-dialect CTE reproducing _layer_grid_np() exactly."""
    name_case = "CASE lr " + " ".join(
        f"WHEN {i} THEN '{n}'" for i, n in enumerate(LAYER_NAMES)
    ) + " END"
    return f"""
    WITH grid AS (
      SELECT g1.range AS gx, g2.range AS gy, lr.range AS lr
      FROM range(0, {NGRID}) g1, range(0, {NGRID}) g2, range(0, {N_LAYERS}) lr
      WHERE (g1.range * 31 + g2.range * 17 + lr.range * 7) % 3 != 0
    ), base AS (
      SELECT {name_case} AS layer,
             lr * {NGRID} * {NGRID} + gx * {NGRID} + gy AS poly_id,
             gx * {GRID_CELL} + lr * 250.0 AS minx,
             gy * {GRID_CELL} + lr * 250.0 AS miny,
             gx * {GRID_CELL} + lr * 250.0 + {RECT_SIDE} AS maxx,
             gy * {GRID_CELL} + lr * 250.0 + {RECT_SIDE} AS maxy,
             45 + 5 * ((gx + gy + lr) % 6) AS db,
             gx, gy
      FROM grid
    ), allr AS (
      SELECT layer, poly_id, minx, miny, maxx, maxy, db FROM base
      UNION ALL
      SELECT layer, poly_id + 1000000, minx + 900.0, miny + 900.0,
             maxx + 900.0, maxy + 900.0, least(db + 5, 70) AS db
      FROM base WHERE (gx + gy) % 5 = 0
    )
    SELECT * FROM allr WHERE maxx <= {NODATA_X0} OR minx >= {NODATA_X1}
    UNION ALL
    SELECT layer, poly_id, minx, miny, {NODATA_X0} AS maxx, maxy, db
    FROM allr WHERE minx < {NODATA_X0} AND maxx > {NODATA_X0}
    UNION ALL
    SELECT layer, poly_id + 2000000 AS poly_id, {NODATA_X1} AS minx, miny, maxx, maxy, db
    FROM allr WHERE minx < {NODATA_X1} AND maxx > {NODATA_X1}
    """


# BMP fixture parameters (m_bmp_features): per-document image size and
# the closed-form pixel function, in IMAGE (top-down) coordinates —
# shared verbatim by the Spark-side encoder and the DuckDB oracle.
def bmp_dims(doc_id: int) -> tuple[int, int]:
    return 2 + doc_id % 6, 2 + doc_id % 4  # (w, h)


def bmp_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, url, img): a real 24-bpp BI_RGB BMP per
    document, pixel channel c at image coords (x, y) =
    (doc_id·31 + y·17 + x·7 + c·11) mod 256; every doc_id ≡ 1 (mod 4)
    is written TOP-DOWN (negative height) so both row orders are
    exercised. Built in an Arrow-batched map stage (binary payloads
    can't be Column-folded); deterministic, no files."""
    from hope_graph_builder_spark.operators.multimodal import encode_bmp

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang")

    def op(batches):
        for pdf in batches:
            ids, urls, imgs = [], [], []
            for doc_id, lang in zip(pdf["doc_id"], pdf["lang"]):
                doc_id = int(doc_id)
                w, h = bmp_dims(doc_id)
                yy = np.arange(h)[:, None, None]
                xx = np.arange(w)[None, :, None]
                cc = np.arange(3)[None, None, :]
                px = ((doc_id * 31 + yy * 17 + xx * 7 + cc * 11) % 256).astype(np.uint8)
                ids.append(doc_id)
                urls.append(f"https://example.org/{lang}/{doc_id}")
                imgs.append(encode_bmp(px, topdown=(doc_id % 4 == 1)))
            yield pd.DataFrame({"doc_id": ids, "url": urls, "img": imgs})

    return d.mapInPandas(op, "doc_id long, url string, img binary")
