"""Flagship pipeline tests — port of the reference's invariant +
golden-statistic strategy (SURVEY.md §5; reference
noise_graph_join_test.py) onto the deterministic synthetic fixtures.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hope_graph_builder_spark import synth
from hope_graph_builder_spark.operators.noise import LAYER_NAMES
from hope_graph_builder_spark.operators.sampling import sample_edges, with_xy_id
from hope_graph_builder_spark.operators.spatial_join import (
    hot_cell_factors,
    pip_join_rect,
    with_point_cell,
)
from hope_graph_builder_spark.pipelines.noise_join import run_noise_join

from tests.conftest import SF_TINY


@pytest.fixture(scope="module")
def edges(spark):
    return synth.page_edges(spark, SF_TINY).cache()


@pytest.fixture(scope="module")
def layers(spark):
    return synth.noise_layers(spark).cache()


@pytest.fixture(scope="module")
def edge_noises(spark, edges, layers):
    return run_noise_join(edges, layers, synth.NODATA_RECT, res=9).cache()


def test_sample_len_conservation(spark, edges):
    """Σ sample_len per edge == edge length (reference
    noise_graph_join_test.py:54-60, ±1e-5)."""
    s = sample_edges(edges)
    chk = (
        s.groupBy("edge_id").agg(F.sum("sample_len").alias("tot"))
        .join(edges.select("edge_id", "length"), "edge_id")
        .withColumn("diff", F.abs(F.col("tot") - F.col("length")))
        .agg(F.max("diff"))
        .collect()[0][0]
    )
    assert chk < 1e-5


def test_samples_on_edge(spark, edges):
    """Every sample point lies on its edge (reference :43-48)."""
    s = sample_edges(edges).join(edges, "edge_id")
    # cross product of (sample - p1) and (p2 - p1) == 0 → collinear
    cross = (F.col("x") - F.col("x1")) * (F.col("y2") - F.col("y1")) - (
        F.col("y") - F.col("y1")
    ) * (F.col("x2") - F.col("x1"))
    mx = s.agg(F.max(F.abs(cross) / F.greatest(F.col("length"), F.lit(1.0)))).collect()[0][0]
    assert mx < 1e-6


def test_every_edge_in_output(edges, edge_noises):
    """Distinct output edges == edges in (reference :98)."""
    assert edge_noises.count() == edges.count()
    assert edge_noises.select("edge_id").distinct().count() == edges.count()


def test_exposure_bounded_by_length(edges, edge_noises):
    """Σ noises.values() ≤ edge length + eps (reference :103-106)."""
    tot = edge_noises.select(
        "edge_id",
        F.aggregate(F.map_values("noises"), F.lit(0.0), lambda a, x: a + x).alias("noise_len"),
    )
    bad = (
        tot.join(edges.select("edge_id", "length"), "edge_id")
        .filter(F.col("noise_len") > F.col("length") + 1e-4)
        .count()
    )
    assert bad == 0


def test_three_valued_semantics(edge_noises):
    """noises map / noise_source coupling (reference :132-165):
    empty noises ⇔ noise_source == '' ⇔ empty noise_sources."""
    rows = edge_noises.select(
        (F.size("noises") == 0).alias("no_noise"),
        (F.col("noise_source") == "").alias("no_src"),
        (F.size("noise_sources") == 0).alias("no_srcs"),
    ).collect()
    for r in rows:
        assert r.no_noise == r.no_src == r.no_srcs


def test_three_valued_null_extent(spark, edges, layers):
    """J3 (reference noise_graph_update.py:29-48): with a data-extent
    rect, all THREE states exist and stay coupled — NULL (outside
    extent), {} / '' (inside, unmatched), populated."""
    # extent = left half of the world → a real NULL set; layers thinned
    # to x < 30000 → an in-extent band with zero coverage → a real {}
    # set (the full grid covers every in-extent edge otherwise)
    out = run_noise_join(
        edges, layers.filter(F.col("minx") < 30000.0), synth.NODATA_RECT, res=9,
        extent_rect=(0.0, 0.0, 50000.0, 131072.0),
    ).cache()
    counts = out.select(
        F.count(F.when(F.col("noises").isNull(), 1)).alias("n_null"),
        F.count(F.when(F.size("noises") == 0, 1)).alias("n_empty"),
        F.count(F.when(F.size("noises") > 0, 1)).alias("n_full"),
    ).collect()[0]
    assert counts.n_null > 0 and counts.n_empty > 0 and counts.n_full > 0
    # the three columns agree on the state per row
    coupled = out.select(
        (F.col("noises").isNull() == F.col("noise_source").isNull()).alias("a"),
        (F.col("noises").isNull() == F.col("noise_sources").isNull()).alias("b"),
    ).filter(~F.col("a") | ~F.col("b")).count()
    assert coupled == 0
    # NULL exactly when the edge geometry is NOT within the extent —
    # within(convex rect) ⇔ both endpoints inside (reference
    # noise_graph_update.py:36-44, sjoin op='within')
    flagged = edges.select(
        "edge_id",
        (
            ((F.col("x1") >= 0) & (F.col("x1") < 50000.0))
            & ((F.col("x2") >= 0) & (F.col("x2") < 50000.0))
        ).alias("in_extent"),
    )
    bad = (
        out.join(flagged, "edge_id")
        .filter(F.col("noises").isNull() == F.col("in_extent"))
        .count()
    )
    assert bad == 0


def test_polyline_fast_path_parity(spark, edges):
    """sample_polyline on 2-vertex arrays reproduces sample_edges
    pointwise (F4 general form vs fast path). Tolerance 1e-8: the
    polyline path recomputes length as sqrt((x2-x1)²+…) while the fast
    path reuses the precomputed length column — 1-ulp differences in
    (x1+dx)-x1 are expected, semantic differences are not."""
    from hope_graph_builder_spark.operators.sampling import sample_polyline

    two = edges.select(
        "edge_id", F.array("x1", "x2").alias("xs"), F.array("y1", "y2").alias("ys")
    )
    a = sample_edges(edges, index_col="i")
    b = sample_polyline(two, index_col="i").withColumnRenamed(
        "sample_len", "sample_len_b"
    ).withColumnRenamed("x", "xb").withColumnRenamed("y", "yb")
    j = a.join(b, ["edge_id", "i"], "full")
    assert j.filter(F.col("x").isNull() | F.col("xb").isNull()).count() == 0
    mx = j.agg(
        F.max(
            F.greatest(
                F.abs(F.col("x") - F.col("xb")),
                F.abs(F.col("y") - F.col("yb")),
                F.abs(F.col("sample_len") - F.col("sample_len_b")),
            )
        )
    ).collect()[0][0]
    assert mx < 1e-8


def test_polyline_length_conservation(spark):
    """Σ sample_len per polyline edge == polyline length (the general-
    form twin of test_sample_len_conservation)."""
    from hope_graph_builder_spark.operators.sampling import (
        polyline_length_expr,
        sample_polyline,
    )

    pl = synth.page_polylines(spark, SF_TINY).cache()
    s = sample_polyline(pl)
    chk = (
        s.groupBy("edge_id").agg(F.sum("sample_len").alias("tot"))
        .join(pl.select("edge_id", polyline_length_expr().alias("length")), "edge_id")
        .agg(F.max(F.abs(F.col("tot") - F.col("length"))))
        .collect()[0][0]
    )
    assert chk < 1e-5
    # ≥3-vertex inputs really occur (the whole point of the fixture)
    assert pl.filter(F.size("xs") >= 3).count() > 0


def test_golden_counts(edge_noises, edges):
    """Pinned golden statistics for the deterministic sf0.001 fixture
    (counterpart of the reference's 3522-edge goldens)."""
    n_edges = edges.count()
    assert n_edges == 500
    hist = {
        r.noise_source: r.cnt
        for r in edge_noises.groupBy("noise_source").agg(F.count("*").alias("cnt")).collect()
    }
    # deterministic — update only if synthesis constants change
    assert sum(hist.values()) == 500
    assert set(hist) <= {"road", "train", "tram", "metro", ""}


def test_salting_preserves_results(spark, edges, layers):
    """Salted and unsalted flagship joins are row-identical (north rule:
    explicit skew salting must not change results)."""
    pts = with_xy_id(sample_edges(edges)).select("xy_id").distinct().select(
        "xy_id",
        (F.floor(F.col("xy_id") / 10_000_000) / 10.0).alias("x"),
        (F.pmod(F.col("xy_id"), 10_000_000) / 10.0).alias("y"),
    )
    base = (
        pip_join_rect(pts, layers, res=9, how="inner", point_id="xy_id")
        .groupBy("xy_id", "layer").agg(F.max("db").alias("db"))
    )
    salted = (
        pip_join_rect(pts, layers, res=9, how="inner", point_id="xy_id", salt=4)
        .groupBy("xy_id", "layer").agg(F.max("db").alias("db"))
    )
    assert base.exceptAll(salted).count() == 0
    assert salted.exceptAll(base).count() == 0


def test_targeted_salting_preserves_results(spark, edges, layers):
    pts = with_point_cell(
        synth.page_points(spark, SF_TINY).select("doc_id", "x", "y"), "x", "y", 9
    )
    hot = hot_cell_factors(pts, threshold=20)
    assert hot.count() >= 1  # the synthesized hotspot must be detected
    base = (
        pip_join_rect(pts.drop("_cell"), layers, res=9, how="inner", point_id="doc_id")
        .groupBy("doc_id", "layer").agg(F.max("db").alias("db"))
    )
    salted = (
        pip_join_rect(pts.drop("_cell"), layers, res=9, how="inner", point_id="doc_id", hot=hot)
        .groupBy("doc_id", "layer").agg(F.max("db").alias("db"))
    )
    assert base.exceptAll(salted).count() == 0
    assert salted.exceptAll(base).count() == 0


def test_text_byte_identity(spark, edges):
    """north-rule invariant: text per url rides through the pipeline
    byte-identical — digests of (url, text) before and after the
    sampling/join stages anti-join to empty."""
    pages = synth.pages(spark, SF_TINY)
    before = pages.select(F.xxhash64("url", "text").alias("h"))
    # edges carry url+text; fan out through sampling, then recover per-url text
    after = (
        sample_edges(edges)
        .join(edges.select("edge_id", "url", "text"), "edge_id")
        .select("url", "text").distinct()
        .select(F.xxhash64("url", "text").alias("h"))
    )
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0


def test_interpolate_missing_quantile(spark):
    """Exact nearest-rank semantics of the kNN interpolation
    (reference noise_graph_join.py:88-98): fillna(0), per-layer
    0.7-nearest quantile over the 20 ring samples, then 0 → null."""
    import pandas as pd
    from hope_graph_builder_spark.operators.noise import interpolate_missing

    rows = []
    for i in range(20):
        rows.append({
            "xy_id": 1, "ring_i": i,
            # 15 of 20 ring points see dB 50 → sorted[14] = 50
            "hel_road": 50 if i < 15 else None,
            # only 5 see dB 60 → sorted[14] = 0 → null
            "hel_train": 60 if i < 5 else None,
            "hel_tram": None, "hel_metro": None,
            "syke_road": None, "syke_train": None,
            "syke_tram": None, "syke_metro": None,
        })
    pdf = pd.DataFrame(rows).astype("object").where(pd.notna(pd.DataFrame(rows)), None)
    df = spark.createDataFrame(
        pdf, schema="xy_id long, ring_i int, hel_road int, hel_train int, "
        "hel_tram int, hel_metro int, syke_road int, syke_train int, "
        "syke_tram int, syke_metro int"
    )
    out = interpolate_missing(df, ring_count=20).collect()[0]
    assert out.hel_road == 50.0
    assert out.hel_train is None
    assert out.hel_tram is None


def test_nodata_polygon_with_hole(spark, edges, layers):
    """General-geometry nodata zone: a donut nodata polygon must flag
    sample locations in the ring but NOT in the hole — compared
    row-for-row against the independent rect decomposition (outer
    minus hole = two non-overlapping rect strips... expressed as the
    exact predicate)."""
    import numpy as np

    from hope_graph_builder_spark.pipelines.noise_join import noise_final_samples
    from hope_graph_builder_spark.spatial.wkb import polygon_to_wkb_rings

    outer = np.array([[30000.0, 0.0], [60000.0, 0.0], [60000.0, 131072.0],
                      [30000.0, 131072.0], [30000.0, 0.0]])
    hole = np.array([[40000.0, 30000.0], [50000.0, 30000.0], [50000.0, 90000.0],
                     [40000.0, 90000.0], [40000.0, 30000.0]])
    donut = spark.createDataFrame(
        [(0, bytearray(polygon_to_wkb_rings([outer, hole])),
          30000.0, 0.0, 60000.0, 131072.0)],
        "poly_id long, geom binary, minx double, miny double, maxx double, maxy double",
    )
    out = noise_final_samples(edges, layers, None, res=7, nodata_polys=donut)

    # independent predicate: in outer (half-open) and NOT in hole
    from pyspark.sql import functions as F

    x = (F.floor(F.col("xy_id") / 10_000_000) / 10.0)
    y = (F.pmod(F.col("xy_id"), 10_000_000) / 10.0)
    in_outer = (x >= 30000.0) & (x < 60000.0) & (y >= 0.0) & (y < 131072.0)
    in_hole = (x >= 40000.0) & (x < 50000.0) & (y >= 30000.0) & (y < 90000.0)
    expected_nodata = in_outer & ~in_hole

    # nodata_zone isn't in the output — recompute the observable effect:
    # a sample is interpolated (kNN branch) only when nodata & unmatched;
    # instead re-run noise_final_samples with the equivalent rect pair is
    # impossible (donut isn't a rect), so assert on the internal flag by
    # rebuilding the unique-point stage directly
    from hope_graph_builder_spark.operators.sampling import sample_edges, with_xy_id
    from hope_graph_builder_spark.operators.spatial_join import pip_join_wkb
    from hope_graph_builder_spark.pipelines.noise_join import unique_points

    uniq = unique_points(with_xy_id(sample_edges(edges)))
    flags = (
        pip_join_wkb(uniq.select("xy_id", "x", "y"), donut, res=4, point_id="xy_id")
        .select("xy_id").distinct().withColumn("_nz", F.lit(True))
    )
    got = uniq.join(flags, "xy_id", "left").select(
        "xy_id", F.coalesce("_nz", F.lit(False)).alias("got"),
        expected_nodata.alias("want"),
    )
    assert got.filter(F.col("got") != F.col("want")).count() == 0
    # both flagged and hole-exempt locations genuinely occur
    assert got.filter(F.col("got")).count() > 0
    assert got.filter(in_hole & ~F.col("got")).count() > 0
    # and the full pipeline runs end-to-end with the donut nodata
    assert out.count() > 0


def test_nodata_polygon_and_rect_identical(spark, edges, layers, edge_noises):
    """The nodata zone given as a one-ring WKB polygon of NODATA_RECT
    (even-odd PIP flag, miss branch read from the flagged locations)
    must give row-identical flagship output to the rect form (native
    predicate, strip-only miss recompute). The layer grid leaves the
    strip uncovered and default 7 m rings inside it hit no layer, so
    150 m rings are used: they reach the layers beside the strip and
    give the kNN gap-fill values to compare."""
    from hope_graph_builder_spark.spatial.wkb import rect_to_wkb

    nx0, ny0, nx1, ny1 = synth.NODATA_RECT
    polys = spark.createDataFrame(
        [(0, bytearray(rect_to_wkb(nx0, ny0, nx1, ny1)),
          float(nx0), float(ny0), float(nx1), float(ny1))],
        "poly_id long, geom binary, minx double, miny double, maxx double, maxy double",
    )
    a = run_noise_join(edges, layers, None, res=9, ring_radius=150.0, nodata_polys=polys)
    b = run_noise_join(edges, layers, synth.NODATA_RECT, res=9, ring_radius=150.0)

    def canon(df):
        return df.select(
            "edge_id",
            F.to_json(F.map_entries("noises")).alias("noises"),
            "noise_source",
            F.to_json(F.map_entries("noise_sources")).alias("noise_sources"),
        )

    x, y = canon(a), canon(b)
    assert x.exceptAll(y).count() == 0
    assert y.exceptAll(x).count() == 0
    # not vacuous: the 150 m gap-fill changes the output (edge_noises,
    # with 7 m rings, equals the output without any nodata zone)
    assert y.exceptAll(canon(edge_noises)).count() > 0
