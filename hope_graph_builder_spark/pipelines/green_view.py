"""Green-view (GVI) pipeline — reference §3.3
(`/root/reference/src/green_view_join_v1/green_view_join_v1.py`).

Stages: GVI point rescale (F17) → DWithin(30 m) join edges × points
(J4, no buffer geometry materialized) → per-edge GVI collect (A10) →
gated mean (A11, decimal sum → order-free) → land-cover overlay share
(J7/A9/J8, overlay.py) → combined GVI write-back (J9/F18/G5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hope_graph_builder_spark.operators.spatial_join import dwithin_join


def rescale_gvi(points: DataFrame, raw: str = "gvi_raw") -> DataFrame:
    """F17 (green_view_join_v1.py:21-22): GVI = round(raw/100, 3)."""
    return points.withColumn("GVI", F.bround(F.col(raw) / 100.0, 3))


def gvi_mean_per_edge(
    edges: DataFrame, gvi_points: DataFrame, dist: float = 30.0, res: int = 9
) -> DataFrame:
    """J4 + A10 + A11 (green_view_join_v1.py:29-91): mean GVI per edge,
    gated on the length-dependent minimum sample count
    required = floor(length/10 * 0.5) if length > 20 else 1;
    mean = round(Σ/n, 2). Decimal(9,3) sum keeps the fold order-free."""
    j = dwithin_join(
        gvi_points.select("gvi_id", "x", "y", "GVI"),
        edges.select("edge_id", "x1", "y1", "x2", "y2", "length"),
        dist=dist,
        res=res,
        point_id="gvi_id",
    )
    g = j.groupBy("edge_id").agg(
        F.expr("count(*) AS n"),
        F.expr("sum(CAST(GVI AS DECIMAL(9,3))) AS s"),
        F.expr("min(length) AS length"),
    )
    required = "CASE WHEN length > 20.0D THEN FLOOR((length / 10.0D) * 0.5D) ELSE 1 END"
    return g.selectExpr(
        "edge_id",
        "n",
        f"CASE WHEN n >= {required} THEN bround(CAST(s AS DOUBLE) / n, 2) END AS mean_gvi",
    )


def combine_gvi(
    gsv_gvi: F.Column, low_veg: F.Column, high_veg: F.Column, omit_low_veg: bool = False
) -> F.Column:
    """F18 (green_view_join_v1.py:94-115). Faithful quirk: the
    reference's ``if gsv_gvi:`` treats 0.0 as missing — reproduced with
    an explicit != 0 test."""
    present = gsv_gvi.isNotNull() & (gsv_gvi != 0.0)
    if omit_low_veg:
        fallback = F.bround(high_veg, 2)
    else:
        comb = high_veg + F.lit(0.6) * low_veg
        fallback = F.when(comb <= 1.0, F.bround(comb, 2)).otherwise(F.lit(1.0))
    return F.when(present, F.bround(gsv_gvi, 2)).otherwise(fallback)


def update_gvi_attributes(
    edges: DataFrame,
    mean_gvi: DataFrame,
    veg_shares: DataFrame,
) -> DataFrame:
    """G5 write-back as joins (green_view_join_v1.py:118-155): missing
    GSV GVI stays null, missing veg share defaults to 0.0."""
    out = (
        edges.join(mean_gvi.select("edge_id", "mean_gvi"), "edge_id", "left")
        .join(veg_shares, "edge_id", "left")
        .withColumn("gvi_low_veg_share", F.coalesce("low_veg_share", F.lit(0.0)))
        .withColumn("gvi_high_veg_share", F.coalesce("high_veg_share", F.lit(0.0)))
    )
    return out.select(
        "edge_id",
        F.col("mean_gvi").alias("gvi_gsv"),
        "gvi_low_veg_share",
        "gvi_high_veg_share",
        combine_gvi(F.col("mean_gvi"), F.col("gvi_low_veg_share"), F.col("gvi_high_veg_share")).alias("gvi_comb_gsv_veg"),
        combine_gvi(F.col("mean_gvi"), F.col("gvi_low_veg_share"), F.col("gvi_high_veg_share"), omit_low_veg=True).alias("gvi_comb_gsv_high_veg"),
    )
