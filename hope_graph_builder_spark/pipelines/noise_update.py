"""Noise attribute write-back — the reference's noise_graph_update
stage (`/root/reference/src/noise_graph_join/noise_graph_update.py`):
set three-valued defaults by data-extent membership
(`set_default_and_na_edge_noises`, :29-48), then overwrite from
per-edge noise CSVs (`noise_graph_update`, :15-27).

Spark twin: the graph is an edge DataFrame; the CSVs are a normal
distributed scan typed through the GraphML-equivalent converters
(functions/graphml_types — the CSV carries Python dict-repr strings,
exactly the reference's on-disk encoding); both "updates" are one left
join + coalesce, no mutation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hope_graph_builder_spark.functions.graphml_types import (
    int_map_from,
    str_map_from,
)


def read_edge_noise_csv(spark: SparkSession, path: str) -> DataFrame:
    """One reference noise CSV (columns: index, id_ig, noises dict-repr,
    noise_source, noise_sources dict-repr) → typed rows. NaN
    noise_source becomes '' exactly like the reference's
    ``replace({np.nan: ''})`` (noise_graph_update.py:23)."""
    raw = spark.read.options(header=True).csv(path)
    return raw.select(
        F.col("id_ig").cast("long").alias("id_ig"),
        int_map_from(F.col("noises")).alias("noises"),
        F.coalesce(F.col("noise_source"), F.lit("")).alias("noise_source"),
        str_map_from(F.col("noise_sources")).alias("noise_sources"),
    )


def set_default_and_na_edge_noises(
    edges: DataFrame, within: str = "in_extent"
) -> DataFrame:
    """Three-valued defaults (noise_graph_update.py:29-48): edges whose
    geometry is within the data extent get {} / '' / {}; all others
    (including empty geometries, which GEOS 'within' rejects) get
    NULL."""
    w = F.col(within)
    # built per call: a Column needs an active session, so none at import
    empty_noises = F.map_from_arrays(
        F.array().cast("array<int>"), F.array().cast("array<double>")
    )
    empty_sources = F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<int>")
    )
    return edges.withColumn(
        "noises", F.when(w, empty_noises).otherwise(F.lit(None).cast("map<int,double>"))
    ).withColumn(
        "noise_source", F.when(w, F.lit("")).otherwise(F.lit(None).cast("string"))
    ).withColumn(
        "noise_sources",
        F.when(w, empty_sources).otherwise(F.lit(None).cast("map<string,int>")),
    )


def noise_graph_update(edges_with_defaults: DataFrame, edge_noises: DataFrame,
                       key: str = "id_ig") -> DataFrame:
    """Overwrite defaults with CSV values where present
    (noise_graph_update.py:15-27): left join + coalesce — CSV rows win,
    everything else keeps its default (incl. NULL nodata)."""
    n = edge_noises.select(
        key,
        F.col("noises").alias("_n"),
        F.col("noise_source").alias("_s"),
        F.col("noise_sources").alias("_ns"),
    )
    return (
        edges_with_defaults.join(n, key, "left")
        .withColumn("noises", F.coalesce(F.col("_n"), F.col("noises")))
        .withColumn("noise_source", F.coalesce(F.col("_s"), F.col("noise_source")))
        .withColumn("noise_sources", F.coalesce(F.col("_ns"), F.col("noise_sources")))
        .drop("_n", "_s", "_ns")
    )
