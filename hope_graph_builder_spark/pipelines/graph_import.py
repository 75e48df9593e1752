"""Graph import/cleanup pipeline — reference §3.2
(`/root/reference/src/otp_graph_import/otp_graph_import.py:16-232`):
attribute filters (P2) → AOI spatial filter (P3) → node-id remap (J10)
→ component cleanup (G2) → isolated-node removal (G3) → dense ids (G4).

Page-derived attribute synthesis (same IEEE-exact arithmetic family as
synth.py) stands in for the OTP CSV columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hope_graph_builder_spark import synth
from hope_graph_builder_spark.operators.graph import (
    connected_components,
    drop_small_components,
    redensify_ids,
    remove_isolated_nodes,
)
from hope_graph_builder_spark.operators.sampling import xy_id_sql


def edges_with_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """page edges + synthesized OTP-style booleans
    (allows_walking / allows_biking / is_no_thru_traffic)."""
    e = synth.page_edges(spark, sf_dir)
    h1 = f"((edge_id * {synth.A1} + {synth.C1}) % {synth.MOD})"
    h2 = f"((edge_id * {synth.A2} + {synth.C2}) % {synth.MOD})"
    h3 = f"((edge_id * {synth.A3} + {synth.C3}) % {synth.MOD})"
    return (
        e.withColumn("allows_walking", F.expr(f"{h1} % 5 != 0"))
        .withColumn("allows_biking", F.expr(f"{h2} % 3 != 0"))
        .withColumn("is_no_thru_traffic", F.expr(f"{h3} % 7 = 0"))
        .withColumn(
            "bike_safety_factor",
            F.expr(f"CAST(1 AS DOUBLE) + ({h3} % 100) / CAST(100 AS DOUBLE)"),
        )
    )


def filter_traversable(edges: DataFrame) -> DataFrame:
    """P2 (otp_graph_import.py:66-74): keep walkable-or-bikeable, then
    drop no-thru-traffic. Counters via observe mirror the reference's
    logged filter ratios."""
    return (
        edges.observe("p2_in", F.count(F.lit(1)).alias("rows_in"))
        .filter(F.col("allows_walking") | F.col("allows_biking"))
        .filter(~F.col("is_no_thru_traffic"))
        .observe("p2_out", F.count(F.lit(1)).alias("rows_out"))
    )


def filter_aoi(edges: DataFrame, rect: tuple[float, float, float, float]) -> DataFrame:
    """P3 (otp_graph_import.py:113-131): drop edges fully outside the
    buffered AOI — an edge stays if either endpoint is inside."""
    x0, y0, x1, y1 = rect
    inside = lambda x, y: (F.col(x) >= x0) & (F.col(x) < x1) & (F.col(y) >= y0) & (F.col(y) < y1)  # noqa: E731
    return edges.filter(inside("x1", "y1") | inside("x2", "y2"))


def build_graph(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """G1/J10 (otp_graph_import.py:76-111): node ids from quantized
    endpoint coordinates (shared endpoints coalesce to one node);
    returns (nodes, edges with src/dst)."""
    e = edges.withColumns({
        "src": F.expr(xy_id_sql("x1", "y1")),
        "dst": F.expr(xy_id_sql("x2", "y2")),
    })
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    return nodes, e


def run_graph_import(
    spark: SparkSession,
    sf_dir: str,
    aoi: tuple[float, float, float, float] = (0.0, 0.0, 80000.0, 80000.0),
    min_component_nodes: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Full §3.2 chain → (clean_nodes with dense new_id, clean_edges).

    ``min_component_nodes=0`` keeps every component (documented
    deviation from the reference default, which deletes subgraphs with
    ≤15 EDGES, otp_graph_import.py:192-199 — an in-memory igraph
    decompose keyed on edge counts). Callers that want the reference
    cleanup pass an explicit threshold; the golden-fixture test
    reproduces the exact ≤15-edge semantics."""
    e = filter_aoi(filter_traversable(edges_with_attrs(spark, sf_dir)), aoi)
    nodes, e2 = build_graph(e)
    cc = connected_components(e2)
    kept = drop_small_components(e2, cc, min_nodes=min_component_nodes)
    alive = remove_isolated_nodes(nodes, kept)
    dense = redensify_ids(alive)
    return dense, kept
