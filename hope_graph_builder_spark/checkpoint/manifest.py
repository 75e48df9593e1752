"""Checkpoint / lineage manifest (north rule: "every stage writes
per-partition lineage rows and counters ... a killed job resumes at
partition granularity without recomputing completed H3 tile groups").

Generalizes the reference's poor-man's checkpoint — chunked CSVs named
`{max_id}_edge_noises.csv` with a max-id high-watermark rescan
(`/root/reference/src/noise_graph_join/noise_graph_join.py:140-148,
171-179`) — to:

- output parquet partitioned by ``tile_group`` (a coarse cell id —
  partition pruning works on reads)
- a manifest parquet of per-partition lineage rows
  (stage, tile_group, row_count, checksum, wall_ms, status)
- resume = anti-join of the input's tile groups against completed
  manifest rows (replaces the filename max-id trick; works for any
  subset, not just a prefix)

Crash safety: data partitions land first (dynamic partition overwrite
→ idempotent rewrites), manifest rows append after; a crash between
the two just re-processes those partitions on resume.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hope_graph_builder_spark.functions.sqltext import ident
from hope_graph_builder_spark.spatial.cells import cell_id_sql

MANIFEST_SCHEMA = "stage string, tile_group long, row_count long, checksum long, wall_ms long, status string"


def with_tile_group(df: DataFrame, x: str, y: str, res: int = 4,
                    out: str = "tile_group") -> DataFrame:
    """Coarse-cell partition key (res 4 → 8192 m tiles → ≤256 groups
    in the synthetic extent; tune res so groups ≫ executors)."""
    return df.withColumn(out, F.expr(cell_id_sql(ident(x), ident(y), res)))


def _manifest_path(root: str) -> str:
    return f"{root}/_manifest"


def read_manifest(spark: SparkSession, root: str) -> DataFrame:
    try:
        return spark.read.parquet(_manifest_path(root))
    except Exception:
        return spark.createDataFrame([], MANIFEST_SCHEMA)


def completed_groups(spark: SparkSession, root: str, stage: str) -> DataFrame:
    return (
        read_manifest(spark, root)
        .filter((F.col("stage") == stage) & (F.col("status") == "done"))
        .select("tile_group")
        .distinct()
    )


def run_stage(
    spark: SparkSession,
    df: DataFrame,
    stage: str,
    root: str,
    tile_col: str = "tile_group",
) -> dict:
    """Execute one checkpointed stage: write only not-yet-completed
    tile groups of ``df`` to ``root/data/<stage>``, then append their
    lineage rows. Returns counters (mirrors the reference's logged
    count invariants, noise_graph_join.py:116-125)."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    done = completed_groups(spark, root, stage)
    todo = df.join(F.broadcast(done), tile_col, "left_anti")

    t0 = time.time()
    data_path = f"{root}/data/{stage}"
    todo.write.mode("overwrite").partitionBy(tile_col).parquet(data_path)
    wall_ms = int((time.time() - t0) * 1000)

    # lineage rows: count + order-insensitive checksum per partition
    written = spark.read.parquet(data_path).join(
        F.broadcast(done), tile_col, "left_anti"
    )
    # xxhash64 rejects MAP columns (undefined hashcodes); serialize
    # them — our maps are built sorted, so to_json is deterministic
    from pyspark.sql.types import MapType

    non_key = [
        F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in written.schema.fields
        if f.name != tile_col
    ]
    lineage = (
        written.groupBy(tile_col)
        .agg(
            F.count("*").alias("row_count"),
            # xor-fold: order-independent, overflow-free under ANSI mode
            F.bit_xor(F.xxhash64(*non_key)).alias("checksum"),
        )
        .select(
            F.lit(stage).alias("stage"),
            F.col(tile_col).alias("tile_group"),
            "row_count",
            "checksum",
            F.lit(wall_ms).alias("wall_ms"),
            F.lit("done").alias("status"),
        )
    )
    lineage.write.mode("append").parquet(_manifest_path(root))
    n_groups = lineage.count()
    skipped = done.count()
    return {"stage": stage, "groups_written": n_groups, "groups_skipped": skipped,
            "wall_ms": wall_ms}


def read_stage(spark: SparkSession, root: str, stage: str) -> DataFrame:
    """Read a completed stage's data, restricted to manifest-committed
    partitions (uncommitted stragglers from a crash are ignored —
    they'll be overwritten on resume)."""
    done = completed_groups(spark, root, stage)
    return spark.read.parquet(f"{root}/data/{stage}").join(
        F.broadcast(done), "tile_group", "left_semi"
    )


def debug_sink(df, path: str, sample_rows: int | None = None) -> None:
    """S5 debug sink (reference exports intermediate GeoDataFrames to
    debug GeoPackages when b_export_*_gpkg flags are set,
    otp_graph_import.py:58-64, 180-194): tap any intermediate
    DataFrame to parquet plus a sidecar schema.json, optionally
    sampled. Sampling uses LIMIT (deterministic enough for debugging;
    a tap must never add a full shuffle to the traced plan)."""
    import json as _json

    out = df.limit(sample_rows) if sample_rows else df
    out.write.mode("overwrite").parquet(path)
    schema_path = os.path.join(path, "_schema.json")
    with open(schema_path, "w") as f:
        f.write(_json.dumps(_json.loads(out.schema.json()), indent=1))
