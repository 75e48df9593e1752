"""Multi-resolution tile rollup — the "hypertable rollup" of the task
brief expressed over the engine's cell grid: per-cell aggregates
(count, sum) at EVERY resolution of a pyramid in one job.

Scale shape (the part that matters at 100 TB): raw points are scanned
and shuffled ONCE, at the finest level; every coarser level aggregates
FROM the previous level's (already tiny) cell table via the parent-cell
arithmetic, so level ℓ-1 shuffles ~4× fewer rows than level ℓ —
total extra work is a geometric series over cell counts, independent
of raw data size. Each level is MATERIALIZED (localCheckpoint — the
same lineage-cut pattern as operators/graph.py)
before the next folds it: measured here, Catalyst does NOT reuse the
base aggregation exchange across the union's branches (AQE plans each
branch separately), so without the cut the raw scan would run once per
level. Plan-asserted in tests: the final union contains exactly zero
raw-file scans. In production the per-level tables are the product —
a real rollup job writes each level to its sink as it folds, which is
the same materialization point.

Exactness: values are half-even-quantized to ``dp`` decimals and
summed in DECIMAL (the repo's quantize-then-decimal-sum rule), so
every level's sum is order-free and exact, pyramid-vs-direct identical
by decimal associativity, and the DuckDB twin matches bit-for-bit.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hope_graph_builder_spark.functions.sqltext import ident
from hope_graph_builder_spark.spatial.cells import _MASK28, _IX_SHIFT, _RES_SHIFT, cell_id_sql


def parent_cell_expr(cell, child_res: int):
    """Cell id of the parent (res-1) tile: ix>>1, iy>>1, res-1 —
    pure bit arithmetic on the packed id (res is a compile-time
    constant per pyramid level, so no runtime res decode)."""
    ix = F.shiftright(cell, _IX_SHIFT).bitwiseAND(F.lit(_MASK28))
    iy = cell.bitwiseAND(F.lit(_MASK28))
    return (
        F.lit((child_res - 1) << _RES_SHIFT).cast("long")
        + F.shiftleft(F.shiftright(ix, 1), _IX_SHIFT)
        + F.shiftright(iy, 1)
    )


def tile_pyramid(
    points: DataFrame,
    res_fine: int,
    res_coarse: int,
    x: str = "x",
    y: str = "y",
    value: str = "value",
    dp: int = 5,
) -> DataFrame:
    """→ (res, cell, n, sum_v) for every res in [res_coarse, res_fine]:
    the tile-pyramid aggregate table that powers zoomable rollups
    (counts + sums per tile at every zoom). One raw aggregation at
    ``res_fine``; each coarser level folds the previous level."""
    if not (0 <= res_coarse <= res_fine):
        raise ValueError(f"need 0 <= res_coarse <= res_fine, got {res_coarse}..{res_fine}")
    base = (
        points.select(
            F.expr(cell_id_sql(ident(x), ident(y), res_fine)).alias("cell"),
            F.bround(F.col(value).cast("double"), dp).cast("decimal(20,10)").alias("_v"),
        )
        .groupBy("cell")
        .agg(F.count("*").alias("n"), F.sum("_v").alias("_s"))
        .withColumn("res", F.lit(res_fine))
        .localCheckpoint()
    )
    levels = [base]
    cur = base
    for r in range(res_fine, res_coarse, -1):
        cur = (
            cur.select(parent_cell_expr(F.col("cell"), r).alias("cell"), "n", "_s")
            .groupBy("cell")
            .agg(F.sum("n").alias("n"), F.sum("_s").alias("_s"))
            .withColumn("res", F.lit(r - 1))
            .localCheckpoint()
        )
        levels.append(cur)
    out = reduce(lambda a, b: a.unionByName(b), levels)
    return out.select(
        F.col("res").cast("int").alias("res"),
        "cell",
        "n",
        F.col("_s").cast("double").alias("sum_v"),
    )
