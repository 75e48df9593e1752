"""Square-grid cell index (H3/S2 stand-in) as native Spark expressions.

Re-expresses the reference's R-tree spatial indexing
(`/root/reference/src/noise_graph_join/utils.py:148` via gpd.sjoin,
PostGIS GIST at `land_cover_overlay_analysis.py:80-81`) as a
cell-equi-join prefilter that Catalyst plans like any hash join.

Layout of a cell id (int64):
    bits 56..62 : resolution (0..63)
    bits 28..55 : ix (floor(x / size)), 28 bits
    bits  0..27 : iy (floor(y / size)), 28 bits

Coordinates are metric, in [0, EXTENT_M). EXTENT_M = 2^17 m = 131.072 km,
so at res r the cell side is 2^(17-r) meters; res 7 → 1024 m cells,
res 10 → 128 m cells, res 12 → 32 m.

The functions here come in two flavors of the same math:
  *_sql   — Spark SQL text over SQL operands (one JVM parse); wrap in
            ``F.expr`` to get a Column
  *_np    — numpy, for pandas-UDF internals and tests
"""

from __future__ import annotations

import numpy as np
from hope_graph_builder_spark.functions.sqltext import dbl

EXTENT_M = 131072.0  # 2^17 meters
_IX_SHIFT = 28
_RES_SHIFT = 56
_MASK28 = (1 << 28) - 1


def cell_size(res: int) -> float:
    """Cell side length in meters at resolution ``res``."""
    return EXTENT_M / float(1 << res)


def _floor_sql(v: str, res: int) -> str:
    return f"CAST(FLOOR(({v}) / {dbl(cell_size(res))}) AS BIGINT)"


def _pack_sql(ix: str, iy: str, res: int) -> str:
    return f"(CAST({res << _RES_SHIFT} AS BIGINT) + shiftleft({ix}, {_IX_SHIFT}) + {iy})"


def cell_id_sql(x: str, y: str, res: int) -> str:
    """Cell id of the point whose coordinates are the SQL operands
    ``x``, ``y`` at ``res`` — pure long arithmetic."""
    return _pack_sql(_floor_sql(x, res), _floor_sql(y, res), res)


def cover_bbox_sql(minx: str, miny: str, maxx: str, maxy: str, res: int) -> str:
    """array<long> of every cell id intersecting the bbox whose bounds
    are the SQL operands — native ``sequence`` + ``transform`` +
    ``flatten`` (no UDF, no shuffle).

    Replaces GeoPandas' per-call R-tree build (reference
    `utils.py:143-163`): the polygon side of a spatial join gets
    exploded over this cover, then joined to the point side's
    ``cell_id_sql`` on a long key.
    """
    return (
        f"flatten(transform(sequence({_floor_sql(minx, res)}, {_floor_sql(maxx, res)}),"
        f" _cix -> transform(sequence({_floor_sql(miny, res)}, {_floor_sql(maxy, res)}),"
        f" _ciy -> {_pack_sql('_cix', '_ciy', res)})))"
    )


# ---------------------------------------------------------------- numpy ---


def cells_of_points_np(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    size = cell_size(res)
    ix = np.floor(x / size).astype(np.int64)
    iy = np.floor(y / size).astype(np.int64)
    return (np.int64(res) << _RES_SHIFT) + (ix << _IX_SHIFT) + iy


def cover_bbox_np(
    minx: float, miny: float, maxx: float, maxy: float, res: int
) -> np.ndarray:
    size = cell_size(res)
    ix = np.arange(int(np.floor(minx / size)), int(np.floor(maxx / size)) + 1)
    iy = np.arange(int(np.floor(miny / size)), int(np.floor(maxy / size)) + 1)
    gx, gy = np.meshgrid(ix.astype(np.int64), iy.astype(np.int64), indexing="ij")
    return ((np.int64(res) << _RES_SHIFT) + (gx << _IX_SHIFT) + gy).ravel()


def unpack_cell_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    res = cell >> _RES_SHIFT
    ix = (cell >> _IX_SHIFT) & _MASK28
    iy = cell & _MASK28
    return res, ix, iy
