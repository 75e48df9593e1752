"""Spatial kernel: tiling (cells), WKB, numpy geometry kernels, CRS.

The tiling scheme is a from-scratch square-grid hierarchy (H3/S2 stand-in,
built only from public math): the working extent [0, EXTENT_M)^2 in a
metric CRS is divided, at resolution r, into 2^r × 2^r square cells of
side EXTENT_M / 2^r.  A cell id packs (res, ix, iy) into one int64 so
cell joins are plain long equi-joins.

Everything that touches cell ids is a *native Spark expression* (see
cells.py) — it compiles into whole-stage codegen and the spatial
join becomes an ordinary hash/broadcast join on a long key.
"""

from hope_graph_builder_spark.spatial.cells import (  # noqa: F401
    EXTENT_M,
    cell_id_sql,
    cell_size,
    cover_bbox_sql,
    cells_of_points_np,
    cover_bbox_np,
    unpack_cell_np,
)
