"""Checkpoint / lineage manifest (north rule: "every stage writes
per-partition lineage rows and counters ... a killed job resumes at
partition granularity without recomputing completed H3 tile groups").

Generalizes the reference's poor-man's checkpoint — chunked CSVs named
`{max_id}_edge_noises.csv` with a max-id high-watermark rescan
(`/root/reference/src/noise_graph_join/noise_graph_join.py:140-148,
171-179`) — to:

- output parquet partitioned by ``tile_group`` (a coarse cell id —
  partition pruning works on reads)
- a manifest of per-partition lineage rows (``MANIFEST_SCHEMA``:
  stage, tile_group, row_count, checksum, hash_sum, wall_ms, status),
  one small parquet file per commit under ``root/_manifest``
- resume = the completed groups, read once on the driver, filtered out
  by partition value (replaces the filename max-id trick; works for
  any subset, not just a prefix)

A stage commit runs two Spark jobs: the data write and one aggregate
of the groups just written, collected to the driver (≤ one row per
group). The driver writes the manifest file itself.

Checksums, both order-free folds of ``xxhash64`` over a row's non-key
columns:

- ``checksum``: xor fold. A duplicated pair of rows cancels out of it.
- ``hash_sum``: sum mod 2**64, stored as a signed long. A duplicate
  changes it. The aggregate sums the high and low 32-bit halves
  separately (a plain long sum raises on overflow under ANSI mode);
  the driver combines them. Manifests written before it carry null.

``read_stage(..., verify=True)`` recomputes (row_count, checksum,
hash_sum) per committed group and raises on a mismatch.

Crash safety: data partitions land first (dynamic partition overwrite
→ idempotent rewrites), then one driver-written manifest file is
renamed in from a hidden temp name; a crash before the rename just
re-processes those partitions on resume.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from hope_graph_builder_spark.functions.sqltext import ident
from hope_graph_builder_spark.spatial.cells import cell_id_sql

_MANIFEST_COLS = (
    ("stage", "string"),
    ("tile_group", "long"),
    ("row_count", "long"),
    ("checksum", "long"),
    ("hash_sum", "long"),
    ("wall_ms", "long"),
    ("status", "string"),
)
# the one manifest schema: Spark DDL for reads, Arrow for the driver commit
MANIFEST_SCHEMA = ", ".join(f"{n} {t}" for n, t in _MANIFEST_COLS)
_ARROW_SCHEMA = pa.schema(
    [(n, pa.string() if t == "string" else pa.int64()) for n, t in _MANIFEST_COLS]
)
_CHECKS = ("row_count", "checksum", "hash_sum")


def with_tile_group(df: DataFrame, x: str, y: str, res: int = 4,
                    out: str = "tile_group") -> DataFrame:
    """Coarse-cell partition key (res 4 → 8192 m tiles → ≤256 groups
    in the synthetic extent; tune res so groups ≫ executors)."""
    return df.withColumn(out, F.expr(cell_id_sql(ident(x), ident(y), res)))


def _manifest_path(root: str) -> str:
    return f"{root}/_manifest"


def _fs(path: str) -> tuple[pafs.FileSystem, str]:
    """pyarrow filesystem and path for a Spark path: a URI, or a local
    path (a relative one resolves against the cwd, as Spark's does)."""
    uri = "://" in path or path.startswith("file:")
    return pafs.FileSystem.from_uri(path if uri else os.path.abspath(path))


def _existing_manifest(root: str) -> tuple[pafs.FileSystem, str] | None:
    fs, path = _fs(_manifest_path(root))
    return None if fs.get_file_info(path).type == pafs.FileType.NotFound else (fs, path)


def _committed(root: str, stage: str, columns: list[str]) -> pa.Table:
    """The stage's done manifest rows, read on the driver. An absent
    manifest means nothing is done; files of manifests written before
    ``hash_sum`` existed read it as null."""
    found = _existing_manifest(root)
    if found is None:
        return _ARROW_SCHEMA.empty_table().select(columns)
    fs, path = found
    return ds.dataset(path, schema=_ARROW_SCHEMA, format="parquet", filesystem=fs).to_table(
        columns=columns, filter=(ds.field("stage") == stage) & (ds.field("status") == "done")
    )


def _done_groups(root: str, stage: str) -> list[int]:
    return sorted(set(_committed(root, stage, ["tile_group"])["tile_group"].to_pylist()))


def _signed64(v: int) -> int:
    v &= 0xFFFFFFFFFFFFFFFF
    return v - (1 << 64) if v >> 63 else v


def _lineage(df: DataFrame, tile_col: str) -> dict[int, tuple[int, int, int]]:
    """One aggregate job: tile group → (row_count, checksum, hash_sum)."""
    # xxhash64 rejects MAP columns (undefined hashcodes); serialize
    # them — our maps are built sorted, so to_json is deterministic
    non_key = [
        F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
        if f.name != tile_col
    ]
    rows = (
        df.select(F.col(tile_col).alias("g"), F.xxhash64(*non_key).alias("h"))
        .groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.bit_xor("h").alias("x"),
            F.sum(F.shiftrightunsigned("h", 32)).alias("hi"),
            F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)).alias("lo"),
        )
        .collect()
    )
    return {r.g: (r.n, r.x, _signed64((r.hi << 32) + r.lo)) for r in rows}


def _commit(root: str, rows: list[dict]) -> None:
    """Write ``rows`` as one parquet file under a hidden name (neither
    Spark nor pyarrow reads names starting with '.'), then rename it in."""
    fs, path = _fs(_manifest_path(root))
    fs.create_dir(path, recursive=True)
    name = f"part-{time.time_ns()}-{uuid.uuid4().hex}.parquet"
    pq.write_table(pa.Table.from_pylist(rows, schema=_ARROW_SCHEMA), f"{path}/.{name}", filesystem=fs)
    fs.move(f"{path}/.{name}", f"{path}/{name}")


def read_manifest(spark: SparkSession, root: str) -> DataFrame:
    if _existing_manifest(root) is None:
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(_manifest_path(root))


def completed_groups(spark: SparkSession, root: str, stage: str) -> DataFrame:
    return spark.createDataFrame([(g,) for g in _done_groups(root, stage)], "tile_group long")


def run_stage(
    spark: SparkSession,
    df: DataFrame,
    stage: str,
    root: str,
    tile_col: str = "tile_group",
) -> dict:
    """Execute one checkpointed stage: write only not-yet-completed
    tile groups of ``df`` to ``root/data/<stage>``, then commit their
    lineage rows. Returns counters (mirrors the reference's logged
    count invariants, noise_graph_join.py:116-125)."""
    done = _done_groups(root, stage)
    todo = df.filter(~F.col(tile_col).isin(done)) if done else df

    t0 = time.time()
    data_path = f"{root}/data/{stage}"
    (todo.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy(tile_col).parquet(data_path))
    wall_ms = int((time.time() - t0) * 1000)

    written = spark.read.parquet(data_path)
    lineage = _lineage(written.filter(~F.col(tile_col).isin(done)) if done else written, tile_col)
    if lineage:
        _commit(root, [
            {"stage": stage, "tile_group": g, "row_count": n, "checksum": x, "hash_sum": s,
             "wall_ms": wall_ms, "status": "done"}
            for g, (n, x, s) in sorted(lineage.items())
        ])
    return {"stage": stage, "groups_written": len(lineage), "groups_skipped": len(done),
            "wall_ms": wall_ms}


def read_stage(spark: SparkSession, root: str, stage: str, verify: bool = False) -> DataFrame:
    """Read a completed stage's data, restricted to manifest-committed
    partitions (uncommitted stragglers from a crash are ignored —
    they'll be overwritten on resume). ``verify`` first recomputes each
    committed group's counters and raises ``ValueError`` on a mismatch;
    a null manifest counter (older manifests) is not compared."""
    committed = _committed(root, stage, ["tile_group", *_CHECKS])
    done = sorted(set(committed["tile_group"].to_pylist()))
    data = spark.read.parquet(f"{root}/data/{stage}").filter(F.col("tile_group").isin(done))
    if verify:
        got = _lineage(data, "tile_group")
        bad = []
        for row in committed.to_pylist():
            want, have = tuple(row[c] for c in _CHECKS), got.get(row["tile_group"])
            if have is None or any(w is not None and w != h for w, h in zip(want, have)):
                bad.append(f"{row['tile_group']}: manifest {want}, data {have}")
        if bad:
            raise ValueError(f"stage {stage!r}: {len(bad)} committed tile group(s) differ from "
                             "their manifest (row_count, checksum, hash_sum): " + "; ".join(bad[:5]))
    return data.select("tile_group", *[c for c in data.columns if c != "tile_group"])


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
