"""Checkpoint / lineage manifest (north rule: "every stage writes
per-partition lineage rows and counters ... a killed job resumes at
partition granularity without recomputing completed H3 tile groups").

Generalizes the reference's poor-man's checkpoint — chunked CSVs named
`{max_id}_edge_noises.csv` with a max-id high-watermark rescan
(`/root/reference/src/noise_graph_join/noise_graph_join.py:140-148,
171-179`) — to:

- one commit directory per ``run_stage`` call,
  ``root/commits/<stage>/<commit>/``: a flat parquet write of the
  groups that call wrote (one file per write task), plus the written
  frame's schema as ``_schema.json``
- a manifest of per-group lineage rows (``MANIFEST_SCHEMA``: stage,
  tile_group, row_count, checksum, hash_sum, wall_ms, status, commit),
  one small parquet file per commit under ``root/_manifest``;
  ``wall_ms`` is the data-write wall of the row's commit
- resume = the completed groups, read once on the driver, filtered out
  of the input (replaces the filename max-id trick; works for any
  subset, not just a prefix)

Reads take the directory list from the manifest, as Delta Lake takes
its file list from its log, and the schema from the commit: no schema
inference job, and no parallel listing job while the paths read stay
at or under ``spark.sql.sources.parallelPartitionDiscovery.threshold``
(32 by default; above it Spark lists them in one job). The paths are a
stage's commits, one per ``run_stage`` call that wrote anything.
A stage commit runs two Spark jobs: the data write and one aggregate
of the directory just written, re-read with the written frame's
schema and collected to the driver (≤ one row per group). The driver
writes the manifest file itself.

Checksums, both order-free folds of ``xxhash64`` over a row's non-key
columns:

- ``checksum``: xor fold. A duplicated pair of rows cancels out of it.
- ``hash_sum``: sum mod 2**64, stored as a signed long. A duplicate
  changes it. The aggregate sums the high and low 32-bit halves
  separately (a plain long sum raises on overflow under ANSI mode);
  the driver combines them. Manifests written before it carry null.

``read_stage(..., verify=True)`` recomputes (row_count, checksum,
hash_sum) per committed group and raises on a mismatch.

Crash safety comes from the manifest alone: a commit directory counts
once one driver-written manifest file naming it is renamed in from a
hidden temp name. A crash before the rename leaves a directory no
manifest row names; it is never read, its groups are rewritten into a
new commit on resume, and the stage's next ``run_stage`` deletes it
(this assumes one writer per stage).

Manifest rows without a ``commit`` (roots written with the older
Hive-style ``data/<stage>/tile_group=<g>/`` layout) are read from
``root/data/<stage>``; resuming such a root writes new commits beside it.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StructType

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
    ("commit", "string"),
)
# the one manifest schema: Spark DDL for reads, Arrow for the driver commit
MANIFEST_SCHEMA = ", ".join(f"{n} {t}" for n, t in _MANIFEST_COLS)
_ARROW_SCHEMA = pa.schema(
    [(n, pa.string() if t == "string" else pa.int64()) for n, t in _MANIFEST_COLS]
)
_CHECKS = ("row_count", "checksum", "hash_sum")


def with_tile_group(df: DataFrame, x: str, y: str, res: int = 4,
                    out: str = "tile_group") -> DataFrame:
    """Coarse-cell resume key (res 4 → 8192 m tiles → ≤256 groups in
    the synthetic extent). A group is the unit ``run_stage`` skips or
    rewrites, not a directory: tune res so groups ≫ executors."""
    return df.withColumn(out, F.expr(cell_id_sql(ident(x), ident(y), res)))


def _manifest_path(root: str) -> str:
    return f"{root}/_manifest"


def _commits_path(root: str, stage: str) -> str:
    return f"{root}/commits/{stage}"


def _fs(path: str) -> tuple[pafs.FileSystem, str]:
    """pyarrow filesystem and path for a Spark path: a URI, or a local
    path (a relative one resolves against the cwd, as Spark's does)."""
    uri = "://" in path or path.startswith("file:")
    return pafs.FileSystem.from_uri(path if uri else os.path.abspath(path))


def _write_text(path: str, text: str) -> None:
    fs, p = _fs(path)
    with fs.open_output_stream(p) as f:
        f.write(text.encode())


def _existing_manifest(root: str) -> tuple[pafs.FileSystem, str] | None:
    fs, path = _fs(_manifest_path(root))
    return None if fs.get_file_info(path).type == pafs.FileType.NotFound else (fs, path)


def _committed(root: str, stage: str, columns: list[str]) -> pa.Table:
    """The stage's done manifest rows, read on the driver. An absent
    manifest means nothing is done; files of manifests written before
    ``hash_sum`` or ``commit`` existed read them as null."""
    found = _existing_manifest(root)
    if found is None:
        return _ARROW_SCHEMA.empty_table().select(columns)
    fs, path = found
    return ds.dataset(path, schema=_ARROW_SCHEMA, format="parquet", filesystem=fs).to_table(
        columns=columns, filter=(ds.field("stage") == stage) & (ds.field("status") == "done")
    )


def _groups(committed: pa.Table) -> list[int]:
    return sorted(set(committed["tile_group"].to_pylist()))


def _drop_orphans(root: str, stage: str, keep: set[str]) -> None:
    """Delete the stage's commit directories that no manifest row names
    (left by a crash before the manifest commit)."""
    fs, base = _fs(_commits_path(root, stage))
    for info in fs.get_file_info(pafs.FileSelector(base, allow_not_found=True)):
        if info.type == pafs.FileType.Directory and info.base_name not in keep:
            fs.delete_dir(info.path)


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
    groups = _groups(_committed(root, stage, ["tile_group"]))
    return spark.createDataFrame([(g,) for g in groups], "tile_group long")


def run_stage(
    spark: SparkSession,
    df: DataFrame,
    stage: str,
    root: str,
    tile_col: str = "tile_group",
) -> dict:
    """Execute one checkpointed stage: write the not-yet-completed tile
    groups of ``df`` into a new commit directory under
    ``root/commits/<stage>``, then commit their lineage rows. Returns
    counters (mirrors the reference's logged count invariants,
    noise_graph_join.py:116-125)."""
    committed = _committed(root, stage, ["tile_group", "commit"])
    done = _groups(committed)
    _drop_orphans(root, stage, set(committed["commit"].to_pylist()))
    todo = df.filter(~F.col(tile_col).isin(done)) if done else df

    commit = f"{time.time_ns()}-{uuid.uuid4().hex}"
    path = f"{_commits_path(root, stage)}/{commit}"
    t0 = time.time()
    todo.write.parquet(path)
    wall_ms = int((time.time() - t0) * 1000)

    lineage = _lineage(spark.read.schema(todo.schema).parquet(path), tile_col)
    if lineage:
        _write_text(f"{path}/_schema.json", todo.schema.json())
        _commit(root, [
            {"stage": stage, "tile_group": g, "row_count": n, "checksum": x, "hash_sum": s,
             "wall_ms": wall_ms, "status": "done", "commit": commit}
            for g, (n, x, s) in sorted(lineage.items())
        ])
    else:  # every group was done already: keep no empty commit
        fs, p = _fs(path)
        fs.delete_dir(p)
    return {"stage": stage, "groups_written": len(lineage), "groups_skipped": len(done),
            "wall_ms": wall_ms}


def read_stage(spark: SparkSession, root: str, stage: str, verify: bool = False) -> DataFrame:
    """Read a completed stage's data: the commit directories its
    manifest rows name, with the schema stored beside them, so no
    inference job runs (a commit directory from a crash is never named,
    so never read). Every row of a named commit is committed. Rows
    without a commit come from the older ``data/<stage>`` layout, kept
    to the groups committed there: a group left uncommitted in it was
    rewritten into a commit on resume. ``verify`` first recomputes each
    committed group's counters and raises ``ValueError`` on a
    mismatch; a null manifest counter (older manifests) is not
    compared."""
    committed = _committed(root, stage, ["tile_group", "commit", *_CHECKS])
    commits = sorted({c for c in committed["commit"].to_pylist() if c is not None})
    legacy = _groups(committed.filter(pc.is_null(committed["commit"])))
    reader, parts = spark.read, []
    if commits:
        base = _commits_path(root, stage)
        fs, p = _fs(f"{base}/{commits[-1]}/_schema.json")
        with fs.open_input_stream(p) as f:
            reader = spark.read.schema(StructType.fromJson(json.loads(f.read())))
        parts.append(reader.parquet(*[f"{base}/{c}" for c in commits]))
    # older roots; with the schema known, only their listing job runs
    if legacy or not commits:
        parts.append(reader.parquet(f"{root}/data/{stage}").filter(F.col("tile_group").isin(legacy)))
    data = reduce(DataFrame.unionByName, parts)
    if verify:
        got = _lineage(data, "tile_group")
        bad = []
        for row in committed.to_pylist():
            want, have = tuple(row[c] for c in _CHECKS), got.get(row["tile_group"])
            if have is None or any(w is not None and w != h for w, h in zip(want, have)):
                bad.append(f"{row['tile_group']}: manifest {want}, data {have}")
        # a named commit is read whole: a group it holds must have a manifest row
        bad += [f"{g}: no manifest row, data {got[g]}" for g in sorted(got.keys() - set(_groups(committed)))]
        if bad:
            raise ValueError(f"stage {stage!r}: {len(bad)} tile group(s) differ from "
                             "their manifest (row_count, checksum, hash_sum): " + "; ".join(bad[:5]))
    return data.select("tile_group", *[c for c in data.columns if c != "tile_group"])


def debug_sink(df, path: str, sample_rows: int | None = None) -> None:
    """S5 debug sink (reference exports intermediate GeoDataFrames to
    debug GeoPackages when b_export_*_gpkg flags are set,
    otp_graph_import.py:58-64, 180-194): tap any intermediate
    DataFrame to parquet plus a sidecar _schema.json, optionally
    sampled. ``path`` may be a local path or a URI. Sampling uses
    LIMIT (deterministic enough for debugging; a tap must never add a
    full shuffle to the traced plan)."""
    out = df.limit(sample_rows) if sample_rows else df
    out.write.mode("overwrite").parquet(path)
    _write_text(f"{path}/_schema.json", json.dumps(json.loads(out.schema.json()), indent=1))
