"""Kill-and-resume semantics of the lineage manifest (SURVEY.md §4.5,
north rule: resume at partition granularity without recomputing
completed tile groups)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from hope_graph_builder_spark import synth
from hope_graph_builder_spark.checkpoint.manifest import (
    completed_groups,
    read_manifest,
    read_stage,
    run_stage,
    with_tile_group,
)

from tests.conftest import SF_TINY


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _points(spark):
    return with_tile_group(
        synth.page_points(spark, SF_TINY).select("doc_id", "x", "y"), "x", "y", res=3
    )


def test_stage_write_and_manifest(spark, tmpdir):
    pts = _points(spark)
    stats = run_stage(spark, pts, "pts", tmpdir)
    assert stats["groups_skipped"] == 0
    m = read_manifest(spark, tmpdir)
    total = m.agg(F.sum("row_count")).collect()[0][0]
    assert total == pts.count()
    # checksums present for every group
    assert m.filter(F.col("checksum").isNull()).count() == 0


def test_resume_skips_completed(spark, tmpdir):
    pts = _points(spark)
    groups = [r.tile_group for r in pts.select("tile_group").distinct().collect()]
    half = set(groups[: len(groups) // 2])

    # first (simulated-killed) run: only half the tile groups got done
    part1 = pts.filter(F.col("tile_group").isin(half))
    run_stage(spark, part1, "pts", tmpdir)
    assert completed_groups(spark, tmpdir, "pts").count() == len(half)

    # resume with the FULL input: only the remaining groups are written
    stats = run_stage(spark, pts, "pts", tmpdir)
    assert stats["groups_skipped"] == len(half)
    assert stats["groups_written"] == len(groups) - len(half)

    # final data is complete and row-identical to the input
    out = read_stage(spark, tmpdir, "pts")
    assert out.count() == pts.count()
    assert out.select("doc_id").exceptAll(pts.select("doc_id")).count() == 0


def test_rerun_noop(spark, tmpdir):
    pts = _points(spark)
    run_stage(spark, pts, "pts", tmpdir)
    stats = run_stage(spark, pts, "pts", tmpdir)
    assert stats["groups_written"] == 0
    assert read_stage(spark, tmpdir, "pts").count() == pts.count()


def test_debug_sink_tap(spark, tmp_path):
    """S5: the tap writes parquet + a sidecar schema.json and respects
    sampling."""
    import json
    import os

    from hope_graph_builder_spark.checkpoint.manifest import debug_sink

    df = spark.range(100).withColumnRenamed("id", "v")
    out = str(tmp_path / "tap")
    debug_sink(df, out, sample_rows=10)
    assert spark.read.parquet(out).count() == 10
    sch = json.load(open(os.path.join(out, "_schema.json")))
    assert sch["fields"][0]["name"] == "v"

    # a file:// URI: Spark and the sidecar write resolve it alike
    uri_dir = tmp_path / "tap_uri"
    debug_sink(df, uri_dir.as_uri())
    assert spark.read.parquet(uri_dir.as_uri()).count() == 100
    sch = json.load(open(uri_dir / "_schema.json"))
    assert sch["fields"][0]["name"] == "v"


def test_webtext_ingest_checkpointed_kill_resume(spark, tmpdir):
    """Resumable CC ingest: a bucket-aligned partial run (the crash
    surrogate — a mid-write kill leaves a commit directory no manifest
    row names, which is never read and whose groups replay
    identically into a new commit) is resumed by a
    full run that (a) skips every completed signal bucket, (b) detects
    the grown signal set via the stage-2 content fingerprint and
    re-runs the GLOBAL clustering in a fresh namespace, and (c) ends
    byte-equal to the never-killed pipeline."""
    from pyspark.sql import functions as F

    from hope_graph_builder_spark.operators import text as textops
    from hope_graph_builder_spark.operators.extract import extract_text, markup_pages
    from hope_graph_builder_spark.pipelines.webtext import (
        run_webtext_ingest,
        run_webtext_ingest_checkpointed,
    )

    pages = markup_pages(synth.pages(spark, SF_TINY))
    # fixed profiles: resume determinism must not depend on which
    # input-half trained them
    profiles = textops.train_lang_profiles(
        extract_text(pages), text="extracted_text", lang="lang"
    ).localCheckpoint()

    B = 16
    half = pages.filter(F.pmod(F.xxhash64(F.col("doc_id")), F.lit(B)) < B // 2)
    c_part = run_webtext_ingest_checkpointed(
        spark, half, tmpdir, profiles=profiles, buckets=B
    )
    assert 0 < c_part["signals"]["groups_written"] <= B // 2

    c_full = run_webtext_ingest_checkpointed(
        spark, pages, tmpdir, profiles=profiles, buckets=B
    )
    # completed signal buckets were skipped, the rest written
    assert c_full["signals"]["groups_skipped"] == c_part["signals"]["groups_written"]
    assert c_full["signals"]["groups_written"] > 0
    # the grown signal set keyed a NEW final namespace (no stale
    # cluster labels from the half-corpus fixpoint)
    assert c_full["final_stage"] != c_part["final_stage"]

    from hope_graph_builder_spark.checkpoint.manifest import read_stage

    got = read_stage(spark, tmpdir, c_full["final_stage"]).drop("tile_group")
    want = run_webtext_ingest(pages, profiles=profiles)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # idempotent re-run: everything skips
    c_again = run_webtext_ingest_checkpointed(
        spark, pages, tmpdir, profiles=profiles, buckets=B
    )
    assert c_again["signals"]["groups_written"] == 0
    assert c_again["final"]["groups_written"] == 0


def test_run_pipeline_entry_resumes(spark, tmp_path, monkeypatch, capsys):
    """tools/run_pipeline.py (the spark-submit entry) end to end on the
    tiny fixture: the first run writes every tile group of the flagship
    output, a re-submit skips all of them and writes none, and the
    committed stage holds exactly one row per edge."""
    import json
    import os
    import runpy
    import sys

    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "run_pipeline.py",
    )
    out = str(tmp_path / "noise_out")
    monkeypatch.setattr(sys, "argv", [script, "--sf-dir", SF_TINY, "--out", out])

    def submit() -> dict:
        runpy.run_path(script, run_name="__main__")
        lines = capsys.readouterr().out.strip().splitlines()
        return json.loads(lines[-1])

    first = submit()
    assert first["groups_skipped"] == 0 and first["groups_written"] > 0
    again = submit()
    assert again["groups_skipped"] == first["groups_written"]
    assert again["groups_written"] == 0

    got = read_stage(spark, out, "edge_noises")
    n_edges = synth.page_edges(spark, SF_TINY).count()
    assert got.count() == n_edges
    assert got.select("edge_id").distinct().count() == n_edges


def _group_files(root: str, stage: str) -> list[str]:
    """The stage's data files: each commit directory holds flat parquet
    files with a ``tile_group`` column."""
    import glob

    return sorted(glob.glob(f"{root}/commits/{stage}/*/*.parquet"))


def _rewrite(path: str, table) -> None:
    """Replace one data file the way a tool outside Spark would: the
    stale Hadoop ``.crc`` sidecar goes, or Spark's local reader would
    reject the file before the manifest check ever sees it."""
    import os

    import pyarrow.parquet as pq

    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    pq.write_table(table, path)


def test_verify_rejects_dropped_and_duplicated_row(spark, tmpdir):
    """A group file that lost a row or gained a duplicate no longer
    matches its manifest row: read_stage(verify=True) raises, while
    the default read still returns the committed groups' rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pts = _points(spark)
    run_stage(spark, pts, "pts", tmpdir)
    n = pts.count()
    assert read_stage(spark, tmpdir, "pts", verify=True).count() == n

    victim = max(_group_files(tmpdir, "pts"), key=lambda p: pq.read_metadata(p).num_rows)
    orig = pq.read_table(victim)
    assert orig.num_rows >= 2
    for mutated, delta in ((orig.slice(1), -1), (pa.concat_tables([orig, orig.slice(0, 1)]), 1)):
        _rewrite(victim, mutated)
        with pytest.raises(ValueError, match="differ from their manifest"):
            read_stage(spark, tmpdir, "pts", verify=True)
        assert read_stage(spark, tmpdir, "pts").count() == n + delta
    _rewrite(victim, orig)
    assert read_stage(spark, tmpdir, "pts", verify=True).count() == n


def test_hash_sum_catches_what_xor_and_count_miss(spark, tmpdir):
    """Swapping a duplicated pair of rows for another duplicated pair
    keeps the row count and the xor checksum (x ^ x == 0); only the
    hash sum changes, and verify raises on it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = spark.createDataFrame(
        [(1, v) for v in ("a", "a", "b", "c")], "tile_group long, v string"
    ).coalesce(1)
    run_stage(spark, df, "dup", tmpdir)
    (victim,) = _group_files(tmpdir, "dup")
    _rewrite(victim, pa.table({"tile_group": [1] * 4, "v": ["b", "b", "b", "c"]}))

    m = read_manifest(spark, tmpdir).first()
    data = read_stage(spark, tmpdir, "dup").agg(
        F.count("*").alias("n"), F.bit_xor(F.xxhash64("v")).alias("x")
    ).first()
    assert (data.n, data.x) == (m.row_count, m.checksum)
    with pytest.raises(ValueError, match="differ from their manifest"):
        read_stage(spark, tmpdir, "dup", verify=True)
    assert pq.read_table(victim).num_rows == 4


def test_verify_rejects_group_without_manifest_row(spark, tmpdir):
    """A commit directory is read whole, so a row of a group its
    manifest rows do not name comes back from the default read, and
    verify raises on it."""
    import pyarrow as pa

    df = spark.createDataFrame([(1, "a"), (1, "b")], "tile_group long, v string").coalesce(1)
    run_stage(spark, df, "one", tmpdir)
    (victim,) = _group_files(tmpdir, "one")
    _rewrite(victim, pa.table({"tile_group": [1, 1, 2], "v": ["a", "b", "c"]}))

    assert read_stage(spark, tmpdir, "one").count() == 3
    with pytest.raises(ValueError, match="2: no manifest row"):
        read_stage(spark, tmpdir, "one", verify=True)


def test_run_stage_keeps_session_overwrite_mode(spark, tmpdir):
    """run_stage sets no session conf: the partition overwrite mode
    every later overwrite sees is left as it was."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    run_stage(spark, _points(spark), "pts", tmpdir)
    assert spark.conf.get(key) == before == "STATIC"


def test_resume_from_spark_written_manifest(spark, tmpdir):
    """A root whose manifest was committed through Spark before hash_sum
    existed (6 columns, int wall_ms, _SUCCESS and .crc files beside the
    parts) resumes: its groups are skipped, its rows are still read,
    and verify checks them on the columns they carry."""
    pts = _points(spark)
    groups = sorted(r.tile_group for r in pts.select("tile_group").distinct().collect())
    half = groups[: len(groups) // 2]
    part1 = pts.filter(F.col("tile_group").isin(half))
    part1.write.partitionBy("tile_group").parquet(f"{tmpdir}/data/pts")
    (
        spark.read.parquet(f"{tmpdir}/data/pts")
        .groupBy("tile_group")
        .agg(
            F.count("*").alias("row_count"),
            F.bit_xor(F.xxhash64("doc_id", "x", "y")).alias("checksum"),
        )
        .select(
            F.lit("pts").alias("stage"), "tile_group", "row_count", "checksum",
            F.lit(1234).alias("wall_ms"), F.lit("done").alias("status"),
        )
        .write.mode("append").parquet(f"{tmpdir}/_manifest")
    )

    stats = run_stage(spark, pts, "pts", tmpdir)
    assert stats["groups_skipped"] == len(half)
    assert stats["groups_written"] == len(groups) - len(half)
    m = read_manifest(spark, tmpdir)
    assert m.count() == len(groups)
    assert m.filter(F.col("hash_sum").isNull()).count() == len(half)
    assert m.filter(F.col("wall_ms") == 1234).count() == len(half)
    out = read_stage(spark, tmpdir, "pts", verify=True)
    assert out.columns[0] == "tile_group"
    assert out.count() == pts.count()
    assert out.select("doc_id").exceptAll(pts.select("doc_id")).count() == 0


def _halves(spark):
    pts = _points(spark)
    groups = sorted(r.tile_group for r in pts.select("tile_group").distinct().collect())
    half = groups[: len(groups) // 2]
    return pts, groups, half


def test_torn_commit_is_ignored_and_rewritten(spark, tmpdir, monkeypatch):
    """A crash after a stage's data write but before its manifest commit
    leaves a commit directory that no manifest row names: read_stage
    returns only the groups committed earlier, the re-run writes each
    missing group exactly once and deletes the orphan, and verify
    passes."""
    import os

    from hope_graph_builder_spark.checkpoint import manifest

    pts, groups, half = _halves(spark)
    part1 = pts.filter(F.col("tile_group").isin(half))
    run_stage(spark, part1, "pts", tmpdir)
    commits_dir = f"{tmpdir}/commits/pts"
    (first,) = os.listdir(commits_dir)

    real_commit = manifest._commit

    def torn(root, rows):
        monkeypatch.setattr(manifest, "_commit", real_commit)
        raise RuntimeError("killed before the manifest commit")

    monkeypatch.setattr(manifest, "_commit", torn)
    with pytest.raises(RuntimeError, match="killed before the manifest commit"):
        run_stage(spark, pts, "pts", tmpdir)
    (orphan,) = set(os.listdir(commits_dir)) - {first}

    got = read_stage(spark, tmpdir, "pts")
    assert sorted(r.tile_group for r in got.select("tile_group").distinct().collect()) == half
    assert got.count() == part1.count()

    stats = run_stage(spark, pts, "pts", tmpdir)
    assert stats["groups_skipped"] == len(half)
    assert stats["groups_written"] == len(groups) - len(half)
    assert first in os.listdir(commits_dir) and orphan not in os.listdir(commits_dir)
    m = read_manifest(spark, tmpdir)
    assert m.count() == len(groups)
    assert m.groupBy("tile_group").count().filter(F.col("count") != 1).count() == 0
    out = read_stage(spark, tmpdir, "pts", verify=True)
    assert out.count() == pts.count()
    assert out.select("doc_id").exceptAll(pts.select("doc_id")).count() == 0


def test_resume_from_partitioned_layout(spark, tmpdir):
    """A root in the older layout (data under data/<stage>/tile_group=<g>/
    and a 7-column driver-written manifest with no commit column)
    resumes into a commit directory, and read_stage returns every row
    exactly once across both layouts, with and without verify. The
    root also holds one group directory a crash left uncommitted: it
    is rewritten into the commit, and its old directory is not read."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pts, groups, half = _halves(spark)
    torn = groups[len(half)]
    legacy = f"{tmpdir}/data/pts"
    pts.filter(F.col("tile_group").isin(half + [torn])).write.partitionBy("tile_group").parquet(legacy)
    assert os.path.isdir(f"{legacy}/tile_group={torn}")
    lineage = {}
    for r in spark.read.parquet(legacy).filter(F.col("tile_group").isin(half)).select(
        "tile_group", F.xxhash64("doc_id", "x", "y").alias("h")
    ).collect():
        n, x, s = lineage.get(r.tile_group, (0, 0, 0))
        lineage[r.tile_group] = (n + 1, x ^ r.h, s + r.h)
    gs = sorted(lineage)
    os.makedirs(f"{tmpdir}/_manifest")
    pq.write_table(pa.table({
        "stage": ["pts"] * len(gs),
        "tile_group": gs,
        "row_count": [lineage[g][0] for g in gs],
        "checksum": [lineage[g][1] for g in gs],
        # sum mod 2**64, stored as a signed long
        "hash_sum": [(lineage[g][2] + 2**63) % 2**64 - 2**63 for g in gs],
        "wall_ms": [1234] * len(gs),
        "status": ["done"] * len(gs),
    }), f"{tmpdir}/_manifest/part-0.parquet")
    assert gs == half

    stats = run_stage(spark, pts, "pts", tmpdir)
    assert stats["groups_skipped"] == len(half)
    assert stats["groups_written"] == len(groups) - len(half)
    assert len(os.listdir(f"{tmpdir}/commits/pts")) == 1
    m = read_manifest(spark, tmpdir)
    assert m.count() == len(groups)
    assert m.filter(F.col("commit").isNull()).count() == len(half)
    assert m.filter(F.col("tile_group") == torn).first().commit is not None
    for verify in (False, True):
        out = read_stage(spark, tmpdir, "pts", verify=verify)
        assert out.columns == ["tile_group", "doc_id", "x", "y"]
        assert out.count() == pts.count()
        assert out.exceptAll(pts.select(*out.columns)).count() == 0
        assert pts.select(*out.columns).exceptAll(out).count() == 0
