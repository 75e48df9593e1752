"""Spark-job budget of the checkpoint manifest.

Reading a directory tree without a schema costs Spark jobs before any
row is read: above ``spark.sql.sources.parallelPartitionDiscovery.threshold``
paths, the file listing runs as a parallel job (one task per directory),
and parquet schema inference runs a one-task job over the footers.
``run_stage`` and ``read_stage`` take their file list from the manifest
and their schema from the frame just written, so neither call may
launch either job: a ``run_stage`` is the data write plus the lineage
aggregate, and a ``read_stage`` is lazy.
"""

from __future__ import annotations

import contextlib
import tempfile

from pyspark.sql import functions as F

from hope_graph_builder_spark.checkpoint.manifest import read_stage, run_stage

GROUPS = 40


@contextlib.contextmanager
def _jobs(sc, group: str):
    """Collect, per Spark job launched inside the block, the call-site
    name of its stages (``parquet`` for a reader or writer call,
    ``collect`` for an action), read from the status tracker."""
    names: list[str] = []
    sc.setJobGroup(group, group)
    try:
        yield names
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        for job in sorted(tracker.getJobIdsForGroup(group)):
            stage = tracker.getStageInfo(min(tracker.getJobInfo(job).stageIds))
            names.append(stage.name.split(" at ")[0])


def test_run_and_read_stage_launch_no_listing_or_inference_job(spark):
    threshold = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
    assert GROUPS > threshold
    df = spark.range(4_000).select(
        F.col("id").alias("v"), (F.col("id") % GROUPS).alias("tile_group")
    )
    sc = spark.sparkContext
    with tempfile.TemporaryDirectory(prefix="ckpt_jobs_") as root:
        with _jobs(sc, "ckpt-run-stage") as run_jobs:
            stats = run_stage(spark, df, "s", root)
        with _jobs(sc, "ckpt-read-stage") as read_jobs:
            out = read_stage(spark, root, "s")
        assert stats["groups_written"] == GROUPS
        assert out.count() == 4_000
    # one reader/writer job (the data write), the rest are the lineage collect
    assert run_jobs.count("parquet") == 1, run_jobs
    assert set(run_jobs) == {"parquet", "collect"}, run_jobs
    assert read_jobs == [], read_jobs
