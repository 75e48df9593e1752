#!/usr/bin/env python
"""spark-submit entry point (north rule: "runs via spark-submit
--py-files on a multi-executor cluster").

  zip -r /tmp/hgbs.zip hope_graph_builder_spark
  spark-submit --master local[32] --py-files /tmp/hgbs.zip \
      tools/run_pipeline.py --sf-dir /root/testdata/sf0.1 --out /tmp/noise_out

Uses SparkSession.builder.getOrCreate() so the submitter's master /
executor config wins; runs the flagship noise join with manifest
checkpointing (kill it mid-run, re-submit, and it resumes at tile
granularity).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--mult", type=int, default=1)
    ap.add_argument("--res", type=int, default=9)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("hope_graph_builder_spark").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from hope_graph_builder_spark import synth
    from hope_graph_builder_spark.checkpoint.manifest import run_stage, with_tile_group
    from hope_graph_builder_spark.pipelines.noise_join import run_noise_join

    edges = (
        synth.page_edges_dense(spark, args.sf_dir, args.mult)
        if args.mult > 1
        else synth.page_edges(spark, args.sf_dir)
    )
    layers = synth.noise_layers(spark)
    noises = run_noise_join(edges, layers, synth.NODATA_RECT, res=args.res)
    # key the output by the tile group of the edge start point: the
    # unit a resumed run skips or rewrites
    out = with_tile_group(
        noises.join(edges.select("edge_id", "x1", "y1"), "edge_id"), "x1", "y1", res=4
    ).drop("x1", "y1")
    stats = run_stage(spark, out, "edge_noises", args.out)
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
