"""Physical-plan assertions — the 100 TB design contract: broadcast
where intended, pushdown reaching the parquet scan, no cartesian
products, whole-stage codegen around the refine filters."""

from pyspark.sql import functions as F

from hope_graph_builder_spark import synth
from hope_graph_builder_spark.operators.spatial_join import dwithin_join, pip_join_rect
from hope_graph_builder_spark.pipelines.noise_join import run_noise_join

from tests.conftest import SF_TINY


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pip_join_broadcasts_polygons(spark):
    pts = synth.page_points(spark, SF_TINY)
    layers = synth.noise_layers(spark)
    plan = _plan(pip_join_rect(pts, layers, res=7, how="inner", point_id="doc_id"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pip_join_shuffle_path_is_equi(spark):
    pts = synth.page_points(spark, SF_TINY)
    layers = synth.noise_layers(spark)
    plan = _plan(
        pip_join_rect(
            pts, layers, res=7, how="inner", point_id="doc_id",
            salt=4, broadcast_polys=False,
        )
    )
    # salted shuffle path: a hash-partitioned equi join, never a loop join
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_dwithin_refine_stays_native(spark):
    pts = synth.page_points(spark, SF_TINY).select("doc_id", "x", "y")
    edges = synth.page_edges(spark, SF_TINY).select("edge_id", "x1", "y1", "x2", "y2")
    plan = _plan(dwithin_join(pts, edges, dist=30.0, res=9))
    # the dist² refine is join-condition arithmetic, not a Python UDF
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_parquet_filter_pushdown(spark):
    df = (
        spark.read.parquet(f"{SF_TINY}/lineitem.parquet")
        .filter(F.col("l_orderkey") == 7)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,7)]" in plan
    # column pruning reached the scan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_flagship_tail_is_two_level(spark):
    """The per-edge rollup is the r06 two-level shape: ONE codegen
    count aggregate keyed (edge_id, n_max_adj, n_max_mask) feeding ONE
    edge_id object aggregate — exactly two tail exchanges, no
    reassembly join, and the heavy collect_list runs on the
    pre-reduced triples (~1 row/edge measured), not the raw samples
    (the r01 tail cost 5 exchanges / 6 stages; the r05 single-pass
    tail cost ~25 of 82 executor-seconds in per-edge array exprs)."""
    import re

    edges = synth.page_edges(spark, SF_TINY)
    layers = synth.noise_layers(spark)
    plan = _plan(run_noise_join(edges, layers, synth.NODATA_RECT, res=7))
    edge_exchanges = re.findall(r"Exchange hashpartitioning\(edge_id[^)]*\)", plan)
    assert len(edge_exchanges) == 2, edge_exchanges
    # level 1 is keyed by the full triple...
    assert re.search(
        r"hashpartitioning\(edge_id#\d+L?, n_max_adj#\d+, n_max_mask#\d+", plan
    ), plan[:400]
    # ...and only the pre-reduced rows reach the object aggregate:
    # collect_list must aggregate the weighted struct (adj, mask, c)
    assert re.search(r"collect_list\(struct\(adj,[^)]*mask,[^)]*c,", plan), plan[:400]


def test_flagship_no_cartesian_and_codegen(spark):
    import contextlib
    import io

    edges = synth.page_edges(spark, SF_TINY)
    layers = synth.noise_layers(spark)
    df = run_noise_join(edges, layers, synth.NODATA_RECT, res=7)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # codegen view (the adaptive plan string hides codegen until final)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="codegen")
    assert "WholeStageCodegen" in buf.getvalue()


def test_f16_distinct_before_global_window(spark):
    """The single-partition global window (dense_rank over all rows)
    must rank the DISTINCT keys, not the full table: the plan's
    single-partition exchange has to sit ABOVE the hash aggregate that
    implements distinct (VERDICT r2 #2)."""
    from hope_graph_builder_spark.contract import queries

    plan = _plan(queries()["f16_dense_id"](spark, SF_TINY))
    single = plan.index("Exchange SinglePartition")
    agg = plan.index("HashAggregate")
    # text order in executedPlan: parents print before children, so the
    # SinglePartition exchange appearing BEFORE the first HashAggregate
    # means distinct runs underneath (earlier stage) — the window input
    # is already deduplicated
    assert single < agg, plan[:2000]


def test_status_store_stage_metrics_accessible(spark):
    """perfbench/trace.py's SparkStats reads per-span engine counters
    from the AppStatusStore through versioned py4j signatures
    (statusTracker().getJobIdsForGroup, 5-arg statusStore().stageData,
    taskSummary) — pin that they keep working with the UI disabled and
    count exactly the jobs of the span's group, so the benchmark's
    per-layer metrics don't rot silently."""
    from perfbench.trace import SparkStats, Tracer

    sc = spark.sparkContext
    tracer = Tracer(sc, "status-store-pin")
    stats = SparkStats(sc, slots=sc.defaultParallelism)
    with tracer.span("shuffle") as s:
        spark.range(100_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    got = stats.for_groups(tracer.groups(s), s.wall)
    assert got["spark.stages"] >= 2
    assert got["spark.tasks"] >= got["spark.stages"]
    assert got["spark.shuffle_write_bytes"] > 0
    assert got["spark.shuffle_read_bytes"] > 0
    assert got["spark.task_s"] > 0
    assert got["spark.task_skew"] >= 1.0
    # a job outside the span's group is not attributed to it
    spark.range(10_000).groupBy((F.col("id") % 3).alias("k")).count().collect()
    assert stats.for_groups(tracer.groups(s), s.wall)["spark.stages"] == got["spark.stages"]


def test_asof_join_single_keyed_sort_no_range_join(spark):
    """asof_join's plan: one hash exchange on the key feeding a window
    sort — no BroadcastNestedLoopJoin / CartesianProduct anywhere (the
    failure mode of naive range-condition as-of implementations)."""
    from hope_graph_builder_spark.operators.temporal import asof_join

    e = spark.read.parquet(f"{SF_TINY}/events.parquet")
    left = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    right = e.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts", "value"
    )
    plan = _plan(asof_join(left, right, by="user_id", payload=["event_id", "ts", "value"]))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 1
    assert "hashpartitioning(user_id" in plan


def test_ivf_assignment_broadcasts_centroids(spark):
    """The centroid-assignment shape (shared by ivf_topk and every
    Lloyd iteration — kmeans_lloyd localCheckpoints its result, so the
    IVF plan is the inspectable twin) must broadcast the tiny centroid
    table; a shuffled centroid join would serialize the pass."""
    from hope_graph_builder_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 4)
    plan = _plan(similarity.ivf_topk(emb, q, k=3, nlist=4, nprobe=2))
    # the corpus-side assignment crossJoin runs against a BROADCAST of
    # ≤ nlist rows — the intended bounded fan-out (it may plan as a
    # BroadcastNestedLoopJoin over the broadcast side, which is fine);
    # what must NEVER appear is a data×data CartesianProduct
    assert plan.count("BroadcastExchange") >= 1
    assert "CartesianProduct" not in plan


def test_tile_pyramid_single_raw_scan(spark):
    """The pyramid's coarser levels must fold the FINEST level's
    aggregate, not rescan raw data: each level is checkpointed before
    the next folds it (measured: Catalyst does NOT reuse the base
    exchange across union branches), so the final union plan contains
    ZERO raw file scans — and every level equals the direct per-level
    rollup."""
    from pyspark.sql import functions as F

    from hope_graph_builder_spark.operators.rollup import tile_pyramid
    from hope_graph_builder_spark.spatial.cells import cell_id_expr

    pts = __import__("hope_graph_builder_spark.synth", fromlist=["synth"]).page_points(
        spark, SF_TINY
    ).select(
        "doc_id", "x", "y",
        ((F.col("doc_id") % 1000).cast("double") / F.lit(8.0)).alias("value"),
    )
    out = tile_pyramid(pts, res_fine=10, res_coarse=7)
    plan = _plan(out)
    assert "Scan parquet" not in plan and "FileScan" not in plan, plan[:2000]
    # level-by-level equality with the direct rollup
    for r in (7, 9):
        direct = (
            pts.select(
                cell_id_expr(F.col("x"), F.col("y"), r).alias("cell"),
                F.bround(F.col("value"), 5).cast("decimal(20,10)").alias("_v"),
            )
            .groupBy("cell")
            .agg(F.count("*").alias("n"), F.sum("_v").cast("double").alias("sum_v"))
        )
        lvl = out.filter(F.col("res") == r).select("cell", "n", "sum_v")
        assert lvl.exceptAll(direct).count() == 0
        assert direct.exceptAll(lvl).count() == 0


def test_pack_budget_no_global_data_window(spark):
    """pack_token_budget's running sum must be partitioned by the
    quality bucket — the only unpartitioned window may range over the
    per-bucket totals (≤ n_buckets rows), never over the data. A
    global-order data window would funnel the corpus through one
    task."""
    from hope_graph_builder_spark.operators import corpus

    d = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") % 101).cast("double") / F.lit(100.0)).alias("quality"),
        (F.col("id") % 97 + 1).cast("long").alias("n_tokens"),
    )
    plan = _plan(corpus.pack_token_budget(d, 10_000))
    # the per-row window carries the bucket in its partition spec
    assert "partitionspec=[_b" in plan.replace(" ", "").lower() or "_b#" in plan
    # offsets attach via broadcast, and nothing degenerates to a loop join
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_contamination_broadcasts_benchmark(spark):
    """The benchmark gram table must ride a broadcast join — the doc
    side never shuffles by gram."""
    from hope_graph_builder_spark.operators import corpus

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 25 == 0).select("text")
    plan = _plan(corpus.ngram_contamination(docs, bench, n=8))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_char_lm_score_broadcasts_model(spark):
    """Both model joins broadcast (charset-bounded tables); the only
    wide exchange is the doc-keyed groupBy; no Python in the plan."""
    from hope_graph_builder_spark.operators import text as t

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select("doc_id", "text")
    lm = t.train_char_lm(docs.filter(F.col("doc_id") % 10 == 0))
    plan = _plan(t.char_lm_score(docs, lm))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_shard_shuffle_single_exchange(spark):
    """Position assignment adds exactly the one hash-partition the
    sharded write needs — one Exchange, partitioned by shard, never a
    single-partition global window."""
    from hope_graph_builder_spark.operators import corpus

    d = spark.read.parquet(f"{SF_TINY}/documents.parquet").select("doc_id")
    plan = _plan(corpus.shard_shuffle(d, 16))
    assert plan.count("Exchange") == 1
    assert "SinglePartition" not in plan


def test_dup_substrings_no_cartesian_no_python(spark):
    """The ExactSubstr audit stays equi-join + window shaped: no
    cartesian/loop joins, no Python eval, and the span window is
    partitioned by document (never a global single-partition sort)."""
    from hope_graph_builder_spark.operators import dedup as dd

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select("doc_id", "text")
    plan = _plan(dd.dup_substring_spans(docs, k=30, stride=4))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SinglePartition" not in plan


def test_join_sample_plan(spark):
    """join_uniform_sample's final plan: the key-containment probe is
    the per-bucket as-of (union + partitioned window), NOT a
    nested-loop/cartesian over the key table; no Python eval; no
    unpartitioned window over data-sized tables (the one
    Window.orderBy is the <= n_buckets offsets pass)."""
    from pyspark.sql import functions as F

    from hope_graph_builder_spark.operators.join_sample import (
        join_uniform_sample,
    )

    e = spark.read.parquet(f"{SF_TINY}/events.parquet")
    a = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("a_id"), "user_id"
    )
    b = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("b_id"), "user_id"
    )
    plan = _plan(join_uniform_sample(a, b, "user_id", 50, "a_id", "b_id"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corpus_curation_plan(spark):
    """The composed curation chain stays native: no Python eval, no
    cartesian/BNLJ anywhere in the five-stage plan. (The one
    unpartitioned window is pack_token_budget's bucket-offset pass
    over <= n_buckets rows — bounded by the bucket count, documented
    there.)"""
    from hope_graph_builder_spark.pipelines.curation import run_corpus_curation

    d = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    plan = _plan(run_corpus_curation(
        d, quota_per_source=4, token_budget=2000, seq_len=16, overlap=4,
        n_shards=4,
        gate_cols=["ok_word_count", "ok_mean_word_len"],
    ))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_topk_take_ordered(spark):
    """vocab_topk's top-k is TakeOrderedAndProject (per-partition
    local top-k, never a global sort of the vocabulary), counts have
    map-side partial aggregation, no Python eval."""
    from hope_graph_builder_spark.operators import text as textops

    d = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    plan = _plan(textops.vocab_topk(d, k=100))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan or "partial" in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quota_cap_no_python_no_single_partition(spark):
    """quota_cap's two-phase rank: the only windows are partitioned
    (per-group offsets, per-(group,bucket) rank) — no SinglePartition
    window, no Python eval, no cartesian."""
    from hope_graph_builder_spark.operators import corpus

    d = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "doc_id", "source"
    )
    plan = _plan(corpus.quota_cap(d, quota=8, by="source"))
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_strip_dup_spans_no_cartesian_no_python(spark):
    """The removal keeps the audit's plan discipline: no Cartesian/BNLJ
    (the flag join stays shuffle-hash even under AQE), no Python eval
    (the text surgery is a native aggregate fold), no single-partition
    funnel."""
    from hope_graph_builder_spark.operators import dedup as dd

    d = spark.read.parquet(f"{SF_TINY}/documents.parquet").select("doc_id", "text")
    plan = _plan(dd.strip_dup_spans(d, k=30))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SinglePartition" not in plan


def test_chunk_tokens_zero_exchange(spark):
    """Sequence chunking is a pure map stage: no Exchange anywhere in
    the plan, no Python eval."""
    from hope_graph_builder_spark.operators import corpus

    d = spark.read.parquet(f"{SF_TINY}/documents.parquet").select("doc_id", "text")
    plan = _plan(corpus.chunk_tokens(d, seq_len=24, overlap=8))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
