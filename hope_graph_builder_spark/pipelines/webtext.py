"""The CC-style web-text ingest pipeline — the training-data battery
composed into one user-facing entry point (task brief: dedup +
text-analysis as first-class stages over the mandated pages table):

    pages(url, warc_ts, html, …, lang)    [WARC source or parquet]
      → HTML→text extraction              (one map scan, no shuffle)
      → trained trigram language ID       (explode + broadcast join)
      → quality + tokens + repetition     (one codegen map scan)
      → MinHash+LSH near-dup clusters     (sparse pair graph → CC)
      → canonical = best member per cluster (rep gate ≻ quality ≻ id)
      → keep = canonical ∧ quality gate ∧ repetition gate

Every stage is an existing oracle-checked operator; this module owns
only the composition. Plan shape at 100 TB: two map scans (extract /
signals fuse into one), the trigram explode + broadcast-profile join,
the LSH banding shuffle, the sparse component iteration, and one
label-attach join plus one per-cluster window.

Canonical selection is QUALITY-FIRST (v2): each cluster keeps its
best member — repetition-gate pass first, then highest quality, then
lowest id — so a cluster whose min-id member is junk still surfaces
its usable duplicate (the standard CC-pipeline ordering; the v1
min-id canonical silently dropped whole clusters when the min-id
member failed the gate).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark.sql import SparkSession

from hope_graph_builder_spark.operators import text as textops
from hope_graph_builder_spark.operators.dedup import dedup_clusters
from hope_graph_builder_spark.operators.extract import extract_text


def run_webtext_ingest(
    pages: DataFrame,
    id_col: str = "doc_id",
    quality_min: float = 0.5,
    profiles: DataFrame | None = None,
    minhash_hash: str = "md5",
    lm: dict | None = None,
    lm_max_nll: float | None = None,
) -> DataFrame:
    """→ (doc_id, url, lang_pred, quality, n_tokens, rep_pass,
    cluster_id, keep): ``keep`` marks the best member of each near-dup
    cluster (repetition-pass ≻ quality ≻ id) that also clears the
    quality AND repetition gates — `filter("keep")` IS the training
    corpus.

    ``minhash_hash``: 'md5' (default — DuckDB-oracle-portable) or
    'xx' (native xxhash64, ~10× cheaper minhash pass — the production
    setting; see operators/dedup._hasher).

    ``profiles``: trained character-trigram language profiles
    (plang, tri — operators/text.train_lang_profiles). Defaults to
    self-training on the labeled ``lang`` column of ``pages`` (at
    100 TB: train once on a sample, the profile table is langs×N rows
    and broadcasts).

    ``lm`` + ``lm_max_nll`` (both required to enable): a
    train_char_lm model and its NLL ceiling add the CCNet-style
    perplexity gate — the output grows an ``avg_nll`` column and
    ``keep`` additionally requires ``avg_nll ≤ lm_max_nll`` (documents
    too short to score fail the gate). The model rides two broadcast
    joins, so the extra cost is one more map-shaped pass; canonical
    selection within a cluster is unchanged (rep ≻ quality ≻ id) —
    the LM gates the final keep, it does not re-rank duplicates."""
    if (lm is None) != (lm_max_nll is None):
        raise ValueError("lm and lm_max_nll must be provided together")
    ex = extract_text(pages).select(
        id_col, "url", F.col("extracted_text"),
        *([] if profiles is not None else [F.col("lang")]),
    )
    if os.environ.get("HGBS_WEBTEXT_CKPT", "1") not in ("0", "false"):
        # the extracted corpus feeds 3-4 consumers (profile training,
        # lang prediction, the signal scan, MinHash clustering) — a
        # LAZY localCheckpoint materializes the extraction once per job
        # instead of re-running the HTML→text scan per consumer
        # (within-job reuse on executor-local storage, torn down with
        # the session — not cross-run caching). HGBS_WEBTEXT_CKPT=0
        # restores full lineage recompute.
        ex = ex.localCheckpoint(eager=False)
    if profiles is None:
        profiles = textops.train_lang_profiles(
            ex.filter(F.col("lang").isNotNull()), text="extracted_text", lang="lang"
        )
    lang = textops.lang_pred_ngram(
        ex, profiles, text="extracted_text", id_col=id_col, out="lang_pred"
    )
    t = F.col("extracted_text")
    # hoist the lowered token array once per row: the repetition
    # n-grams over an inline split are O(tokens²) (measured engine
    # trap); size(_toks) == token_count (lowercasing keeps boundaries)
    sig = ex.withColumn("_toks", textops._lower_tokens(t)).select(
        id_col,
        "url",
        F.bround(textops.quality_score(t), 6).alias("quality"),
        F.size("_toks").cast("long").alias("n_tokens"),
        textops.repetition_flags_from(F.col("_toks")).alias("rep_pass"),
    ).join(lang, id_col)
    clusters = dedup_clusters(
        ex.select(id_col, F.col("extracted_text").alias("text")), id_col=id_col,
        hash=minhash_hash,
    ).select(id_col, "cluster_id")
    out = sig.join(clusters, id_col)
    extra_cols = []
    lm_gate = F.lit(True)
    if lm is not None:
        nll = textops.char_lm_score(
            ex, lm, text_col="extracted_text", id_col=id_col
        ).select(id_col, "avg_nll")
        out = out.join(nll, id_col)
        extra_cols = ["avg_nll"]
        lm_gate = F.coalesce(
            F.col("avg_nll") <= F.lit(float(lm_max_nll)), F.lit(False)
        )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("rep_pass"), F.desc("quality"), F.asc(id_col)
    )
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "keep",
            (F.col("_rn") == 1)
            & (F.col("quality") >= F.lit(float(quality_min)))
            & F.col("rep_pass")
            & lm_gate,
        )
        .drop("_rn")
        .select(
            id_col, "url", "lang_pred", "quality", "n_tokens",
            "rep_pass", "cluster_id", *extra_cols, "keep",
        )
    )


def run_webtext_ingest_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    id_col: str = "doc_id",
    quality_min: float = 0.5,
    profiles: DataFrame | None = None,
    buckets: int = 64,
) -> dict:
    """The RESUMABLE form of run_webtext_ingest (north rule: every
    stage writes per-partition lineage rows and a killed job resumes
    at partition granularity):

    - stage ``webtext_signals`` — the embarrassingly-parallel per-doc
      prefix (extract + trigram lang + quality + tokens + repetition
      + the extracted text itself), bucketed by
      pmod(xxhash64(doc_id), buckets) as the manifest tile_group:
      a killed job resumes at bucket granularity, completed buckets
      are never recomputed (filtered out by their manifest rows).
    - stage ``webtext_final_<fp>`` — the GLOBAL near-dup clustering +
      quality-first canonical keep over the COMMITTED signal table.
      Clustering is a global fixpoint, so its manifest rows are only
      valid for one exact stage-1 content: ``<fp>`` is the xor-fold of
      the committed signal buckets' checksums, so a resume over the
      SAME committed signals skips finished final buckets, while any
      change to the signal set (more buckets landed after the crash)
      keys a fresh stage-2 namespace and recomputes the global
      fixpoint instead of mixing stale cluster labels.

    Profile training (when ``profiles`` is None) runs on the raw
    labeled pages — deterministic on the full input, so resume runs
    reproduce identical predictions — on resume the INPUT must be the
    same job's input (self-trained profiles over a different corpus
    would mix prediction vintages across buckets; pass explicit
    ``profiles`` when in doubt). Returns both stages' counters plus
    ``final_stage``; read the product with
    checkpoint.manifest.read_stage(spark, root, result['final_stage'])."""
    from hope_graph_builder_spark.checkpoint.manifest import read_stage, run_stage

    bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(buckets))
    ex = extract_text(pages).select(
        id_col, "url", F.col("extracted_text"),
        *([] if profiles is not None else [F.col("lang")]),
    )
    if profiles is None:
        profiles = textops.train_lang_profiles(
            ex.filter(F.col("lang").isNotNull()), text="extracted_text", lang="lang"
        )
    lang = textops.lang_pred_ngram(
        ex, profiles, text="extracted_text", id_col=id_col, out="lang_pred"
    )
    t = F.col("extracted_text")
    sig = (
        ex.withColumn("_toks", textops._lower_tokens(t))
        .select(
            id_col, "url", "extracted_text",
            F.bround(textops.quality_score(t), 6).alias("quality"),
            F.size("_toks").cast("long").alias("n_tokens"),
            textops.repetition_flags_from(F.col("_toks")).alias("rep_pass"),
        )
        .join(lang, id_col)
        .withColumn("tile_group", bucket)
    )
    c1 = run_stage(spark, sig, "webtext_signals", root)

    committed = read_stage(spark, root, "webtext_signals")
    from hope_graph_builder_spark.checkpoint.manifest import read_manifest

    fp_row = (
        read_manifest(spark, root)
        .filter((F.col("stage") == "webtext_signals") & (F.col("status") == "done"))
        .agg(
            F.bit_xor("checksum").alias("x"),
            F.count(F.lit(1)).alias("n"),
        )
        .first()
    )
    fp = f"{(fp_row['x'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}_{fp_row['n']}"
    final_stage = f"webtext_final_{fp}"
    clusters = dedup_clusters(
        committed.select(id_col, F.col("extracted_text").alias("text")),
        id_col=id_col,
    ).select(id_col, "cluster_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("rep_pass"), F.desc("quality"), F.asc(id_col)
    )
    final = (
        committed.join(clusters, id_col)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "keep",
            (F.col("_rn") == 1)
            & (F.col("quality") >= F.lit(float(quality_min)))
            & F.col("rep_pass"),
        )
        .select(
            id_col, "url", "lang_pred", "quality", "n_tokens",
            "rep_pass", "cluster_id", "keep", "tile_group",
        )
    )
    c2 = run_stage(spark, final, final_stage, root)
    return {"signals": c1, "final": c2, "final_stage": final_stage}
