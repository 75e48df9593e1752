"""Structured Streaming stages == their batch equivalents: the
flagship exposure stage, web-text signals and stream-static chunking."""

from tests.conftest import SF_TINY


def test_streaming_noise_exposures_match_batch(spark):
    """The flagship's location-exposure stage run as a file stream
    (stream-static broadcast cell-join + single aggregation) produces
    exactly the batch table — including locations with no layer hit
    (they must survive the left join with all-null layer columns)."""
    from pyspark.sql import functions as F

    from hope_graph_builder_spark.streaming import noise_stream

    stream_out = noise_stream.run_stream_to_memory(spark, SF_TINY, name="noise_stream_test")
    batch_out = noise_stream.batch_equivalent(spark, SF_TINY)
    assert stream_out.count() == batch_out.count() > 0
    assert stream_out.exceptAll(batch_out).count() == 0
    assert batch_out.exceptAll(stream_out).count() == 0
    # the stage keeps unmatched locations AND produces real exposures
    assert stream_out.filter(F.col("hel_road").isNotNull()).count() > 0
    assert (
        stream_out.filter(
            sum((F.col(c).isNull().cast("int") for c in stream_out.columns[1:]), F.lit(0))
            == len(stream_out.columns) - 1
        ).count()
        > 0
    )


def test_streaming_webtext_signals_match_batch(spark, tmp_path):
    """The stateless webtext ingest prefix as a file stream (two page
    files, one per trigger) == the same signals computed in batch, and
    consistent with run_webtext_ingest's columns."""
    from pyspark.sql import functions as F

    from hope_graph_builder_spark import synth
    from hope_graph_builder_spark.operators.extract import markup_pages
    from hope_graph_builder_spark.pipelines.webtext import run_webtext_ingest
    from hope_graph_builder_spark.streaming.webtext_stream import (
        read_pages_stream,
        streaming_webtext_signals,
    )

    from hope_graph_builder_spark.operators import text as textops
    from hope_graph_builder_spark.operators.extract import extract_text

    pages = markup_pages(synth.pages(spark, SF_TINY))
    src = str(tmp_path / "pages_stream")
    # two files → two triggers
    pages.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    pages.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    # train-batch / serve-stream: profiles trained once in batch (the
    # same self-training corpus the batch pipeline uses), carried into
    # the stream as literals
    prof_df = textops.train_lang_profiles(
        extract_text(pages), text="extracted_text", lang="lang"
    )
    profiles = textops.collect_profiles(prof_df)

    q = (
        streaming_webtext_signals(read_pages_stream(spark, src), profiles=profiles)
        .writeStream.format("memory")
        .queryName("webtext_sig_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_out = spark.table("webtext_sig_test")
    batch_out = streaming_webtext_signals(spark.read.parquet(src), profiles=profiles)
    assert stream_out.count() == batch_out.count() == pages.count() > 0
    assert stream_out.exceptAll(batch_out).count() == 0
    assert batch_out.exceptAll(stream_out).count() == 0
    # consistency with the full batch pipeline (v2: trigram lang_pred,
    # repetition gate): the per-row Column classifier must equal the
    # batch broadcast-join classifier on every shared column
    full = run_webtext_ingest(pages).select(
        "doc_id", "lang_pred", "quality", "n_tokens", "rep_pass"
    )
    j = stream_out.select("doc_id", "lang_pred", "quality", "n_tokens", "rep_pass")
    assert j.exceptAll(full).count() == 0


def test_streaming_chunk_tokens_stream_static(spark, tmp_path):
    """corpus.chunk_tokens works UNCHANGED over a streaming documents
    source: tokenize + start-grid explode + slice are all stateless
    map stages, so the chunk stream needs no state store and equals
    the batch chunking exactly."""
    from pyspark.sql import functions as F

    from hope_graph_builder_spark.operators import corpus

    docs = (
        spark.read.parquet(f"{SF_TINY}/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    src = str(tmp_path / "docs_stream")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    d_stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        corpus.chunk_tokens(d_stream, seq_len=24, overlap=8)
        .writeStream.format("memory")
        .queryName("chunk_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("chunk_stream_test")
    want = corpus.chunk_tokens(spark.read.parquet(src), seq_len=24, overlap=8)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
