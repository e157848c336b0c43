"""Streaming operators: windowed rollups with watermark and watermark-
bounded dedup (streaming twins of the batch operators). The streaming KG
build, exactly-once across restarts, is tested against a full build in
tests/test_incremental.py::test_stream_kg_updates_folds_microbatches."""

from pyspark.sql import functions as F

from chatvector_ai_spark.streaming import stream_event_rollup


def test_stream_event_rollup_with_watermark(spark, tmp_path):
    src = str(tmp_path / "events")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).parquet(src)
    rolled = stream_event_rollup(stream, window="1 hour", watermark="2 hours")
    q = (
        rolled.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # with availableNow the final watermark still holds back the tail
    # windows; completed windows must match the batch rollup exactly
    got = spark.sql("SELECT * FROM rollup_test").toPandas()
    batch = (
        spark.read.parquet(src)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .toPandas()
    )
    assert len(got) > 0
    merged = got.merge(batch, on=["window_start", "event_type"], suffixes=("_s", "_b"))
    assert (merged["n_s"] == merged["n_b"]).all()


def test_stream_dedup_docs_collapses_content_dups(spark, tmp_path):
    """Two deliveries of the same document content (different doc_ids,
    same spans) inside one watermark window → exactly one survivor per
    content hash; distinct contents all pass."""
    from chatvector_ai_spark.datagen import documents_df
    from chatvector_ai_spark.streaming.incremental import stream_dedup_docs

    src = str(tmp_path / "docs_dup")
    base = documents_df(spark, 20).withColumn(
        "ingest_ts", F.lit("2026-01-01 00:00:00").cast("timestamp")
    )
    dup = base.withColumn("doc_id", F.concat(F.lit("copy-"), F.col("doc_id")))
    base.unionByName(dup).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(
        "doc_id string, tenant_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
        "ingest_ts timestamp"
    ).parquet(src)
    q = (
        stream_dedup_docs(stream)
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT content_hash, doc_id FROM dedup_test").toPandas()
    assert len(got) == 20  # one survivor per distinct content
    assert got["content_hash"].nunique() == 20


def test_stream_dedup_docs_distinguishes_null_field_positions(spark, tmp_path):
    """Null-tagged serialization: a span with (text='x', media_ref=NULL)
    and one with (text=NULL, media_ref='x') are DIFFERENT content — both
    documents must survive the content-hash dedup (regression: concat_ws
    skips NULLs, collapsing the two onto one hash)."""
    from chatvector_ai_spark.streaming.incremental import stream_dedup_docs

    src = str(tmp_path / "docs_nulls")
    rows = [
        ("d1", "t1", [("text", "x", None, 0)]),
        ("d2", "t1", [("image", None, "x", 0)]),
        ("d3", "t1", [("text", None, None, 0)]),
        ("d4", "t1", [("text", "", None, 0)]),  # empty string ≠ NULL
    ]
    schema = (
        "doc_id string, tenant_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    spark.createDataFrame(rows, schema).withColumn(
        "ingest_ts", F.lit("2026-01-01 00:00:00").cast("timestamp")
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema + ", ingest_ts timestamp").parquet(src)
    q = (
        stream_dedup_docs(stream)
        .writeStream.format("memory")
        .queryName("dedup_nulls")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT doc_id, content_hash FROM dedup_nulls").toPandas()
    assert len(got) == 4
    assert got["content_hash"].nunique() == 4
