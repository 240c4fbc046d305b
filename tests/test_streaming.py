"""Streaming: the batch stage's scoring pass (stage.score, a scalar Arrow
UDF) runs unchanged on a file stream (readStream → stage.score →
writeStream availableNow) with identical results to the batch stage; plus
the stream-only operators."""

import os

import pyspark.sql.functions as F

from pii_detection_service_spark import streaming
from pii_detection_service_spark.plans import stage
from pii_detection_service_spark.schema import INPUT_SCHEMA
from pii_detection_service_spark.sources import synth


def test_score_stream_matches_batch(spark, tmp_path):
    src_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    batch_src = synth.synth_spark(spark, 60).coalesce(1)
    batch_src.write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(INPUT_SCHEMA).parquet(src_dir)
    scored = stage.score(stream)
    q = (
        scored.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    assert got.count() == 60
    # identical keep/scrub results to the batch path
    batch = stage.score(spark.read.parquet(src_dir)).select(
        "image_id", "keep", "scrubbed_caption", "n_pii", "n_toxic"
    )
    diff = (
        got.select("image_id", "keep", "scrubbed_caption", "n_pii", "n_toxic")
        .exceptAll(batch)
        .count()
    )
    assert diff == 0

    # incremental catch-up: new file arrives → only new rows processed
    synth.synth_spark(spark, 10, num_partitions=1).selectExpr(
        "concat('new_', image_id) as image_id", "bytes", "w", "h", "fmt",
        "caption", "phash",
    ).coalesce(1).write.mode("append").parquet(src_dir)
    q2 = (
        stage.score(spark.readStream.schema(INPUT_SCHEMA).parquet(src_dir))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 70


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization across MULTIPLE micro-batches
    (state carried through the checkpoint) equals the batch window-based
    sessionize on the same events."""
    from pii_detection_service_spark.operators import events as ev_ops

    src_dir = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ck")
    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet")
    # time-split into two files written in order → per-user time order
    # holds across micro-batches (maxFilesPerTrigger=1 forces 2 batches)
    ts_sorted = sorted(r["ts"] for r in ev.select("ts").collect())
    mid_ts = ts_sorted[len(ts_sorted) // 2]
    first = ev.where(F.col("ts") <= F.lit(mid_ts))
    second = ev.where(F.col("ts") > F.lit(mid_ts))
    first.coalesce(1).write.mode("overwrite").parquet(src_dir)
    second.coalesce(1).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        streaming.sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sess_state")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2  # state really crossed micro-batches

    # last emitted row per user = cumulative totals
    final = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in spark.sql(
            "select user_id, max_by(n_sessions, n_events) as n_sessions, "
            "max(n_events) as n_events from sess_state group by user_id"
        ).collect()
    }
    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in ev_ops.sessionize(spark, sf).collect()
    }
    assert final == want


def test_windowed_quality_metrics_matches_batch(spark, tmp_path):
    """Watermarked tumbling-window rollup over the scored stream equals the
    same aggregate computed in batch (complete mode → memory sink)."""
    src_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    # deterministic event time: spread rows over ~10 one-minute windows
    synth.synth_spark(spark, 80).withColumn(
        "ingest_ts",
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, pmod(phash, 600))"
        ),
    ).coalesce(1).write.mode("overwrite").parquet(src_dir)

    from pyspark.sql.types import StructField, TimestampType

    schema = INPUT_SCHEMA.add(StructField("ingest_ts", TimestampType()))
    stream = spark.readStream.schema(schema).parquet(src_dir)
    scored = stage.score(stream)
    agg = streaming.windowed_quality_metrics(scored)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_metrics")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (str(r["win"]["start"]), r["lang"], r["keep"]): (
            r["n"], r["total_pii"], r["n_toxic_rows"],
        )
        for r in spark.sql("select * from win_metrics").collect()
    }
    batch = (
        stage.score(spark.read.parquet(src_dir))
        .groupBy(F.window("ingest_ts", "1 minute").alias("win"), "lang", "keep")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_pii").cast("long")).alias("total_pii"),
            F.sum((F.col("n_toxic") > 0).cast("long")).alias("n_toxic_rows"),
        )
        .collect()
    )
    want = {
        (str(r["win"]["start"]), r["lang"], r["keep"]): (
            r["n"], r["total_pii"], r["n_toxic_rows"],
        )
        for r in batch
    }
    assert got == want and len(want) > 1


def test_dedup_stream_drops_in_watermark_duplicates(spark, tmp_path):
    """Two micro-batches (two files processed availableNow) carrying
    duplicate captions: the watermarked streaming dedup must keep exactly
    one row per content hash across batches, matching the batch
    dropDuplicates result on the same input — with state BOUNDED by the
    watermark instead of growing forever."""
    import datetime

    src_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir, exist_ok=True)

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows1 = [(i, f"caption number {i % 8}", t0) for i in range(20)]
    rows2 = [
        (100 + i, f"caption number {i % 12}", t0 + datetime.timedelta(minutes=1))
        for i in range(24)
    ]
    schema = "doc_id long, text string, ingest_ts timestamp"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        f"{src_dir}/batch1"
    )
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        f"{src_dir}/batch2"
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/batch*")
    )
    deduped = streaming.dedup_stream(stream, watermark="10 minutes")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    # 12 distinct captions exist across both batches; every one survives
    # exactly once (batch-2 dups of batch-1 hashes are in-watermark)
    assert got.count() == 12
    assert got.select("content_hash").distinct().count() == 12
    batch_equiv = (
        spark.read.parquet(f"{src_dir}/batch1", f"{src_dir}/batch2")
        .withColumn("content_hash", F.md5("text"))
        .select("content_hash")
        .distinct()
        .count()
    )
    assert batch_equiv == 12
