"""Structured Streaming ops: streaming result == batch twin on same input."""

from pyspark.sql import functions as F

from docling_metrics_spark.streaming import (
    read_events_stream,
    run_available_now,
    sessionize_stream,
    windowed_event_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def test_windowed_counts_match_batch(spark):
    stream = read_events_stream(spark, f"{SF_DIR}/events.parquet")
    got = run_available_now(
        windowed_event_counts(stream, watermark="3650 days")
    )
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy(
            F.window("ts", "1 hour").start.alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b and len(g) > 0


def test_available_now_run_leaves_no_directory_behind(spark):
    """The memory sink checkpoints to Spark's own temporary directory,
    which Spark deletes when the query stops: a run to completion leaves
    the JVM's temporary directory as it found it."""
    import os

    tmp = spark.sparkContext._jvm.java.lang.System.getProperty("java.io.tmpdir")
    stream = read_events_stream(spark, f"{SF_DIR}/events.parquet")
    # one run first, so directories a session makes once are already there
    run_available_now(windowed_event_counts(stream, watermark="3650 days"))
    before = set(os.listdir(tmp))
    got = run_available_now(windowed_event_counts(stream, watermark="3650 days"))
    assert got.count() > 0
    new = set(os.listdir(tmp)) - before
    assert not {d for d in new if os.path.isdir(os.path.join(tmp, d))}, new


def test_watermark_drops_late_rows(spark, tmp_path):
    """Three micro-batches; the final batch's too-late event is dropped.

    Watermark mechanics (update mode; complete mode must keep all state so
    watermarks only act in update/append): the watermark commits at batch
    boundaries with a one-batch lag, so the 07:00 event must arrive in batch
    2, by which point the watermark is 12:00 (13:00 − 1h) and the [07:00,
    08:00) window is behind it → row dropped, nothing emitted."""
    import time

    import pandas as pd

    def mk(ids, times):
        return pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime(times),
                "user_id": [1] * len(ids),
                "event_type": ["a"] * len(ids),
                "value": [1.0] * len(ids),
            }
        )

    src = tmp_path / "events"
    src.mkdir()
    # mtime-ordered files, maxFilesPerTrigger=1 ⇒ one file per micro-batch
    mk([1, 2], ["2026-01-01 10:00:00", "2026-01-01 12:00:00"]).to_parquet(
        src / "part-000.parquet", coerce_timestamps="us"
    )
    time.sleep(1.05)
    mk([3], ["2026-01-01 13:00:00"]).to_parquet(
        src / "part-001.parquet", coerce_timestamps="us"
    )
    time.sleep(1.05)
    mk([4], ["2026-01-01 07:00:00"]).to_parquet(
        src / "part-002.parquet", coerce_timestamps="us"
    )

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = windowed_event_counts(stream, watermark="1 hour")
    ckpt = str(tmp_path / "ckpt")
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r.window_start.hour, r.n) for r in spark.table("wm_test").collect()
    }
    dropped = sum(
        o.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for o in p["stateOperators"]
    )
    assert (10, 1) in rows and (12, 1) in rows and (13, 1) in rows
    assert not any(h == 7 for h, _ in rows), "late row must be dropped"
    assert dropped == 1


def test_sessionize_matches_batch(spark):
    from pyspark.sql.window import Window

    stream = read_events_stream(spark, f"{SF_DIR}/events.parquet")
    got = run_available_now(sessionize_stream(stream), output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        got.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "n_events", "n_sessions")
    )

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    wb = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        e.withColumn(
            "epoch", F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6)
        )
        .withColumn("gap", F.col("epoch") - F.lag("epoch").over(wb))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            (1 + F.sum(F.when(F.col("gap") > 1800, 1).otherwise(0))).alias(
                "n_sessions"
            ),
        )
    )
    g = {tuple(r) for r in final.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b and len(g) > 0


def test_streaming_extraction_matches_batch(spark, tmp_path):
    """run_pipeline lifted onto a file stream produces exactly the batch
    rows (stateless narrow pipeline ⇒ stream==batch per document)."""
    from docling_metrics_spark.datagen import generate_documents_df
    from docling_metrics_spark.pipeline import run_pipeline
    from docling_metrics_spark.streaming.windowed import (
        extract_documents_stream,
        run_available_now,
    )

    src = str(tmp_path / "docs")
    generate_documents_df(spark, 60, partitions=4).write.parquet(src)

    got = run_available_now(
        extract_documents_stream(spark, src), output_mode="append"
    )
    batch = run_pipeline(spark.read.parquet(src))
    cols = ["doc_id", "span_equal", "n_spans", "edit_distance_score", "f1_score"]
    g = {tuple(r) for r in got.select(cols).collect()}
    b = {tuple(r) for r in batch.select(cols).collect()}
    assert g == b and len(g) == 60


def test_streaming_extract_summary_matches_batch_summary(spark):
    """The registered streaming_extract query (stream → materialized
    per-doc rows → partial/final aggregation, VERDICT r4 #4) must equal the batch
    aggregation of the same source — the streaming twin of
    extraction_summary's algebra, over the stream-materialized table."""
    from docling_metrics_spark.pipeline import aggregate_metrics, run_pipeline
    from docling_metrics_spark.plans.queries import (
        _SRC_TAG,
        _rounded_summary,
        streaming_extract,
    )

    stream_row = streaming_extract(spark, "unused").collect()[0]
    batch_row = (
        _rounded_summary(
            aggregate_metrics(
                run_pipeline(
                    spark.read.parquet(f"/tmp/dms_stream_corpus_{_SRC_TAG}")
                )
            )
        )
        .collect()[0]
    )
    # Per-key compare with a one-unit-in-the-last-rounded-place allowance
    # on floats: both sides sum the same 400 per-doc doubles in DIFFERENT
    # partition orders, so an aggregate sitting within an ulp of its
    # 4dp/6dp HALF_UP boundary may legitimately round to adjacent grid
    # points (the .5-edge hazard in CLAUDE.md) — any real stream/batch
    # divergence is orders of magnitude larger than one grid step.
    s, b = stream_row.asDict(), batch_row.asDict()
    assert s.keys() == b.keys()
    for k in s:
        if isinstance(s[k], float):
            step = 1e-4 if k.startswith("sum") else 1e-6
            assert abs(s[k] - b[k]) <= step * 1.001, (k, s[k], b[k])
        else:
            assert s[k] == b[k], (k, s[k], b[k])
    assert stream_row["cnt_span_equal_int"] == 400


def test_streaming_dedup_matches_batch(spark):
    """Streaming dropDuplicates == batch countDistinct on the same source
    (100 injected duplicate documents must be dropped)."""
    from pyspark.sql import functions as F

    from docling_metrics_spark.plans.queries import streaming_dedup

    row = streaming_dedup(spark, "unused").collect()[0]
    batch = (
        spark.read.parquet(
            f"/tmp/dms_stream_dedup_src_{__import__('docling_metrics_spark.plans.queries', fromlist=['_SRC_TAG'])._SRC_TAG}"
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct(F.md5("raw_html")).alias("n_unique"),
        )
        .collect()[0]
    )
    assert batch.n_rows == 500
    assert row.n_unique == batch.n_unique == 400
    assert row.n_distinct_fp == 400
