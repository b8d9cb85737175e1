"""Structured Streaming operators: watermarked windowed aggregation and
custom stateful sessionization.

The reference has no streaming surface (SURVEY.md §2.8) — these are the
engine's continuous-ingest extension, built the idiomatic Spark way:

- file/Iceberg source → ``readStream`` with an explicit schema,
- event-time tumbling windows behind a watermark (late data beyond the
  watermark is dropped deterministically),
- ``applyInPandasWithState`` for gap-based sessionization (the stateful
  operator Spark's built-ins can't express),
- ``Trigger.AvailableNow`` for batch-incremental runs: the same code path
  serves a nightly catch-up job and a 24/7 stream. Tests assert the
  streaming result equals a batch aggregation on the same input, and the
  registered streaming_windowed_counts / streaming_sessionize queries are
  DuckDB-oracled (the sessionize oracle is ``_SESSIONS_SQL`` in
  plans/queries.py).

At scale: state lives in the state store keyed by (window, event_type) or
user_id — partitioned by key hash, so 1000 executors shard state evenly;
watermarks bound state size; checkpointLocation gives exactly-once sinks.
"""

from __future__ import annotations

import os
import uuid
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double"
)


def read_events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream of ``EVENTS_SCHEMA`` rows over a directory of
    parquet event files.

    ``source_dir`` may be a directory or a single file path (the file's
    parent directory is streamed with a ``pathGlobFilter`` on its name).
    With an Iceberg catalog this becomes
    ``spark.readStream.format("iceberg")``; the file source has the same
    incremental-listing semantics in the sandbox."""
    reader = spark.readStream.schema(EVENTS_SCHEMA).option("maxFilesPerTrigger", 4)
    if source_dir.endswith(".parquet") and not os.path.isdir(source_dir):
        reader = reader.option("pathGlobFilter", os.path.basename(source_dir))
        source_dir = os.path.dirname(source_dir)
    return reader.parquet(source_dir)


#: The tumbling window of :func:`windowed_event_counts`.
EVENT_WINDOW = "1 hour"


def windowed_event_counts(events: DataFrame, watermark: str) -> DataFrame:
    """Tumbling event-time window counts per event_type behind a watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", EVENT_WINDOW).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


SESSION_STATE_SCHEMA = "last_ts double, n_events bigint, n_sessions bigint"
SESSION_OUT_SCHEMA = "user_id bigint, n_events bigint, n_sessions bigint"


def _sessionize(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
    """Gap-based session counting per user (30-min inactivity gap).

    The incremental twin of the batch window SQL ``_SESSIONS_SQL`` in
    plans/queries.py (the oracle of ``streaming_sessionize``) — state
    carries (last event time, running counts) across micro-batches."""
    gap = 1800.0
    if state.exists:
        last_ts, n_events, n_sessions = state.get
    else:
        last_ts, n_events, n_sessions = None, 0, 0
    ts_all = []
    for pdf in pdf_iter:
        ts_all.append(pdf["ts"].astype("int64") / 1e9)
    if ts_all:
        ts = pd.concat(ts_all).sort_values()
        for t in ts:
            if last_ts is None or (t - last_ts) > gap:
                n_sessions += 1
            last_ts = float(t)
            n_events += 1
    state.update((last_ts, n_events, n_sessions))
    yield pd.DataFrame(
        [{"user_id": key[0], "n_events": n_events, "n_sessions": n_sessions}]
    )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user session counts via
    ``applyInPandasWithState`` (state sharded by user_id hash across
    executors; NoTimeout because the batch-incremental runs are finite)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(stream_df: DataFrame,
                      output_mode: str = "complete") -> DataFrame:
    """Run a streaming query to completion with Trigger.AvailableNow into an
    in-memory sink; returns the final result as a batch DataFrame. Given
    no checkpoint location, Spark checkpoints the memory sink to a
    temporary directory of its own and deletes it when the query stops."""
    spark = stream_df.sparkSession
    name = f"dms_stream_{uuid.uuid4().hex}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def extract_documents_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Continuous-ingest twin of the flagship batch pipeline: file stream
    over `documents` parquet → extraction + span-equality + per-doc metrics.

    The pipeline body is IDENTICAL to the batch path (pipeline.run_pipeline
    composes narrow ops only, so it lifts to a stream unchanged) — one code
    path serves backfill (Trigger.AvailableNow) and 24/7 tailing, the
    Kappa-architecture property Spark's unified batch/stream API gives for
    free. Stateless (no watermark needed); dataset aggregation happens
    downstream per micro-batch via foreachBatch or on the sink table."""
    from docling_metrics_spark.datagen import DOCUMENTS_SCHEMA_DDL
    from docling_metrics_spark.pipeline import run_pipeline

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA_DDL)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    return run_pipeline(stream)


def dedup_documents_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Streaming exact dedup: first-seen-wins on the content fingerprint.

    ``dropDuplicates`` over a stream keeps one state row per distinct
    fingerprint — the incremental twin of the batch ``exact_dedup`` query
    (count distinct md5(text)). For 24/7 ingest the state store would be
    bounded with ``dropDuplicatesWithinWatermark`` on an ingest-time
    column; backfill via Trigger.AvailableNow (as here) drains the full
    directory, so the result equals the batch distinct."""
    from docling_metrics_spark.datagen import DOCUMENTS_SCHEMA_DDL

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA_DDL)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    return stream.select(
        "doc_id", F.md5("raw_html").alias("fp")
    ).dropDuplicates(["fp"])


JOIN_LEFT_TYPE, JOIN_RIGHT_TYPE = "click", "purchase"
JOIN_WITHIN_MINUTES = 30
JOIN_WATERMARK = "2 hours"


def interval_join_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: pair each
    ``JOIN_LEFT_TYPE`` event with the same user's ``JOIN_RIGHT_TYPE``
    events that follow within ``JOIN_WITHIN_MINUTES``. Both sides carry
    the ``JOIN_WATERMARK`` and the join condition bounds event time on
    both sides, so Spark can age out join state — the canonical
    bounded-state stream-stream join. Batch twin = the same self-join in
    one SQL statement (oracled in plans/queries.py)."""
    left = (
        read_events_stream(spark, source_dir)
        .filter(F.col("event_type") == JOIN_LEFT_TYPE)
        .withWatermark("ts", JOIN_WATERMARK)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("l_event"),
            F.col("ts").alias("l_ts"),
        )
    )
    right = (
        read_events_stream(spark, source_dir)
        .filter(F.col("event_type") == JOIN_RIGHT_TYPE)
        .withWatermark("ts", JOIN_WATERMARK)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("r_event"),
            F.col("ts").alias("r_ts"),
        )
    )
    return left.join(
        right,
        F.expr(
            f"l_user = r_user AND r_ts >= l_ts "
            f"AND r_ts <= l_ts + interval {JOIN_WITHIN_MINUTES} minutes"
        ),
    )
