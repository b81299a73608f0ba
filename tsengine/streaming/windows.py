"""Structured Streaming twins of the batch window operators
(tsengine.operators.windows) over the ``events`` table.

The reference has no streaming (epoch re-scans of a static set,
SURVEY.md §2 Part B), so these are Spark-native designs per the north
star: file-source ``readStream`` -> event-time windowed aggregation
with watermark -> sink.  Tests drive them with Trigger.AvailableNow
against the parquet fixtures and compare to the batch twins — the
streaming/batch parity IS the correctness argument (the driver's DuckDB
harness can't execute streams).

Scale notes: watermark bounds state (late data beyond 2h dropped);
state store partitions by group key; ``foreachBatch`` is the sink hook
for metric logs (reference wandb.log analog, SURVEY.md §2 A.1
sink_metrics_log).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsengine.session import ensure_runtime_env, scoped_session

# Shuffle partitions for a drain's state stores (see run_available_now).
_STATE_PARTITIONS = 8
_DRAIN_CONFS = {"spark.sql.shuffle.partitions": str(_STATE_PARTITIONS)}


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table (schema from the batch
    reader; maxFilesPerTrigger simulates micro-batch arrival)."""
    ensure_runtime_env(spark)
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    # file source requires a directory; glob-filter to the events table
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # same ts normalization as the batch loader (see sources.tables):
    # long ns under nanosAsLong, or naive timestamp[us] read as NTZ —
    # either way emit TIMESTAMP (watermarks reject NTZ event time)
    ts_type = dict(
        (f.name, f.dataType.simpleString()) for f in raw_schema.fields
    ).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windows with watermark — the streaming twin of
    ``tumbling_window_agg``; window start re-expressed in epoch seconds
    to match the batch/oracle output shape."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("win.start").cast("long").alias("win_start"),
            "n_events",
            "sum_value",
        )
    )


def sliding_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding 1h/30min windows — twin of ``sliding_window_agg``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            "user_id",
            F.col("win.start").cast("long").alias("win_start"),
            "n_events",
            "avg_value",
        )
    )


def session_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows via the built-in ``session_window`` (gap-merged
    state) — streaming twin of the batch gaps-and-islands sessionizer."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("win.start").cast("long").alias("session_start"),
            F.col("win.end").cast("long").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked streaming deduplication — exactly-once ingestion for
    at-least-once sources (the streaming twin of ``dedup_exact``).

    Uses ``dropDuplicatesWithinWatermark`` so per-key state is evicted
    once the watermark passes the event's time: plain ``dropDuplicates``
    only purges state when the event-time column is PART of the dedup
    subset, so on ``[user_id, event_id]`` alone its state would grow
    unboundedly despite the watermark.  State is therefore bounded by
    the late-data horizon instead of the stream length.  At 100 TB/day
    this is the standard first stage in front of every ingest pipeline;
    the batch dedup family handles historical backfill."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_id"]
    )


def interval_join_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join — each 'error' event paired with the
    same user's 'purchase' events within ±15 minutes (the streaming twin
    of the batch ``range_join`` restricted to the purchase side).

    Both sides carry a watermark and the join condition bounds event
    time in BOTH directions, so Spark can compute the state-retention
    horizon and evict buffered rows once the watermark passes — state
    is bounded by (watermark + interval), not the stream length.  An
    interval join without the two-sided time bound would buffer one
    side forever; that shape is rejected here by construction."""
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_event_id"),
            "user_id",
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = errors.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id AND
            p_ts >= err_ts - INTERVAL 15 MINUTES AND
            p_ts <= err_ts + INTERVAL 15 MINUTES
            """
        ),
        "inner",
    )
    return joined.select(
        "err_event_id",
        "user_id",
        "p_event_id",
        F.round("p_value", 6).alias("p_value"),
    )


def run_available_now(
    spark: SparkSession,
    build: Callable[[SparkSession], DataFrame],
    query_name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain ``build(child)`` with Trigger.AvailableNow into a memory sink
    and return the result, bound to ``child``, the ``scoped_session`` of
    ``spark`` that sizes state partitions (a frame keeps the session it
    was built on).  The sink's temp view is dropped once the read-back is
    analyzed.  Stateful aggregations drain in ``complete`` mode;
    join/projection streams have no complete-mode semantics: ``append``.

    State-partition sizing (r14, guide §2.2 applied to state stores):
    every stateful operator commits one delta file PER (partition,
    state store) per micro-batch — fsync-bound, independent of state
    volume.  At the session default of 32 shuffle partitions a single
    drained batch of the fixture paid 128 near-empty commits
    (stream_interval_join: 60s of cumulative commit task-time, 8.9s
    wall for KBs of state).  Drains therefore size state partitions by
    state VOLUME: ``_STATE_PARTITIONS`` (8 — still multi-partition, so
    distribution bugs stay visible).  Hash partitioning by key is
    unchanged, so results are identical at any setting."""
    child = scoped_session(spark, _DRAIN_CONFS)
    q = (
        build(child)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = child.sql(f"SELECT * FROM {query_name}")
    child.catalog.dropTempView(query_name)
    return out


def metrics_log_sink(stream_df: DataFrame, log: list) -> None:
    """foreachBatch metric-log sink (reference wandb.log analog): each
    micro-batch appends its aggregate rows to the provided log."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        log.append((batch_id, batch_df.count()))

    q = (
        stream_df.writeStream.foreachBatch(handle)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
