"""Structured Streaming twins: parity with the batch window operators
(the correctness argument for ops the DuckDB harness can't run)."""

from __future__ import annotations

import pandas as pd

from tsengine.registry import all_queries
from tsengine.streaming.windows import (
    metrics_log_sink,
    read_events_stream,
    run_available_now,
    tumbling_stream,
)


def _canon(df):
    p = df.toPandas()
    return p[sorted(p.columns)].sort_values(by=sorted(p.columns)).reset_index(drop=True)


def test_tumbling_stream_matches_batch(spark, sf_dir):
    streamed = run_available_now(
        spark, lambda s: tumbling_stream(read_events_stream(s, sf_dir)), "t_tumbling"
    )
    batch = all_queries()["tumbling_window_agg"].fn(spark, sf_dir)
    pd.testing.assert_frame_equal(
        _canon(streamed), _canon(batch), check_dtype=False
    )


def test_metrics_log_sink_collects(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    log: list = []
    metrics_log_sink(tumbling_stream(ev), log)
    # trailing micro-batches may be empty in update mode; at least one
    # batch must have emitted aggregate rows
    assert len(log) >= 1 and any(n > 0 for _, n in log)


def test_dedup_stream_drops_cross_batch_duplicates(spark, sf_dir, tmp_path):
    """Every event sent twice in two separate micro-batches must come
    out exactly once — per-key state survives the trigger boundary and
    is watermark-bounded."""
    import os
    import time

    from pyspark.sql import functions as F

    from tsengine.sources.tables import load_table
    from tsengine.streaming.windows import dedup_stream

    src = load_table(spark, sf_dir, "events").toPandas()
    out = tmp_path / "dup_events"
    out.mkdir()
    for i in range(2):  # the SAME rows, twice, in mtime order
        p = out / f"copy-{i}.parquet"
        src.to_parquet(p, index=False)
        ts = time.time() - 300 + i * 60
        os.utime(p, (ts, ts))

    schema = spark.read.parquet(str(out)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out))
    )
    # pandas wrote TIMESTAMP(NANOS): same ns->us conversion as the loaders
    if dict((f.name, f.dataType.simpleString()) for f in schema.fields)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_streamed")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_out = spark.sql("SELECT COUNT(*) AS n FROM dedup_streamed").collect()[0].n
    n_distinct = len(src[["user_id", "event_id"]].drop_duplicates())
    assert n_out == n_distinct > 0


def test_interval_join_stream_matches_batch(spark, sf_dir):
    """Stream-stream interval join parity: the streamed (error x
    purchase within +/-15 min) pair set must equal the same join run as
    a plain batch query.  Inner-join matches emit without waiting for
    the watermark, so AvailableNow drains the complete result."""
    from pyspark.sql import functions as F

    from tsengine.sources.tables import load_table
    from tsengine.streaming.windows import interval_join_stream

    streamed = run_available_now(
        spark,
        lambda s: interval_join_stream(read_events_stream(s, sf_dir)),
        "t_interval_join",
        output_mode="append",
    )

    bev = load_table(spark, sf_dir, "events")
    err = bev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_event_id"), "user_id", F.col("ts").alias("err_ts")
    )
    pur = bev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("p_event_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    batch = (
        err.join(
            pur,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("err_ts") - F.expr("INTERVAL 15 MINUTES"))
            & (F.col("p_ts") <= F.col("err_ts") + F.expr("INTERVAL 15 MINUTES")),
            "inner",
        )
        .select(
            "err_event_id",
            "user_id",
            "p_event_id",
            F.round("p_value", 6).alias("p_value"),
        )
    )
    pd.testing.assert_frame_equal(_canon(streamed), _canon(batch), check_dtype=False)
    assert streamed.count() > 0
