"""Custom stateful streaming operator (applyInPandasWithState):
multi-micro-batch window assembly must equal the batch derivation.

The events fixture is split into three ts-ordered parquet files and
streamed one file per trigger, so per-user partial windows genuinely
cross micro-batch boundaries and live in the state store between
triggers — the property the operator exists for.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest


@pytest.fixture(scope="module")
def split_events_dir(tmp_path_factory, sf_dir):
    """Three sequential parquet files, globally ts-ordered, so arrival
    order per user matches event-time order (the operator's ordering
    contract)."""
    src = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
    src = src.sort_values(["ts", "event_id"]).reset_index(drop=True)
    out = tmp_path_factory.mktemp("events_stream")
    n = len(src)
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        p = out / f"part-{i:02d}.parquet"
        src.iloc[cuts[i] : cuts[i + 1]].to_parquet(p, index=False)
        # file source orders by (mtime, path): make mtimes increasing
        ts = time.time() - 300 + i * 60
        os.utime(p, (ts, ts))
    return str(out)


def test_stateful_assembler_matches_batch(spark, sf_dir, split_events_dir):
    from pyspark.sql import functions as F

    from tsengine.sources.wearable import wearable_long
    from tsengine.streaming.stateful import window_assembler_stream

    raw_schema = spark.read.parquet(split_events_dir).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_events_dir)
    )
    ts_type = dict((f.name, f.dataType.simpleString()) for f in raw_schema.fields)["ts"]
    if ts_type == "bigint":  # same ns->us conversion as the batch loader
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    out = window_assembler_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("assembled_windows")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.sql("SELECT * FROM assembled_windows").toPandas()
    batch = wearable_long(spark, sf_dir).toPandas()

    cols = sorted(batch.columns)
    a = streamed[cols].sort_values(["window_id", "t"]).reset_index(drop=True)
    b = batch[cols].sort_values(["window_id", "t"]).reset_index(drop=True)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_streaming_ema_bit_identical_to_batch_fold(spark, sf_dir, split_events_dir):
    """Running EMA streamed across 3 micro-batches must equal the batch
    per-user fold EXACTLY (same IEEE op order -> same bits), state
    carrying the running value across triggers."""
    from pyspark.sql import functions as F

    from tsengine.sources.tables import load_table
    from tsengine.streaming.stateful import ema_stream

    raw_schema = spark.read.parquet(split_events_dir).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_events_dir)
    )
    ts_type = dict((f.name, f.dataType.simpleString()) for f in raw_schema.fields)["ts"]
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    q = (
        ema_stream(stream)
        .writeStream.format("memory")
        .queryName("ema_streamed")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.sql("SELECT user_id, event_id, ema FROM ema_streamed").toPandas()

    # batch twin: per-user sequential fold in (ts, event_id) order
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    alpha = 0.05
    expect = {}
    acc_by_user: dict = {}
    for r in ev.itertuples():
        if r.user_id not in acc_by_user:
            acc_by_user[r.user_id] = float(r.value)
        else:
            acc_by_user[r.user_id] = (1 - alpha) * acc_by_user[r.user_id] + alpha * float(r.value)
        expect[(r.user_id, r.event_id)] = acc_by_user[r.user_id]

    assert len(streamed) == len(expect) > 0
    mismatches = [
        (r.user_id, r.event_id)
        for r in streamed.itertuples()
        if expect[(r.user_id, r.event_id)] != r.ema  # exact, not approx
    ]
    assert not mismatches, f"{len(mismatches)} non-bit-identical EMAs: {mismatches[:5]}"


def test_streaming_funnel_multi_batch_matches_batch(spark, sf_dir, split_events_dir):
    """The incremental funnel state must survive micro-batch
    boundaries: drained per-user MAX(stage) over a 3-file ts-ordered
    stream equals the batch funnel's stage counts."""
    from pyspark.sql import functions as F

    from tsengine.registry import all_queries
    from tsengine.streaming.stateful import funnel_stream

    raw_schema = spark.read.parquet(split_events_dir).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_events_dir)
    )
    ts_type = dict((f.name, f.dataType.simpleString()) for f in raw_schema.fields)["ts"]
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    out = funnel_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_updates")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    per_user = (
        spark.sql("SELECT * FROM funnel_updates")
        .groupBy("user_id")
        .agg(F.max("stage").alias("stage"))
        .toPandas()
    )
    streamed = {
        k: int((per_user["stage"] >= k).sum()) for k in (1, 2, 3)
    }

    # split_events_dir derives from sf_dir: compare at the same sf
    batch = {
        r.stage: r.users
        for r in all_queries()["funnel_events"].fn(spark, sf_dir).collect()
    }
    assert streamed[1] == batch["view"]
    assert streamed[2] == batch["view>click"]
    assert streamed[3] == batch["view>click>purchase"]


def test_streaming_topk_multi_batch_matches_batch(spark, sf_dir, split_events_dir):
    """The top-K ListState must survive micro-batch boundaries: the
    per-(user, rank) MAX(struct) reduction over a 3-file ts-ordered
    stream equals the batch ROW_NUMBER top-3 — including users whose
    top set is assembled across different micro-batches."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tsengine.streaming.stateful import user_topk_stream

    raw_schema = spark.read.parquet(split_events_dir).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_events_dir)
    )
    ts_type = dict((f.name, f.dataType.simpleString()) for f in raw_schema.fields)["ts"]
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    out = user_topk_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("topk_updates")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = (
        spark.sql("SELECT * FROM topk_updates")
        .groupBy("user_id", "rk")
        .agg(F.max(F.struct("value", "event_id")).alias("b"))
        .select("user_id", "rk", F.col("b.value").alias("value"), F.col("b.event_id").alias("event_id"))
        .toPandas()
        .sort_values(["user_id", "rk"])
        .reset_index(drop=True)
    )

    from tsengine.sources.tables import load_table

    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").desc()
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "value", "event_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 3)
        .select("user_id", "rk", "value", "event_id")
        .toPandas()
        .sort_values(["user_id", "rk"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(streamed.astype(batch.dtypes.to_dict()), batch)


def test_streaming_scd2_multi_batch_matches_batch(spark, sf_dir, split_events_dir):
    """Intervals that SPAN micro-batch boundaries must close with the
    correct accumulated (n_events, sum_value): drained closed intervals
    over the 3-file stream equal the batch scd2_intervals minus each
    user's open (max-version) interval."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tsengine.registry import all_queries
    from tsengine.streaming.stateful import scd2_stream

    raw_schema = spark.read.parquet(split_events_dir).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_events_dir)
    )
    ts_type = dict((f.name, f.dataType.simpleString()) for f in raw_schema.fields)["ts"]
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    out = scd2_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("scd2_closed")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    cols = ["user_id", "version", "event_type", "valid_from", "valid_to", "n_events"]
    streamed = (
        spark.sql("SELECT * FROM scd2_closed")
        .select(*cols, F.round("sum_value", 6).alias("sum_value"))
        .toPandas()
        .sort_values(["user_id", "version"])
        .reset_index(drop=True)
    )

    batch_all = all_queries()["scd2_intervals"].fn(spark, sf_dir)
    w = Window.partitionBy("user_id")
    batch = (
        batch_all.withColumn("_mx", F.max("version").over(w))
        .filter(F.col("version") < F.col("_mx"))
        .select(*cols, "sum_value")
        .toPandas()
        .sort_values(["user_id", "version"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(streamed.astype(batch.dtypes.to_dict()), batch)


def test_streaming_anomaly_multi_batch_matches_batch(spark, sf_dir, split_events_dir):
    """The anomaly detector's (n, s1, s2) prefix state must survive
    micro-batch boundaries as ONE unbroken left fold: flags from a
    3-file ts-ordered stream equal the single-batch drain exactly
    (same event set, same 4dp z-scores)."""
    from pyspark.sql import functions as F

    from tsengine.streaming.stateful import anomaly_stream

    raw_schema = spark.read.parquet(split_events_dir).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_events_dir)
    )
    ts_type = dict(
        (f.name, f.dataType.simpleString()) for f in raw_schema.fields
    )["ts"]
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )

    out = anomaly_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("anom_multi")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    multi = {
        (r.user_id, r.event_id): (r.n_prior, r.z)
        for r in spark.sql("SELECT * FROM anom_multi").collect()
    }

    from tsengine.registry import all_queries

    single = {
        (r.user_id, r.event_id): (r.n_prior, r.z)
        for r in all_queries()["stream_anomaly"].fn(spark, sf_dir).collect()
    }
    assert multi == single
    assert multi  # non-vacuous: the fixture produces flags


def test_streaming_cusum_multi_batch_matches_batch(spark, sf_dir, split_events_dir):
    """The CUSUM kernel's (n, s1, s2, S) state must survive micro-batch
    boundaries as ONE unbroken fold: flags from a 3-file ts-ordered
    stream equal the single-batch drain exactly (same event set, same
    fold values)."""
    from pyspark.sql import functions as F

    from tsengine.streaming.stateful import cusum_stream

    raw_schema = spark.read.parquet(split_events_dir).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_events_dir)
    )
    ts_type = dict(
        (f.name, f.dataType.simpleString()) for f in raw_schema.fields
    )["ts"]
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )

    out = cusum_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("cusum_multi")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    multi = {
        (r.user_id, r.event_id): (r.t, r.s)
        for r in spark.sql("SELECT * FROM cusum_multi").collect()
    }

    from tsengine.registry import all_queries

    single = {
        (r.user_id, r.event_id): (r.t, r.s)
        for r in all_queries()["stream_cusum"].fn(spark, sf_dir).collect()
    }
    assert multi == single
    assert multi  # non-vacuous: the fixture produces flags


def test_streaming_ohlc_multi_batch_matches_batch(spark, sf_dir, split_events_dir):
    """The OHLC kernel's running bar must survive micro-batch
    boundaries: closed bars from a 3-file ts-ordered stream equal the
    single-batch drain exactly (bit-exact — the kernel does no float
    arithmetic at all)."""
    from pyspark.sql import functions as F

    from tsengine.streaming.stateful import ohlc_stream

    raw_schema = spark.read.parquet(split_events_dir).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_events_dir)
    )
    ts_type = dict(
        (f.name, f.dataType.simpleString()) for f in raw_schema.fields
    )["ts"]
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif ts_type == "timestamp_ntz":
        # ohlc_stream derives the day via unix_micros, which rejects NTZ
        # event time — same normalization as read_events_stream
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))

    out = ohlc_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("ohlc_multi")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    multi = {
        (r.user_id, r.day): (
            r.open_value,
            r.high_value,
            r.low_value,
            r.close_value,
            r.n_events,
        )
        for r in spark.sql("SELECT * FROM ohlc_multi").collect()
    }

    from tsengine.registry import all_queries

    single = {
        (r.user_id, r.day): (
            r.open_value,
            r.high_value,
            r.low_value,
            r.close_value,
            r.n_events,
        )
        for r in all_queries()["stream_ohlc"].fn(spark, sf_dir).collect()
    }
    assert multi == single
    assert multi
