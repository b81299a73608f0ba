"""Streaming operators as driver-checkable registry queries.

Each entry builds the file-source stream, drains it with
``Trigger.AvailableNow`` into a memory sink, and returns the
materialized result — so the STREAMING execution path (micro-batch
planner, state store, watermarking, join state managers) is what
produces the rows the DuckDB oracle hashes.  The batch twins
(tumbling_window_agg, range_join, …) check the logical semantics; these
check that the streaming runtime reproduces them bit-for-bit.

Complete-mode aggregation drains emit every window regardless of
watermark (state is kept), matching the batch result on a finite
input; the stream-stream inner join emits matches immediately, so an
append-mode drain is also complete on a finite input.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsengine.registry import register
from tsengine.streaming.stateful import (
    anomaly_stream,
    cusum_stream,
    funnel_stream,
    ohlc_stream,
    psi_stream,
    scd2_stream,
    user_topk_stream,
)
from tsengine.streaming.windows import (
    dedup_stream,
    interval_join_stream,
    read_events_stream,
    run_available_now,
    session_stream,
    sliding_stream,
    tumbling_stream,
)

_SINK_IDS = itertools.count()


def _drain(
    spark: SparkSession,
    sf_dir: str,
    op: Callable[[DataFrame], DataFrame],
    prefix: str,
    output_mode: str = "complete",
) -> DataFrame:
    # unique per-invocation sink name: concurrent drains share the
    # child session's catalog and must not collide
    return run_available_now(
        spark,
        lambda s: op(read_events_stream(s, sf_dir)),
        f"{prefix}_{next(_SINK_IDS)}",
        output_mode,
    )


_HOUR = 3600
_SLIDE = 1800


@register(
    "stream_tumbling",
    f"""
SELECT user_id,
       CAST(FLOOR(epoch(ts)) AS BIGINT) // {_HOUR} * {_HOUR} AS win_start,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows executed BY THE STREAMING RUNTIME
    (micro-batched file source -> watermarked window agg -> memory
    sink) and hash-checked against the same SQL oracle as the batch
    twin `tumbling_window_agg` — the strongest correctness statement
    the engine can make about its streaming path."""
    return _drain(spark, sf_dir, tumbling_stream, "s_tumb")


@register(
    "stream_sliding",
    f"""
SELECT user_id,
       (CAST(FLOOR(epoch(ts)) AS BIGINT) // {_SLIDE} - k.k) * {_SLIDE} AS win_start,
       COUNT(*) AS n_events,
       ROUND(AVG(value), 6) AS avg_value
FROM events CROSS JOIN (SELECT unnest(range(0, {_HOUR // _SLIDE})) AS k) k
GROUP BY 1, 2
""",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30min windows via the streaming runtime — each event
    belongs to length/slide windows; the oracle performs the same slot
    expansion the batch twin `sliding_window_agg` uses."""
    return _drain(spark, sf_dir, sliding_stream, "s_slide")


@register(
    "stream_interval_join",
    """
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
           WHERE event_type = 'error'),
p AS (SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events
      WHERE event_type = 'purchase')
SELECT e.event_id AS err_event_id, e.user_id, p.event_id AS p_event_id,
       ROUND(p.value, 6) AS p_value
FROM e JOIN p ON e.user_id = p.user_id
 AND p.us BETWEEN e.us - 900000000 AND e.us + 900000000
""",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked stream-stream interval join executed by the
    streaming runtime (join state managers + two-sided time bound),
    hash-checked against a plain SQL interval join at microsecond
    precision (both engines see identical us-truncated timestamps)."""
    return _drain(spark, sf_dir, interval_join_stream, "s_ijoin", output_mode="append")


@register(
    "stream_session",
    """
WITH ordered AS (
  SELECT user_id, event_id, value, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es,
         epoch_us(ts) AS us,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events
),
marked AS (
  -- session_window's end bound is EXCLUSIVE: an event exactly gap
  -- after the previous one starts a NEW session, hence >=
  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
                 THEN 1 ELSE 0 END AS is_start
  FROM ordered
),
sess AS (
  -- same tiebreak as the LAG window: a first event tying another on
  -- us must keep its is_start=1 row first, or the running sum splits
  -- the session nondeterministically
  SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       MIN(es) AS session_start,
       MAX(es) + 1800 AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM sess GROUP BY user_id, sid
""",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-merged session windows executed BY THE STREAMING RUNTIME
    (built-in ``session_window`` merging state across micro-batches),
    hash-checked against the gaps-and-islands SQL sessionizer — the
    streaming twin of the batch `session_window_agg`.  Complete-mode
    drain keeps every merged session on a finite input."""
    return _drain(spark, sf_dir, session_stream, "s_sess")


@register(
    "stream_dedup",
    """
SELECT event_id, user_id, event_type, ROUND(value, 6) AS value
FROM events
""",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming deduplication under REAL duplicate
    pressure: the event stream unioned with itself (2x every row, the
    at-least-once-delivery worst case), collapsed back to exactly-once
    by ``dropDuplicatesWithinWatermark`` — hash-checked against the
    plain table, which proves each event survived exactly once.  State
    is bounded by the watermark horizon, not the stream length
    (see dedup_stream)."""

    def op(events: DataFrame) -> DataFrame:
        doubled = events.unionAll(read_events_stream(events.sparkSession, sf_dir))
        return dedup_stream(doubled).select(
            "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
        )

    return _drain(spark, sf_dir, op, "s_dedup", output_mode="append")


@register(
    "stream_funnel",
    """
WITH s1 AS (
  SELECT user_id, event_type, ts,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events
),
s2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM s1
),
s3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
              OVER (PARTITION BY user_id) AS t3
  FROM s2
),
per_user AS (
  SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
  FROM s3 GROUP BY user_id
),
tot AS (
  SELECT COUNT(t1) AS u1, COUNT(t2) AS u2, COUNT(t3) AS u3 FROM per_user
)
SELECT 'view' AS stage, CAST(u1 AS BIGINT) AS users FROM tot
UNION ALL
SELECT 'view>click', CAST(u2 AS BIGINT) FROM tot
UNION ALL
SELECT 'view>click>purchase', CAST(u3 AS BIGINT) FROM tot
""",
)
def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conversion funnel computed BY THE STREAMING RUNTIME: a
    custom ``applyInPandasWithState`` kernel tracks each user's
    (t1, t2, t3) stage timestamps incrementally (O(1) state per user,
    update-mode emission of the reached stage), the drain is reduced
    to per-user MAX(stage), and the 3-row stage-count funnel is
    hash-checked against the SAME windowed SQL oracle as the batch
    twin `funnel_events` — proving the stateful streaming path and the
    batch window plan agree row-for-row.  Stage advancement is
    monotone under the per-user (ts, event_id) arrival contract, so
    late re-emission can only repeat, never regress, a user's stage."""
    drained = _drain(spark, sf_dir, funnel_stream, "s_funnel", output_mode="update")
    per_user = drained.groupBy("user_id").agg(F.max("stage").alias("stage"))
    tot = per_user.agg(
        F.sum(F.when(F.col("stage") >= 1, 1).otherwise(0)).alias("u1"),
        F.sum(F.when(F.col("stage") >= 2, 1).otherwise(0)).alias("u2"),
        F.sum(F.when(F.col("stage") >= 3, 1).otherwise(0)).alias("u3"),
    )
    return tot.select(
        F.expr(
            "stack(3, 'view', u1, 'view>click', u2, 'view>click>purchase', u3)"
        ).alias("stage", "users")
    ).select("stage", F.col("users").cast("long").alias("users"))

@register(
    "stream_user_topk",
    """
SELECT user_id, rk, ROUND(value, 6) AS value, event_id
FROM (
  SELECT user_id, value, event_id,
         CAST(ROW_NUMBER() OVER
           (PARTITION BY user_id ORDER BY value DESC, event_id DESC) AS INT) AS rk
  FROM events
) WHERE rk <= 3
""",
)
def stream_user_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running top-3 values computed BY THE STREAMING RUNTIME:
    a stateful leaderboard kernel (O(K) state per user, update-mode
    re-emission of the current top-K each micro-batch), drained and
    reduced per (user, rank) with MAX(struct(value, event_id)) — valid
    because rank-k is monotone in that lexicographic order — then
    hash-checked against the batch ROW_NUMBER oracle: streaming state
    machinery vs batch window plan, row-for-row.

    The kernel is ``applyInPandasWithState`` (stateful.py); Spark 4's
    ``transformWithStateInPandas`` needs the google.protobuf runtime
    for its state server, which this engine does not require."""
    drained = _drain(spark, sf_dir, user_topk_stream, "s_topk", output_mode="update")
    best = drained.groupBy("user_id", "rk").agg(
        F.max(F.struct("value", "event_id")).alias("b")
    )
    return best.select(
        "user_id",
        "rk",
        F.round(F.col("b.value"), 6).alias("value"),
        F.col("b.event_id"),
    )


@register(
    "stream_scd2",
    """
WITH ordered AS (
  SELECT user_id, event_type, value, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es,
         event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
marked AS (
  SELECT *, CASE WHEN prev_type IS NULL OR event_type <> prev_type THEN 1 ELSE 0 END AS is_change
  FROM ordered
),
runs AS (
  SELECT *, CAST(SUM(is_change) OVER
    (PARTITION BY user_id ORDER BY es, event_id
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
  FROM marked
),
agg AS (
  SELECT user_id, version, event_type,
         MIN(es) AS valid_from, MAX(es) AS valid_to,
         COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sum_value
  FROM runs GROUP BY 1, 2, 3
)
SELECT user_id, version, event_type, valid_from, valid_to, n_events, sum_value
FROM (
  SELECT *, MAX(version) OVER (PARTITION BY user_id) AS _mx FROM agg
) WHERE version < _mx
""",
)
def stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history computed BY THE STREAMING RUNTIME: a
    stateful kernel holds each user's one OPEN interval and emits an
    interval the moment a type change closes it (append mode — closed
    intervals are immutable, so no retraction is ever needed).  The
    stream can never close a user's LAST interval (more data may
    extend it), so the oracle is the batch gaps-and-islands
    (scd2_intervals) minus each user's max version — the exact
    batch/streaming split a production history table runs: streaming
    appends closed versions, the batch twin backfills the open tail.

    Oracle SELECTs the marker column away; Spark side drops nothing —
    the drained closed intervals ARE the answer."""
    drained = _drain(spark, sf_dir, scd2_stream, "s_scd2", output_mode="append")
    return drained.select(
        "user_id",
        "version",
        "event_type",
        "valid_from",
        "valid_to",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


@register(
    "stream_anomaly",
    """
WITH ordered AS (
  SELECT user_id, event_id, value,
         COUNT(*) OVER w AS n,
         SUM(value) OVER w AS s1,
         SUM(value * value) OVER w AS s2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id, CAST(n AS BIGINT) AS n_prior,
       ROUND((value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)), 4) AS z
FROM ordered
WHERE n >= 10 AND (s2 - s1 * s1 / n) / (n - 1) > 0
  AND ABS((value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1))) > 3.5
""",
)
def stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expanding-window z-score anomaly detection BY THE STREAMING
    RUNTIME: a stateful kernel (O(1) state per user — count, sum,
    sum-of-squares) scores every event against its user's strictly-
    prior history and emits |z| > 3.5 flags in append mode; the oracle
    is the identical prior-only window arithmetic as a batch SQL
    running-frame query.  Demonstrates the standard online-monitoring
    split: the streaming path flags live, the batch twin backtests the
    same rule.  Baseline requires >= 10 priors and positive variance
    (a constant history flags nothing — variance undefined), mirroring
    `mad_outliers`' degenerate-scale guard."""
    return _drain(spark, sf_dir, anomaly_stream, "s_anom", output_mode="append")


def _stream_psi_oracle() -> str:
    cnt = ",\n         ".join(
        f"CAST(SUM(CASE WHEN bin = {i} THEN 1 ELSE 0 END) AS BIGINT) AS c{i}"
        for i in range(10)
    )
    lags = ",\n         ".join(f"LAG(c{i}) OVER w AS p{i}" for i in range(10))
    n_prev = " + ".join(f"p{i}" for i in range(10))
    n_cur = " + ".join(f"c{i}" for i in range(10))
    terms = " + ".join(
        f"(((p{i} + 0.5) / (n_prev + 5.0)) - ((c{i} + 0.5) / (n_cur + 5.0)))"
        f" * ln(((p{i} + 0.5) / (n_prev + 5.0)) / ((c{i} + 0.5) / (n_cur + 5.0)))"
        for i in range(10)
    )
    return f"""
WITH b AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         LEAST(GREATEST(CAST(FLOOR(value / 50.0) AS INT), 0), 9) AS bin
  FROM events
), c AS (
  SELECT event_type, day,
         {cnt}
  FROM b GROUP BY 1, 2
), l AS (
  SELECT *,
         {lags},
         MAX(day) OVER (PARTITION BY event_type) AS mx
  FROM c
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
), t AS (
  SELECT *, {n_prev} AS n_prev, {n_cur} AS n_cur
  FROM l WHERE p0 IS NOT NULL AND day < mx
)
SELECT event_type, day, CAST(n_prev AS BIGINT) AS n_prev,
       CAST(n_cur AS BIGINT) AS n_cur,
       ROUND({terms}, 6) AS psi
FROM t
"""


@register("stream_psi", _stream_psi_oracle())
def stream_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-over-window PSI drift BY THE STREAMING RUNTIME: a
    stateful kernel (22 integers per event type — two day markers +
    2x10 bin counters) closes each daily window when a newer day
    arrives and emits PSI(closed window vs its predecessor) in append
    mode; the oracle is the identical integer-bin LAG arithmetic as a
    batch window SQL, minus each type's still-open max day (the
    open-tail split stream_scd2 documents).  The live form of
    ``psi_drift``'s batch half-vs-half comparison — the drift monitor a
    continuously-ingesting training pipeline actually deploys, flagging
    distribution shift the day it happens instead of at the next
    retrain.  All float arithmetic is the fixed-order 10-term PSI
    expression over exact integer counts (no engine-ordered float
    accumulation), 6dp-canonicalized half-away-from-zero on both
    sides."""
    return _drain(spark, sf_dir, psi_stream, "s_psi", output_mode="append")


@register(
    "stream_cusum",
    """
WITH ordered AS (
  SELECT user_id, ts, event_id, value,
         COUNT(*) OVER w AS n, SUM(value) OVER w AS s1,
         SUM(value * value) OVER w AS s2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT user_id, ts, event_id,
         CASE WHEN n >= 10 AND (s2 - s1 * s1 / n) / (n - 1) > 0
              THEN ROUND((value - s1 / n)
                         / sqrt((s2 - s1 * s1 / n) / (n - 1)), 6)
              ELSE 0.0 END AS z
  FROM ordered
),
a AS (SELECT user_id, list(z ORDER BY ts, event_id) AS arr,
             list(event_id ORDER BY ts, event_id) AS eids
      FROM z GROUP BY 1)
-- NOTE (r10 advice): re-folding arr[1:p] from scratch per position makes
-- this oracle O(n^2) in per-user event count -- ~2s at sf0.1, oracle-only
-- cost (the engine side is the O(n) stateful kernel).  Revisit with a
-- running-fold recursive CTE only if the events fixture ever grows 10x.
SELECT * FROM (
  SELECT user_id, eids[p] AS event_id, CAST(p - 1 AS INT) AS t,
         list_reduce(list_prepend(0.0, arr[1:p]),
                     (acc, x) -> GREATEST(0.0, acc + x - 0.5)) AS s
  FROM a, UNNEST(range(1, len(arr) + 1)) AS u(p)
) WHERE s > 4.0
""",
)
def stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection BY THE STREAMING RUNTIME: the
    stateful kernel standardizes each event against its user's
    strictly-prior running mean/std (the causal baseline — the one
    semantic difference from the batch ``cusum_changepoint``, whose
    backtest standardizes against full-series mu/sigma), folds
    ``S = max(0, S + z - k)`` with 6dp-pinned z inputs, and emits
    whenever S > h, in append mode.  The oracle replays the identical
    arithmetic as a batch SQL query: prior-only running-frame window
    sums for z, then the same left fold via ``list_reduce`` — the
    pinned-fold recurrence technique of ``ema_smooth``/
    ``cusum_changepoint`` extended to the streaming twin.  O(1) state
    per user (count, sum, sum-of-squares, S)."""
    return _drain(spark, sf_dir, cusum_stream, "s_cusum", output_mode="append")


@register(
    "stream_ohlc",
    """
WITH r AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day, ts, event_id, value
  FROM events
),
w AS (
  SELECT user_id, day, value,
         FIRST_VALUE(value) OVER win AS fv,
         LAST_VALUE(value) OVER
           (win ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS lv
  FROM r
  WINDOW win AS (PARTITION BY user_id, day ORDER BY ts, event_id)
),
bars AS (
  SELECT user_id, day,
         MAX(fv) AS open_value, MAX(value) AS high_value,
         MIN(value) AS low_value, MAX(lv) AS close_value,
         COUNT(*) AS n_events
  FROM w GROUP BY 1, 2
),
mx AS (SELECT user_id, MAX(day) AS last_day FROM bars GROUP BY 1)
SELECT b.user_id, b.day, b.open_value, b.high_value, b.low_value,
       b.close_value, b.n_events
FROM bars b JOIN mx USING (user_id)
WHERE b.day < mx.last_day
""",
)
def stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars BY THE STREAMING RUNTIME: the stateful kernel
    carries one running bar per user (8 scalars) and emits each bar
    the moment a newer day arrives — the live form of the batch
    ``ohlc_resample`` downsampler.  The oracle replays the identical
    bar arithmetic as a batch window+agg query and EXCLUDES each
    user's last (still-open) day — the open-tail split ``stream_psi``
    and ``stream_scd2`` established.  Pure selection/min/max/count:
    zero float arithmetic anywhere, so streamed bars are bit-exact
    with NO rounding, the strongest determinism class in the streaming
    family."""
    return _drain(spark, sf_dir, ohlc_stream, "s_ohlc", output_mode="append")
