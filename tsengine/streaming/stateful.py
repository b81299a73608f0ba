"""Custom stateful streaming operator: per-user window assembly via
``applyInPandasWithState`` — the streaming twin of
``tsengine.sources.wearable.wearable_long`` (the engine's core
windowing primitive, SURVEY.md §1.3).

Batch derivation numbers each user's events (``row_number`` over ts)
and keeps complete ``seq_len`` blocks.  The streaming form cannot see
the whole history, so it keeps *bounded per-user state*: the count of
samples already consumed plus the current partial window's values
(< seq_len doubles).  Each micro-batch appends the user's new samples,
emits every newly-completed window as long-form rows, and stores the
remainder back.

Scale: state is O(seq_len) per active user — independent of stream
length; the state store partitions by user exactly like the batch
shuffle.  Stale users are evicted with a processing-time timeout (the
partial tail is dropped, matching the batch semantics of ignoring
incomplete windows).

Ordering contract: events must arrive per-user in (ts, event_id) order
across micro-batches (within a batch they are sorted here).  A late
sample beyond an emitted window would need retraction, which streaming
cannot do — the batch form is the backfill path, the standard lambda
split.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from tsengine.sources.wearable import SEQ_LEN

_OUT_SCHEMA = (
    "patient_id bigint, window_id bigint, t int, ibi bigint, acc bigint, "
    "label int, split string"
)
_STATE_SCHEMA = "n_done bigint, buf array<double>"


def _rows_for(patient_id: int, n_done: int, values: list[float]) -> pd.DataFrame:
    """Long-form rows for complete windows, mirroring wearable_long's
    arithmetic exactly (same ibi/acc/label/split formulas)."""
    out: dict[str, list[Any]] = {k: [] for k in (
        "patient_id", "window_id", "t", "ibi", "acc", "label", "split"
    )}
    label = 1 if patient_id % 3 == 0 else 0
    split = "train" if patient_id % 10 < 8 else "test"
    for i, v in enumerate(values):
        rn = n_done + i
        out["patient_id"].append(patient_id)
        out["window_id"].append(patient_id * 1000 + rn // SEQ_LEN)
        out["t"].append(rn % SEQ_LEN)
        # value is non-negative in the events fixture, so Python % and
        # floor-division agree with the Spark/DuckDB twins' semantics
        out["ibi"].append(600 + int(math.floor(v * 100)) % 900)
        out["acc"].append(int(math.floor(v * 10)) % 16)
        out["label"].append(label)
        out["split"].append(split)
    return pd.DataFrame(out)


def _make_assemble(evict_after_ms: int | None):
    def _assemble(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (patient_id,) = key
        if state.hasTimedOut:
            # stale user: drop the partial tail (batch semantics:
            # incomplete windows never appear) and free the state slot
            state.remove()
            return
        n_done, buf = state.get if state.exists else (0, [])
        buf = list(buf)
        # one group can span several Arrow chunks within a micro-batch and
        # their order after the shuffle is arbitrary: concat ALL chunks,
        # sort once, then append — never sort per chunk
        chunks = [pdf for pdf in pdfs]
        if chunks:
            batch = pd.concat(chunks).sort_values(["ts", "event_id"])
            buf.extend(float(v) for v in batch["value"])
        n_complete = (len(buf) // SEQ_LEN) * SEQ_LEN
        if n_complete:
            yield _rows_for(int(patient_id), n_done, buf[:n_complete])
        state.update((n_done + n_complete, buf[n_complete:]))
        if evict_after_ms is not None:
            # re-arm the eviction clock on every activity
            state.setTimeoutDuration(evict_after_ms)

    return _assemble


# Cross-batch in-order enforcement (r9, extending the r8-advice psi
# guard to every ORDER-SENSITIVE kernel): within a micro-batch the
# concat+sort fixes chunk order, so the only undetectable violation is
# a LATER micro-batch delivering rows at or before the previous
# batch's last (ts, event_id).  Each order-sensitive kernel carries a
# (last_ts, last_eid) marker in state and fails loudly instead of
# silently folding a stale row into the recurrence (wrong EMA tail /
# funnel stage / SCD2 interval / anomaly baseline).  The top-K kernel
# needs no guard (max-K is arrival-order-insensitive), and the psi
# kernel keeps its DAY-granularity check — its bin counts commute
# within a day, so a ts-level marker would false-alarm on legal
# within-day cross-batch disorder.
_ORDER_INIT = (-1, -1)


def _order_guard(
    kernel: str, key, pdf: pd.DataFrame, last_ts: int, last_eid: int
) -> tuple[int, int]:
    """``pdf`` must already be (ts, event_id)-sorted.  Raises on a
    cross-batch ordering violation; returns the new marker."""
    if not len(pdf):
        return last_ts, last_eid
    ts = pdf["ts"].astype("int64").to_numpy()
    eid = pdf["event_id"].astype("int64").to_numpy()
    if (int(ts[0]), int(eid[0])) <= (last_ts, last_eid):
        raise ValueError(
            f"{kernel}: out-of-order arrival (ts={int(ts[0])}, "
            f"event_id={int(eid[0])}) at or before the previous batch's "
            f"last row (ts={last_ts}, event_id={last_eid}) for key "
            f"{key!r}; the per-key in-order arrival contract is "
            "violated — repair the upstream ordering (watermarked sort) "
            "rather than silently folding stale rows"
        )
    return int(ts[-1]), int(eid[-1])


_EMA_OUT_SCHEMA = "user_id bigint, event_id bigint, value double, ema double"
_EMA_STATE_SCHEMA = (
    "acc double, seeded boolean, last_ts bigint, last_eid bigint"
)


def _make_ema(alpha: float):
    def _ema(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        acc, seeded, last_ts, last_eid = (
            state.get if state.exists else (0.0, False, *_ORDER_INIT)
        )
        # chunk order after the groupBy shuffle is arbitrary: concat ALL
        # chunks for the group and sort ONCE so the fold order matches
        # the batch (ts, event_id) contract across chunk boundaries
        chunks = [pdf for pdf in pdfs]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            last_ts, last_eid = _order_guard(
                "ema_stream", user_id, pdf, last_ts, last_eid
            )
            emas = []
            for v in pdf["value"]:
                x = float(v)
                # identical op shape to the batch fold (ema_smooth):
                # y_0 = x_0; y = (1-a)*y + a*x
                acc = x if not seeded else (1 - alpha) * acc + alpha * x
                seeded = True
                emas.append(acc)
            yield pd.DataFrame(
                {
                    "user_id": user_id,
                    "event_id": pdf["event_id"].to_numpy(),
                    "value": pdf["value"].to_numpy(),
                    "ema": emas,
                }
            )
        state.update((acc, seeded, last_ts, last_eid))

    return _ema


def ema_stream(events: DataFrame, alpha: float = 0.05) -> DataFrame:
    """Streaming EMA (reference `exercise provided.ipynb` cell 20's
    recurrence, as a continuous operator): per-user running
    ``y = (1-a)*y + a*x`` over the event stream, O(1) state per user —
    the canonical "metric smoothing in flight" op that the batch
    ``ema_smooth`` backfills.

    Because the recurrence is evaluated with the same IEEE op order as
    the batch fold, a streamed drain is *bit-identical* to the batch
    result (asserted in tests/test_stateful_streaming.py), even across
    micro-batch boundaries — state carries the running value, order is
    the per-user (ts, event_id) arrival contract."""
    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_ema(alpha),
            outputStructType=_EMA_OUT_SCHEMA,
            stateStructType=_EMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def window_assembler_stream(
    events: DataFrame, evict_after_ms: int | None = None
) -> DataFrame:
    """events stream (user_id, ts, event_id, value) -> long-form
    complete-window rows, emitted incrementally.

    ``evict_after_ms`` enables processing-time eviction of stale users
    for continuous deployments.  Default None (no timeout): a pending
    timeout keeps a ``Trigger.AvailableNow`` drain alive waiting to
    fire it (observed: the query never terminates), so batch-style
    drains and tests must run without eviction."""
    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_assemble(evict_after_ms),
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.NoTimeout
                if evict_after_ms is None
                else GroupStateTimeout.ProcessingTimeTimeout
            ),
        )
    )


_FUNNEL_OUT_SCHEMA = "user_id bigint, stage int"
_FUNNEL_STATE_SCHEMA = (
    "t1 bigint, t2 bigint, t3 bigint, last_ts bigint, last_eid bigint"
)
_FUNNEL_STAGES = ("view", "click", "purchase")


def _funnel_update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Incremental funnel state per user: t_k = earliest stage-k event
    strictly after t_{k-1} (epoch micros; 0 = unset).  Under the
    per-user (ts, event_id) arrival-order contract (same contract as
    the EMA fold), each t_k is set at most once and the reached stage
    is monotone — so the drained per-user MAX(stage) equals the batch
    funnel exactly."""
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    t1, t2, t3, last_ts, last_eid = (
        state.get if state.exists else (0, 0, 0, *_ORDER_INIT)
    )
    chunks = [pdf for pdf in pdfs]
    if chunks:
        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
        last_ts, last_eid = _order_guard(
            "funnel_stream", user_id, pdf, last_ts, last_eid
        )
        ts_us = pdf["ts"].astype("int64").to_numpy()
        types = pdf["event_type"].to_numpy()
        for t, ty in zip(ts_us, types):
            if t1 == 0 and ty == _FUNNEL_STAGES[0]:
                t1 = int(t)
            elif t1 and t2 == 0 and ty == _FUNNEL_STAGES[1] and t > t1:
                t2 = int(t)
            elif t2 and t3 == 0 and ty == _FUNNEL_STAGES[2] and t > t2:
                t3 = int(t)
    state.update((t1, t2, t3, last_ts, last_eid))
    stage = 3 if t3 else 2 if t2 else 1 if t1 else 0
    yield pd.DataFrame({"user_id": [int(user_id)], "stage": [stage]})


def funnel_stream(events: DataFrame) -> DataFrame:
    """events stream -> per-user reached funnel stage, updated per
    micro-batch (O(1) state: three timestamps per user).  The
    continuous twin of the batch `funnel_events` windows."""
    return (
        events.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_update,
            outputStructType=_FUNNEL_OUT_SCHEMA,
            stateStructType=_FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- per-user running top-K (leaderboard / per-key reservoir) --------

_TOPK_K = 3
_TOPK_OUT_SCHEMA = "user_id bigint, rk int, value double, event_id bigint"
_TOPK_STATE_SCHEMA = "vals array<double>, eids array<bigint>"


def _topk_merge(pairs: list, pdfs: list) -> list:
    """Merge buffered (value, event_id) pairs with new arrivals and
    keep the K best by (value DESC, event_id DESC) — the deterministic
    total order shared with the batch ROW_NUMBER oracle."""
    for pdf in pdfs:
        pairs.extend(zip(pdf["value"].astype(float), pdf["event_id"].astype("int64")))
    pairs.sort(key=lambda p: (-p[0], -p[1]))
    return pairs[:_TOPK_K]


def _topk_emit(user_id: int, pairs: list) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [int(user_id)] * len(pairs),
            "rk": list(range(1, len(pairs) + 1)),
            "value": [p[0] for p in pairs],
            "event_id": [int(p[1]) for p in pairs],
        }
    )


def _topk_update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """O(K) state per user: every micro-batch re-emits the current
    top-K.  Rank-k is monotone non-decreasing in the (value, event_id)
    lexicographic order as data arrives, so the drained multiset
    reduces deterministically with per-(user, rank)
    MAX(struct(value, event_id)) — the same monotone-emission argument
    as the funnel's MAX(stage)."""
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    vals, eids = state.get if state.exists else ([], [])
    pairs = _topk_merge(list(zip(vals, eids)), list(pdfs))
    state.update(([p[0] for p in pairs], [int(p[1]) for p in pairs]))
    yield _topk_emit(user_id, pairs)


def user_topk_stream(events: DataFrame) -> DataFrame:
    """events stream -> per-user running top-3 values (by value, then
    event_id) — the leaderboard / per-key-best shape a continuous
    pipeline keeps in flight.  State is K pairs per user regardless of
    stream length; the state store partitions by user like the batch
    shuffle."""
    return (
        events.select("user_id", "value", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _topk_update,
            outputStructType=_TOPK_OUT_SCHEMA,
            stateStructType=_TOPK_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- streaming SCD2 interval closer ----------------------------------

_SCD2_OUT_SCHEMA = (
    "user_id bigint, version bigint, event_type string, valid_from bigint, "
    "valid_to bigint, n_events bigint, sum_value double"
)
_SCD2_STATE_SCHEMA = (
    "version bigint, etype string, vfrom bigint, vto bigint, n bigint, "
    "sv double, last_ts bigint, last_eid bigint"
)


def _scd2_update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold each user's arrivals (ts, event_id order) into the OPEN
    interval held in state; a type change CLOSES the interval — closed
    intervals are immutable, so append-mode emission is exact.  The
    final open interval stays in state awaiting more data: a stream
    can never close its last version, which is precisely the batch
    twin (scd2_intervals) minus each user's max version."""
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        *cur, last_ts, last_eid = state.get
        cur = list(cur)
    else:
        cur, (last_ts, last_eid) = None, _ORDER_INIT
    cols = (
        "user_id", "version", "event_type", "valid_from",
        "valid_to", "n_events", "sum_value",
    )
    out: dict = {k: [] for k in cols}
    chunks = [pdf for pdf in pdfs]
    if chunks:
        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
        last_ts, last_eid = _order_guard(
            "scd2_stream", user_id, pdf, last_ts, last_eid
        )
        es = pdf["ts"].to_numpy().astype("datetime64[s]").astype("int64")
        for t, ty, v in zip(es, pdf["event_type"].to_numpy(), pdf["value"].to_numpy()):
            if cur is None:
                cur = [1, ty, int(t), int(t), 1, float(v)]
            elif ty == cur[1]:
                cur[3] = int(t)
                cur[4] += 1
                cur[5] += float(v)
            else:
                out["user_id"].append(int(user_id))
                out["version"].append(cur[0])
                out["event_type"].append(cur[1])
                out["valid_from"].append(cur[2])
                out["valid_to"].append(cur[3])
                out["n_events"].append(cur[4])
                out["sum_value"].append(cur[5])
                cur = [cur[0] + 1, ty, int(t), int(t), 1, float(v)]
    if cur is not None:
        state.update((*cur, last_ts, last_eid))
    yield pd.DataFrame(out, columns=cols)


def scd2_stream(events: DataFrame) -> DataFrame:
    """events stream -> closed SCD2 intervals (append mode): the
    continuous dimension-history builder whose batch backfill twin is
    ``scd2_intervals``.  O(1) state per user (the one open interval);
    per-user arrival order (ts, event_id) is the same contract as the
    EMA/funnel kernels."""
    return (
        events.select("user_id", "ts", "event_id", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _scd2_update,
            outputStructType=_SCD2_OUT_SCHEMA,
            stateStructType=_SCD2_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# expanding-window z-score anomaly detector
# ---------------------------------------------------------------------------

_ANOM_OUT_SCHEMA = "user_id bigint, event_id bigint, n_prior bigint, z double"
_ANOM_STATE_SCHEMA = (
    "n bigint, s1 double, s2 double, last_ts bigint, last_eid bigint"
)
_ANOM_MIN_N = 10
_ANOM_Z = 3.5


def _anomaly_update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user expanding-window anomaly flagging: each event is scored
    against the running mean/std of ALL PRIOR events (strictly causal —
    the event never contaminates its own baseline), flagged when
    |z| > 3.5 with at least 10 priors.  State is three scalars
    (n, sum, sum-of-squares) per user — O(1) regardless of history
    length; the variance formula (s2 - s1^2/n)/(n-1) is the exact
    same arithmetic the batch/oracle window form computes, and the
    accumulation is the sequential left fold over (ts, event_id) order
    (the pinned-fold recurrence technique: same op shape in the SQL
    twin's running-frame window sums)."""
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    n, s1, s2, last_ts, last_eid = (
        state.get if state.exists else (0, 0.0, 0.0, *_ORDER_INIT)
    )
    chunks = [pdf for pdf in pdfs]
    if chunks:
        import numpy as np

        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
        last_ts, last_eid = _order_guard(
            "anomaly_stream", user_id, pdf, last_ts, last_eid
        )
        v = pdf["value"].to_numpy(dtype=np.float64)
        # vectorized prefix state: np.cumsum accumulates strictly
        # left-to-right in float64, the exact op sequence the scalar
        # fold (and the oracle's running-frame window SUM) performs —
        # prior-only prefixes shift the cumsum right by one
        pn = n + np.arange(len(v), dtype=np.int64)
        cs1 = s1 + np.cumsum(v)
        cs2 = s2 + np.cumsum(v * v)
        # prior-only prefixes = the cumsum shifted right by one (NOT
        # cs - v, whose float add-then-subtract is not bit-identical
        # to the sequential fold's prefix)
        ps1 = np.concatenate(([s1], cs1[:-1])) if len(v) else cs1
        ps2 = np.concatenate(([s2], cs2[:-1])) if len(v) else cs2
        with np.errstate(divide="ignore", invalid="ignore"):
            mean = ps1 / pn
            var = (ps2 - ps1 * ps1 / pn) / (pn - 1)
            z = (v - mean) / np.sqrt(var)
        mask = (pn >= _ANOM_MIN_N) & (var > 0) & (np.abs(z) > _ANOM_Z)
        if mask.any():
            # 4dp canonicalization HALF AWAY FROM ZERO in double
            # arithmetic — the same convention DuckDB's ROUND(z, 4)
            # applies on the oracle side.  np.round's half-to-even
            # would be a SECOND convention (ADVICE r7): a z landing
            # exactly on a .00005 double boundary would flip between
            # engines.  Residual accepted risk, documented: the
            # oracle's running-frame window SUM is assumed to evaluate
            # as a strict left fold; DuckDB's segment-tree window
            # aggregation does not guarantee that op order, but any
            # re-association error is ~ulp-scale against a 4dp grid —
            # it can only surface on the same measure-zero boundary.
            zm = z[mask]
            yield pd.DataFrame(
                {
                    "user_id": int(user_id),
                    "event_id": pdf["event_id"].to_numpy()[mask],
                    "n_prior": pn[mask],
                    "z": np.copysign(
                        np.floor(np.abs(zm) * 1e4 + 0.5) / 1e4, zm
                    ),
                }
            )
        if len(v):
            # carry the SEQUENTIAL totals (cumsum tails), not np.sum's
            # pairwise reduction — cross-batch folds must stay one
            # unbroken left fold
            n += len(v)
            s1 = float(cs1[-1])
            s2 = float(cs2[-1])
    state.update((n, s1, s2, last_ts, last_eid))


def anomaly_stream(events: DataFrame) -> DataFrame:
    """events stream -> flagged anomalous events (append mode: a flag,
    once emitted, is immutable — the prior-only baseline never changes
    retroactively).  The streaming form of the quality gate a feature
    pipeline runs ahead of training-data ingestion."""
    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _anomaly_update,
            outputStructType=_ANOM_OUT_SCHEMA,
            stateStructType=_ANOM_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# windowed PSI drift monitor (window-over-window)
# ---------------------------------------------------------------------------

_PSI_OUT_SCHEMA = (
    "event_type string, day bigint, n_prev bigint, n_cur bigint, psi double"
)
# prev/cur day markers + 10 bin counters each (day = -1: slot empty)
_PSI_STATE_SCHEMA = ", ".join(
    ["prev_day bigint", "cur_day bigint"]
    + [f"p{i} bigint" for i in range(10)]
    + [f"c{i} bigint" for i in range(10)]
)


def _psi_value(prev: list, cur: list) -> float:
    """PSI of the current window vs the previous one — the SAME
    fixed-order 10-term expression as the batch/oracle form
    (tsengine.operators.drift): integer counts in, left-to-right term
    accumulation, 6dp canonicalized half AWAY from zero (DuckDB's ROUND
    convention, the stream_anomaly precedent — python round() would be
    half-to-even, a second convention)."""
    nr, nc = sum(prev), sum(cur)
    psi = 0.0
    for ri, ci in zip(prev, cur):
        p = (ri + 0.5) / (nr + 5.0)
        q = (ci + 0.5) / (nc + 5.0)
        psi = psi + (p - q) * math.log(p / q)
    return math.copysign(math.floor(abs(psi) * 1e6 + 0.5) / 1e6, psi)


def _psi_update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-event-type window-over-window drift: daily tumbling windows
    of 10 fixed-width value-bin counts; when a NEWER day closes the
    current window, emit PSI(current vs previous) and roll the state.
    The stream can never close a type's LAST (open) window — the oracle
    twin excludes each type's max day, the exact open-tail split
    ``stream_scd2`` documents.  State is 22 integers per type (two day
    markers + 2x10 bin counters) — O(1) regardless of stream length;
    append mode (an emitted window pair is immutable).  Same in-order
    arrival contract as the EMA/funnel/SCD2 kernels."""
    (event_type,) = key
    if state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        st = list(state.get)
    else:
        st = [-1, -1] + [0] * 20
    prev_day, cur_day = st[0], st[1]
    prev, cur = st[2:12], st[12:22]
    out = []
    chunks = [pdf for pdf in pdfs]
    if chunks:
        pdf = pd.concat(chunks).sort_values(["day", "ts", "event_id"])
        for day, b in zip(pdf["day"], pdf["bin"]):
            day = int(day)
            if day < cur_day:
                # In-order arrival contract (shared with the EMA/funnel/
                # SCD2 kernels), enforced: within a micro-batch the sort
                # above fixes order, so this only trips when a LATER
                # micro-batch delivers an older day.  Treating it as
                # "newer" would silently close the current window and
                # emit plausible-but-wrong PSI rows — fail loudly
                # instead (r8 advice).
                raise ValueError(
                    f"psi_stream: out-of-order day {day} after window "
                    f"{cur_day} for event_type {event_type!r}; the "
                    "in-order arrival contract is violated — feed the "
                    "stream through a watermarked sort or widen the "
                    "window granularity"
                )
            if day != cur_day:
                if cur_day != -1 and prev_day != -1:
                    out.append(
                        (
                            event_type,
                            cur_day,
                            sum(prev),
                            sum(cur),
                            _psi_value(prev, cur),
                        )
                    )
                if cur_day != -1:
                    prev_day, prev = cur_day, cur
                cur_day, cur = day, [0] * 10
            cur[int(b)] += 1
    state.update(tuple([prev_day, cur_day] + prev + cur))
    if out:
        yield pd.DataFrame(
            out, columns=["event_type", "day", "n_prev", "n_cur", "psi"]
        )


def psi_stream(events: DataFrame) -> DataFrame:
    """events stream -> per-(type, closed day) PSI vs the previous day
    (window-over-window drift monitoring: the live form of
    ``tsengine.operators.drift.psi_drift``'s half-vs-half batch split).
    Day index and bin are computed Spark-side with the same exact
    integer arithmetic as the oracle (unix_micros div / clamped
    FLOOR)."""
    from pyspark.sql import functions as F

    keyed = events.select(
        "event_type",
        "ts",
        "event_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.least(
            F.greatest(
                F.floor(F.col("value") / F.lit(50.0)).cast("int"), F.lit(0)
            ),
            F.lit(9),
        ).alias("bin"),
    )
    return keyed.groupBy("event_type").applyInPandasWithState(
        _psi_update,
        outputStructType=_PSI_OUT_SCHEMA,
        stateStructType=_PSI_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming CUSUM drift detector
# ---------------------------------------------------------------------------

_CUSUM_OUT_SCHEMA = "user_id bigint, event_id bigint, t int, s double"
_CUSUM_STATE_SCHEMA = (
    "n bigint, s1 double, s2 double, cs double, last_ts bigint, last_eid bigint"
)
_CUSUM_MIN_N = 10
_CUSUM_K = 0.5
_CUSUM_H = 4.0


def _cusum_update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user streaming CUSUM (Page's sequential test on the CAUSAL
    z-score): each event's z comes from the running mean/std of all
    PRIOR events (the ``anomaly_stream`` baseline — a live detector
    cannot standardize against a future it has not seen, which is the
    one semantic difference from the batch ``cusum_changepoint``'s
    full-series mu/sigma), z is canonicalized to 6dp half AWAY from
    zero (pinning the fold's inputs pins every downstream bit — the
    batch op's own technique), and the drift statistic folds
    sequentially as ``S = max(0, S + z - k)``, emitting (t, S) whenever
    S > h.  State is four scalars per user; the fold arithmetic is the
    identical op shape the oracle's ``list_reduce`` evaluates."""
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    n, s1, s2, cs, last_ts, last_eid = (
        state.get if state.exists else (0, 0.0, 0.0, 0.0, *_ORDER_INIT)
    )
    chunks = [pdf for pdf in pdfs]
    if chunks:
        import numpy as np

        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
        last_ts, last_eid = _order_guard(
            "cusum_stream", user_id, pdf, last_ts, last_eid
        )
        v = pdf["value"].to_numpy(dtype=np.float64)
        pn = n + np.arange(len(v), dtype=np.int64)
        cs1 = s1 + np.cumsum(v)
        cs2 = s2 + np.cumsum(v * v)
        # prior-only prefixes: the cumsum shifted right by one (see
        # _anomaly_update for why NOT cs - v)
        ps1 = np.concatenate(([s1], cs1[:-1]))
        ps2 = np.concatenate(([s2], cs2[:-1]))
        with np.errstate(divide="ignore", invalid="ignore"):
            mean = ps1 / pn
            var = (ps2 - ps1 * ps1 / pn) / (pn - 1)
            z = (v - mean) / np.sqrt(var)
        ok = (pn >= _CUSUM_MIN_N) & (var > 0)
        with np.errstate(invalid="ignore"):
            z6 = np.where(
                ok, np.copysign(np.floor(np.abs(z) * 1e6 + 0.5) / 1e6, z), 0.0
            )
        eid = pdf["event_id"].to_numpy()
        out_eid, out_t, out_s = [], [], []
        for i in range(len(v)):
            # identical op shape to GREATEST(0.0, acc + x - k) in the
            # oracle's list_reduce: left-assoc add/sub then max
            cs = max(0.0, cs + float(z6[i]) - _CUSUM_K)
            if cs > _CUSUM_H:
                out_eid.append(int(eid[i]))
                out_t.append(int(pn[i]))
                out_s.append(cs)
        if out_eid:
            yield pd.DataFrame(
                {
                    "user_id": int(user_id),
                    "event_id": out_eid,
                    "t": out_t,
                    "s": out_s,
                }
            )
        n += len(v)
        s1 = float(cs1[-1])
        s2 = float(cs2[-1])
    state.update((int(n), s1, s2, float(cs), last_ts, last_eid))


def cusum_stream(events: DataFrame) -> DataFrame:
    """events stream -> CUSUM drift flags (append mode: S is a causal
    prefix statistic, so an emitted flag never changes retroactively).
    The live companion of the batch ``cusum_changepoint`` backtest —
    the detector a metrics pipeline runs IN FLIGHT to catch a level
    shift the z-score spike detector (``anomaly_stream``) misses,
    because CUSUM integrates many small same-signed deviations instead
    of waiting for one 3.5-sigma point."""
    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _cusum_update,
            outputStructType=_CUSUM_OUT_SCHEMA,
            stateStructType=_CUSUM_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# streaming OHLC bar builder
# ---------------------------------------------------------------------------

_OHLC_OUT_SCHEMA = (
    "user_id bigint, day bigint, open_value double, high_value double, "
    "low_value double, close_value double, n_events bigint"
)
_OHLC_STATE_SCHEMA = (
    "cur_day bigint, o double, h double, l double, c double, n bigint, "
    "last_ts bigint, last_eid bigint"
)


def _ohlc_update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user daily OHLC bar construction in flight: the running bar
    lives in state (8 scalars), a NEWER day closes and emits the
    previous bar (append mode — a closed bar is immutable; the open
    tail bar never emits, the exact open-tail split ``stream_psi`` and
    ``stream_scd2`` document).  Pure selection/min/max/count — ZERO
    float arithmetic, so the streamed bars are bit-exact against the
    batch oracle with no rounding at all.  Same in-order arrival
    contract as every other kernel (ts regression across micro-batches
    raises via _order_guard; day is monotone in ts so no separate day
    guard is needed)."""
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    cur_day, o, h, l, c, n, last_ts, last_eid = (
        state.get if state.exists else (-1, 0.0, 0.0, 0.0, 0.0, 0, *_ORDER_INIT)
    )
    out = []
    chunks = [pdf for pdf in pdfs]
    if chunks:
        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
        last_ts, last_eid = _order_guard(
            "ohlc_stream", user_id, pdf, last_ts, last_eid
        )
        for day, v in zip(pdf["day"], pdf["value"]):
            day, v = int(day), float(v)
            if day != cur_day:
                if cur_day != -1:
                    out.append((int(user_id), cur_day, o, h, l, c, n))
                cur_day, o, h, l, c, n = day, v, v, v, v, 0
            h = v if v > h else h
            l = v if v < l else l
            c = v
            n += 1
    state.update((cur_day, o, h, l, c, int(n), last_ts, last_eid))
    if out:
        yield pd.DataFrame(
            out,
            columns=[
                "user_id",
                "day",
                "open_value",
                "high_value",
                "low_value",
                "close_value",
                "n_events",
            ],
        )


def ohlc_stream(events: DataFrame) -> DataFrame:
    """events stream -> closed daily OHLC bars per user (the live form
    of the batch ``ohlc_resample`` downsampler: dashboards read bars
    seconds after a day closes instead of waiting for the nightly
    batch).  Day index is computed Spark-side with the same integer
    microsecond arithmetic as the oracle."""
    from pyspark.sql import functions as F

    keyed = events.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _ohlc_update,
        outputStructType=_OHLC_OUT_SCHEMA,
        stateStructType=_OHLC_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
