"""Sequence / window operators — the time-series core (SURVEY.md §2 A.3).

Time is an explicit ordinal column ``t`` (SURVEY.md §1.3): ordering is
enforced by window specs / group keys, never physical layout, so every
operator is partition-stable and scales horizontally — per-window state
is bounded by seq_len rows regardless of total data volume.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsengine.operators.fuse import FUSED_CTE, fused_nonzero
from tsengine.oracle.frags import with_ctes
from tsengine.registry import register
from tsengine.sources.wearable import SEQ_LEN, wearable_long, wearable_wide

# ---------------------------------------------------------------------------
# conv1d_encode — 1-D convolution over time (kernel 3, stride 1, pad 1)
# ---------------------------------------------------------------------------

N_IN = 16  # input channels (one-hot acc levels)
N_OUT = 8  # output channels in the oracle-checked query (64 in pipelines)


def conv_weights_df(spark: SparkSession, n_out: int = N_OUT) -> DataFrame:
    """Frozen conv kernel as a tiny dimension table w(oc, c, d) — a
    deterministic arithmetic stand-in for trained weights
    (FIXTURES.md §3; init scheme reference `T_CPC.py:30-45`):
    w = ((oc*31 + c*7 + (d+1)*3) % 11 - 5) / 10."""
    # one local relation (n_out*16*3 rows) — not chained range crossJoins,
    # which cost two extra broadcast stages of pure plan overhead
    rows = [
        (oc, c, d, ((oc * 31 + c * 7 + (d + 1) * 3) % 11 - 5) / 10.0)
        for oc in range(n_out)
        for c in range(N_IN)
        for d in (-1, 0, 1)
    ]
    return spark.createDataFrame(rows, "oc int, c int, d int, w double")


_CONV_W_CTE = f"""
conv_weights AS (
  SELECT CAST(oc AS INT) AS oc, CAST(c AS INT) AS c, CAST(d AS INT) AS d,
         ((oc * 31 + c * 7 + (d + 1) * 3) % 11 - 5) / 10.0 AS w
  FROM (SELECT unnest(range(0, {N_OUT})) AS oc)
  CROSS JOIN (SELECT unnest(range(0, {N_IN})) AS c)
  CROSS JOIN (SELECT unnest(range(-1, 2)) AS d)
)"""


@register(
    "conv1d_encode",
    with_ctes(FUSED_CTE, _CONV_W_CTE)
    + f"""
SELECT f.window_id, f.t - w.d AS t, w.oc, ROUND(SUM(w.w * f.x), 6) AS y
FROM fused f JOIN conv_weights w ON f.c = w.c
WHERE f.t - w.d BETWEEN 0 AND {SEQ_LEN - 1}
GROUP BY 1, 2, 3
""",
)
def conv1d_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D convolution (kernel 3, stride 1, zero-pad 1) over time per
    channel (reference `T_CPC.py:15-23`: Conv1d(16->64)).

    Spark side is the production path: ONE Arrow-batched mapInPandas
    over the wide form — the conv is a numpy einsum per record batch,
    zero shuffles beyond the window derivation (each wide row is
    self-contained).  The kernel emits ONE array row per (window,
    out-channel) and the long form comes from a JVM-side posexplode:
    shipping L-element arrays instead of L rows cuts the Arrow
    transfer to 1/L of the rows (measured 0.98s -> 0.77s steady-state
    at sf0.1; the gap widens at the 100x tier where per-row overhead
    dominates).  The relational twin (fused long form ⋈ broadcast
    weight table + one map-side-combined aggregation — see the oracle
    SQL and `conv1d_join_form`) is the SQL-expressible formulation and
    produces identical values; at sf0.1 the kernel path executes ~2x
    faster and at 100 TB avoids shuffling the 24x-amplified
    (window,t,oc,d) term stream entirely."""
    wide = wearable_wide(spark, sf_dir)
    w = np.array(
        [
            [
                [((oc * 31 + c * 7 + (d + 1) * 3) % 11 - 5) / 10.0 for d in (-1, 0, 1)]
                for c in range(N_IN)
            ]
            for oc in range(N_OUT)
        ]
    )  # [N_OUT, N_IN, 3], kernel index k = d+1
    L = SEQ_LEN

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ibi = np.stack(pdf["ibi"].values).astype(np.float64)  # [bs, L]
            acc = np.stack(pdf["acc"].values)
            fused = np.stack([ibi * (acc == c) for c in range(N_IN)], axis=1)
            padded = np.pad(fused, ((0, 0), (0, 0), (1, 1)))
            out = np.zeros((fused.shape[0], N_OUT, L))
            for k in range(3):
                out += np.einsum("bcl,oc->bol", padded[:, :, k : k + L], w[:, :, k])
            bs = len(pdf)
            yield pd.DataFrame(
                {
                    "window_id": np.repeat(pdf["window_id"].to_numpy(), N_OUT),
                    "oc": np.tile(np.arange(N_OUT, dtype=np.int32), bs),
                    "ys": list(np.round(out, 6).reshape(bs * N_OUT, L)),
                }
            )

    arr = wide.select("window_id", "ibi", "acc").mapInPandas(
        fn, schema="window_id long, oc int, ys array<double>"
    )
    return arr.select(
        "window_id", F.posexplode("ys").alias("t", "y"), "oc"
    ).select("window_id", F.col("t").cast("int").alias("t"), "oc", "y")


def conv1d_join_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The relational formulation (kept as the verifier twin of the
    kernel path): sparse fused rows ⋈ broadcast weights, one hash agg."""
    f = fused_nonzero(spark, sf_dir)
    w = conv_weights_df(spark)
    out_t = (F.col("t") - F.col("d")).alias("t_out")
    return (
        f.join(F.broadcast(w), "c")
        .select("window_id", out_t, "oc", (F.col("w") * F.col("x")).alias("wx"))
        .filter((F.col("t_out") >= 0) & (F.col("t_out") <= SEQ_LEN - 1))
        .groupBy("window_id", F.col("t_out").alias("t"), "oc")
        .agg(F.round(F.sum("wx"), 6).alias("y"))
    )


# ---------------------------------------------------------------------------
# pooling / slicing over time
# ---------------------------------------------------------------------------


@register(
    "last_step",
    with_ctes()
    + "\nSELECT window_id, max_by(ibi, t) AS last_ibi, max_by(acc, t) AS last_acc"
    "\nFROM wearable_long GROUP BY window_id",
)
def last_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last element over time per window (reference
    `unsupervised.py:68`: output[:, -1]) — last-value-per-group via
    max_by, a single hash aggregation (no sort)."""
    wl = wearable_long(spark, sf_dir)
    return wl.groupBy("window_id").agg(
        F.expr("max_by(ibi, t)").alias("last_ibi"),
        F.expr("max_by(acc, t)").alias("last_acc"),
    )


# sample_t: deterministic "random" index in [0.4L, L - timestep)
# (reference `T_CPC.py:61`; purity policy SURVEY.md §4.3)
_T_LO = int(0.4 * SEQ_LEN)
_T_SPAN = SEQ_LEN - 3 - _T_LO  # timestep = 3
_SAMPLE_T_EXPR = f"{_T_LO} + (window_id * 2654435761) % {_T_SPAN}"


@register(
    "sample_t",
    with_ctes()
    + f"\nSELECT DISTINCT window_id, {_SAMPLE_T_EXPR} AS t_sample FROM wearable_long",
)
def sample_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded draw of the CPC anchor index t ∈ [0.4L, L-timestep) —
    a pure function of window_id (hash-based, never engine rand())."""
    wl = wearable_long(spark, sf_dir)
    return wl.select(
        "window_id", F.expr(_SAMPLE_T_EXPR).alias("t_sample")
    ).distinct()


@register(
    "step_at_t",
    with_ctes()
    + f"\nSELECT window_id, t, ibi FROM wearable_long WHERE t = {_SAMPLE_T_EXPR}",
)
def step_at_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Take the sequence element at the sampled step (reference
    `T_CPC.py:67`: output[:, t, :])."""
    wl = wearable_long(spark, sf_dir)
    return wl.filter(F.col("t") == F.expr(_SAMPLE_T_EXPR)).select(
        "window_id", "t", "ibi"
    )


@register(
    "prefix_slice",
    with_ctes()
    + f"\nSELECT window_id, t, ibi FROM wearable_long WHERE t <= {_SAMPLE_T_EXPR}",
)
def prefix_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix z[:, :t+1] of each sequence up to its sampled index
    (reference `T_CPC.py:61-65`) — a predicate in long form, pushed to
    the scan."""
    wl = wearable_long(spark, sf_dir)
    return wl.filter(F.col("t") <= F.expr(_SAMPLE_T_EXPR)).select(
        "window_id", "t", "ibi"
    )


@register(
    "mean_pool",
    with_ctes()
    + "\nSELECT window_id, ROUND(AVG(CAST(ibi AS DOUBLE)), 6) AS pooled"
    "\nFROM wearable_long GROUP BY window_id",
)
def mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean over the feature/time axis (reference `supervised.py:65`:
    output[:,-1].mean(dim=1)) — partial+final AVG per window."""
    wl = wearable_long(spark, sf_dir)
    return wl.groupBy("window_id").agg(
        F.round(F.avg(F.col("ibi").cast("double")), 6).alias("pooled")
    )


# ---------------------------------------------------------------------------
# epoch_avg / ema_smooth — metric-curve smoothing
# ---------------------------------------------------------------------------

_BATCHES_CTE = """
win_batches AS (
  SELECT window_id, loss,
         CAST(((window_id + 1) * 2654435761) % 7 AS INT) AS epoch
  FROM (
    SELECT window_id, AVG(CAST(ibi AS DOUBLE)) AS loss
    FROM wearable_long GROUP BY window_id
  )
)"""


@register(
    "epoch_avg",
    with_ctes(_BATCHES_CTE)
    + "\nSELECT epoch, ROUND(AVG(loss), 6) AS epoch_loss, COUNT(*) AS n_batches"
    "\nFROM win_batches GROUP BY epoch",
)
def epoch_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean of per-batch metric within an epoch slice (reference
    `exercise provided.ipynb` cell 11: np.mean(hist[n*e:n*(e+1)]));
    per-window losses assigned to epochs by a deterministic hash."""
    wl = wearable_long(spark, sf_dir)
    batches = wl.groupBy("window_id").agg(
        F.avg(F.col("ibi").cast("double")).alias("loss")
    ).select(
        "window_id",
        "loss",
        (((F.col("window_id") + 1) * 2654435761) % 7).cast("int").alias("epoch"),
    )
    return batches.groupBy("epoch").agg(
        F.round(F.avg("loss"), 6).alias("epoch_loss"),
        F.count(F.lit(1)).alias("n_batches"),
    )


_EMA_ALPHA = 0.05


@register(
    "ema_smooth",
    with_ctes()
    + f"""
, w AS (
  SELECT window_id, list(CAST(ibi AS DOUBLE) ORDER BY t) AS arr
  FROM wearable_long GROUP BY window_id
)
SELECT window_id, CAST(p - 1 AS INT) AS t,
       list_reduce(arr[1:p],
                   (acc, x) -> {1 - _EMA_ALPHA} * acc + {_EMA_ALPHA} * x) AS ema
FROM w, UNNEST(range(1, len(arr) + 1)) AS u(p)
""",
)
def ema_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential moving average, alpha=0.05 (reference `exercise
    provided.ipynb` cell 20: y_i = (1-a)·y_{i-1} + a·x_i, y_0 = x_0).

    Evaluated as a *sequential left fold over the time-ordered prefix*
    — the exact recurrence — on BOTH engines (Spark ``aggregate``,
    DuckDB ``list_reduce``), with the identical expression shape
    ``0.95*acc + 0.05*x`` per step.  IEEE double ops in the same order
    are bit-identical across engines, so (unlike the closed-form
    weighted SUM, whose engine-dependent summation order produced a
    last-ulp ROUND(,6) mismatch at sf0.1) this form hash-matches at
    any scale.  O(L²) per window is bounded by seq_len; the streaming-
    scale variant is the O(L) recurrence in
    `tsengine.operators.recurrence.ema_recurrence_np`."""
    al = _EMA_ALPHA
    wl = wearable_long(spark, sf_dir).select("window_id", "t", "ibi")
    w = wl.groupBy("window_id").agg(
        F.array_sort(F.collect_list(F.struct("t", "ibi")))
        .getField("ibi")
        .cast("array<double>")
        .alias("arr")
    )
    # per prefix length p: fold arr[2..p] starting from arr[1].  NO final
    # rounding: the folds are bit-identical across engines (verified
    # exhaustively at sf0.1), while ROUND itself is NOT portable at
    # decimal .5 boundaries (Spark rounds via exact BigDecimal HALF_UP,
    # DuckDB in double arithmetic) — rounding here would *introduce*
    # mismatches, not prevent them.
    emas = F.transform(
        F.sequence(F.lit(1), F.size("arr")),
        lambda p: F.aggregate(
            F.slice("arr", F.lit(2), p - 1),
            F.element_at(F.col("arr"), 1),
            lambda acc, x: F.lit(1 - al) * acc + F.lit(al) * x,
        ),
    )
    return w.select("window_id", F.posexplode(emas).alias("t", "ema")).select(
        "window_id", F.col("t").cast("int"), "ema"
    )


@register(
    "ema_epoch_curves",
    with_ctes(_BATCHES_CTE)
    + f"""
, epoch_losses AS (
  SELECT epoch, AVG(loss) AS loss FROM win_batches GROUP BY epoch
)
SELECT a.epoch,
       ROUND(SUM(CASE WHEN b.epoch = 0 THEN power(1 - {_EMA_ALPHA}, a.epoch) * b.loss
                      ELSE {_EMA_ALPHA} * power(1 - {_EMA_ALPHA}, a.epoch - b.epoch) * b.loss END), 6) AS ema_loss
FROM epoch_losses a JOIN epoch_losses b ON b.epoch <= a.epoch
GROUP BY a.epoch
""",
)
def ema_epoch_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMA applied to the per-epoch loss curve (reference cell 20
    smooths loss/accuracy histories before plotting)."""
    wl = wearable_long(spark, sf_dir)
    losses = (
        wl.groupBy("window_id")
        .agg(F.avg(F.col("ibi").cast("double")).alias("loss"))
        .select(
            "loss",
            (((F.col("window_id") + 1) * 2654435761) % 7).cast("int").alias("epoch"),
        )
        .groupBy("epoch")
        .agg(F.avg("loss").alias("loss"))
    )
    a, b = losses.alias("a"), losses.alias("b")
    al = _EMA_ALPHA
    e_a, e_b = F.col("a.epoch"), F.col("b.epoch")
    weight = F.when(e_b == 0, F.pow(F.lit(1 - al), e_a)).otherwise(
        al * F.pow(F.lit(1 - al), e_a - e_b)
    )
    return (
        a.join(b, e_b <= e_a)
        .groupBy(e_a.alias("epoch"))
        .agg(F.round(F.sum(weight * F.col("b.loss")), 6).alias("ema_loss"))
    )


def ema_recurrence_np(series: "pd.Series", alpha: float = _EMA_ALPHA) -> np.ndarray:
    """O(L) recurrence twin of ema_smooth (tested equal to the closed
    form) — the shape used inside applyInPandas at scale."""
    out = np.empty(len(series), dtype=np.float64)
    acc = None
    for i, x in enumerate(series):
        acc = x if acc is None else (1 - alpha) * acc + alpha * x
        out[i] = acc
    return out
