"""Stateful sequence recurrence — GRU context (SURVEY.md §2 A.3
`gru_context`, §7.3.1).

A GRU is inherently sequential *within* a window but embarrassingly
parallel *across* windows, so the Spark shape is one Arrow-batched
``mapInPandas`` pass over the wide form (one row per window) that runs
the numpy recurrence vectorized across the batch's windows.  Window
state is bounded (seq_len × hidden floats), so executor memory is safe
at any total scale, and the pass adds no shuffle.

Weights are frozen, seeded numpy (mirroring the reference's init at
`T_CPC.py:30-45`); rows-only oracle (recursive-CTE emulation in DuckDB
is impractical — SURVEY.md §2 A.3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from tsengine.registry import register

HIDDEN = 8
_SEED = 42


def gru_weights(n_in: int, hidden: int = HIDDEN, seed: int = _SEED) -> dict[str, np.ndarray]:
    """Kaiming-style seeded init (deterministic across runs/machines —
    numpy Philox stream is platform-stable)."""
    rng = np.random.default_rng(seed)
    k = np.sqrt(1.0 / hidden)

    def mat(shape):
        return rng.uniform(-k, k, size=shape)

    return {
        "W": mat((3 * hidden, n_in)),   # input weights for z|r|n gates
        "U": mat((3 * hidden, hidden)),  # recurrent weights
        "bW": mat(3 * hidden),
        "bU": mat(3 * hidden),
    }


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def gru_sequence(x: np.ndarray, w: dict[str, np.ndarray]) -> np.ndarray:
    """Standard GRU cell (PyTorch gate layout z|r|n) over x:[L, n_in];
    returns hidden states [L, hidden]."""
    hidden = w["U"].shape[1]
    h = np.zeros(hidden)
    out = np.empty((x.shape[0], hidden))
    wx = x @ w["W"].T + w["bW"]  # [L, 3H] — vectorized input projection
    for t in range(x.shape[0]):
        uh = w["U"] @ h + w["bU"]
        r = _sigmoid(wx[t, hidden : 2 * hidden] + uh[hidden : 2 * hidden])
        z = _sigmoid(wx[t, :hidden] + uh[:hidden])
        n = np.tanh(wx[t, 2 * hidden :] + r * uh[2 * hidden :])
        h = (1 - z) * n + z * h
        out[t] = h
    return out


def gru_batch(x: np.ndarray, w: dict[str, np.ndarray]) -> np.ndarray:
    """Batched GRU (same gate layout as :func:`gru_sequence`), vectorized
    over the batch dim: x:[bs, L, C] -> final hidden [bs, H].  Parity
    with the sequential form is pytest-asserted
    (tests/test_pipelines.py::test_gru_batch_matches_sequential)."""
    hidden = w["U"].shape[1]
    h = np.zeros((x.shape[0], hidden))
    wx = x @ w["W"].T + w["bW"]  # [bs, L, 3H]
    for t in range(x.shape[1]):
        uh = h @ w["U"].T + w["bU"]  # [bs, 3H]
        z = _sigmoid(wx[:, t, :hidden] + uh[:, :hidden])
        r = _sigmoid(wx[:, t, hidden : 2 * hidden] + uh[:, hidden : 2 * hidden])
        n = np.tanh(wx[:, t, 2 * hidden :] + r * uh[:, 2 * hidden :])
        h = (1 - z) * n + z * h
    return h


def gru_context_final(df_wide: DataFrame, hidden: int = HIDDEN, seed: int = _SEED) -> DataFrame:
    """Final GRU context per window from the *wide* form — the scale
    path.  One mapInPandas pass, Arrow-batched and vectorized across
    windows; no per-group pandas overhead and no extra shuffle (a
    grouped-map ``applyInPandas`` over the long form paid a hash
    partition on window_id plus per-group DataFrame construction — ~6x
    slower at sf0.1)."""
    import pandas as pd

    w = gru_weights(n_in=2, hidden=hidden, seed=seed)
    seq_len_col = "ibi"
    schema = "window_id long, t int, " + ", ".join(
        f"h{i} double" for i in range(hidden)
    )

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ibi = np.stack(pdf[seq_len_col].values).astype(np.float64) / 1000.0
            acc = np.stack(pdf["acc"].values).astype(np.float64) / 16.0
            x = np.stack([ibi, acc], axis=2)  # [bs, L, 2]
            h = gru_batch(x, w)
            out = {
                "window_id": pdf["window_id"].to_numpy(),
                "t": np.full(len(pdf), ibi.shape[1] - 1, dtype=np.int32),
            }
            for i in range(hidden):
                out[f"h{i}"] = np.round(h[:, i], 6)
            yield pd.DataFrame(out)

    return df_wide.select("window_id", "ibi", "acc").mapInPandas(fn, schema=schema)


def gru_fold_lambda(w: dict[str, np.ndarray], n_in: int, hidden: int) -> str:
    """DuckDB lambda body replaying one GRU step over a padded element
    list [x0..x{n_in-1}, h0..h{hidden-1}] (1-indexed: x[i] at i, h[j]
    at acc[n_in+1+j]).  Weight literals via repr() (exact round-trip).
    Mirrors gru_batch's op grouping: (x-proj + bW) + (h-proj + bU)."""
    W, U, bW, bU = w["W"], w["U"], w["bW"], w["bU"]
    H = hidden
    off = n_in + 1  # 1-indexed h offset: acc[off + j]

    def xp(row: int) -> str:
        return (
            " + ".join(f"({W[row, j]!r})*x[{j + 1}]" for j in range(n_in))
            + f" + ({bW[row]!r})"
        )

    def hp(row: int) -> str:
        return " + ".join(f"({U[row, j]!r})*acc[{off + j}]" for j in range(H))

    def lin(row: int) -> str:
        return f"(({xp(row)}) + ({hp(row)} + ({bU[row]!r})))"

    def sig(v: str) -> str:
        return f"(1.0/(1.0 + exp(-({v}))))"

    def tanh(v: str) -> str:
        return f"(1.0 - 2.0/(exp(2.0*({v})) + 1.0))"

    h_new = []
    for i in range(H):
        z = sig(lin(i))
        r = sig(lin(H + i))
        n = tanh(f"({xp(2 * H + i)}) + {r}*({hp(2 * H + i)} + ({bU[2 * H + i]!r}))")
        h_new.append(f"(1.0 - {z})*{n} + {z}*acc[{off + i}]")

    return "[" + ", ".join(["0.0"] * n_in) + ", " + ", ".join(h_new) + "]"


def _gru_oracle_sql(hidden: int = HIDDEN, seed: int = _SEED) -> str:
    """Generate the DuckDB twin of the frozen-weight GRU: the recurrence
    replayed as a ``list_reduce`` fold with the SAME weight literals the
    Spark kernel uses (repr() round-trips doubles exactly).

    DuckDB 1.0 constraints shape the encoding: 2-arg list_reduce only
    (accumulator type = element type), so each timestep is padded to a
    10-list [x0, x1, h0..h7] with a zero seed element prepended; no
    tanh(), so it is composed from exp().  libm exp differs from
    numpy's by ~1 ulp, which stays ulp-scale through the contractive
    gates — ROUND(,6) absorbs it (verified at sf0.01 and sf0.1)."""
    from tsengine.sources.wearable import wearable_long_sql

    w = gru_weights(n_in=2, hidden=hidden, seed=seed)
    H = hidden
    zeros10 = "[" + ", ".join(["0.0"] * (H + 2)) + "]"
    lam = gru_fold_lambda(w, n_in=2, hidden=H)
    outs = ", ".join(f"ROUND(h[{3 + i}], 6) AS h{i}" for i in range(H))
    return (
        "WITH "
        + wearable_long_sql()
        + f"""
, xs AS (
  SELECT window_id, MAX(t) AS t_last,
         list_prepend({zeros10},
           list([CAST(ibi AS DOUBLE)/1000.0, CAST(acc AS DOUBLE)/16.0,
                 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0] ORDER BY t)) AS seq
  FROM wearable_long GROUP BY window_id
),
folded AS (
  SELECT window_id, t_last,
         list_reduce(seq, (acc, x) -> {lam}) AS h
  FROM xs
)
SELECT window_id, CAST(t_last AS INT) AS t, {outs} FROM folded
"""
    )


@register("gru_context", _gru_oracle_sql())
def gru_context_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRU over each window's fused series, final context vector per
    window (reference `T_CPC.py:25-26, 66-67`: GRU -> c_t = output[:,t,:]).

    SQL-oracle-checked despite being a stateful recurrence: the frozen-
    weight GRU is a pure fold, so the DuckDB twin replays it with
    ``list_reduce`` from the same weight literals (see
    :func:`_gru_oracle_sql`) — upgrading THE custom operator from a
    rows-only check to full value verification.  The batched kernel
    is also pytest-checked against the per-sequence numpy recurrence
    :func:`gru_sequence`."""
    from tsengine.sources.wearable import wearable_wide

    return gru_context_final(wearable_wide(spark, sf_dir))
