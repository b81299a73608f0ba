"""Derive the reference's windowed-sequence ("examples") table from the
driver's ``events`` stream table.

The reference's core dataset is a list of fixed-length windows
``(ibi[200], acc[200], label, patient_id)`` loaded from pickle
(``unsupervised.py:379-392``; schema documented in ``exercise
provided.ipynb`` cell 3).  The driver test data has no wearable table, so
we derive an equivalent deterministically from ``events`` per FIXTURES.md
§5: ``user_id`` ≈ patient, each user's event stream segmented into
fixed-length windows in time order, ``value`` mapped arithmetically onto
the ibi range (600-1500 ms) and a 0-15 quality score (``acc``).

Every mapping below is *pure integer/IEEE-double arithmetic* — no
engine-native ``hash()`` or ``rand()`` — so the DuckDB oracle reproduces
it bit-for-bit (SURVEY.md §4.3 determinism policy).

Two canonical layouts (SURVEY.md §1.3):
  * **long**: one row per (window, t) — the SQL-oracle-friendly form;
  * **wide**: one row per window with array columns — the pandas_udf-
    friendly form (mirrors the reference's ``[bs, C, L]`` tensors).

Scale note: the long form is what every downstream windowed operator
(conv, FFT, GRU) partitions by ``window_id`` — windows are bounded
(seq_len rows), so group state is O(seq_len) regardless of total data
size; the derivation itself is one window-function pass over events,
shuffling once on ``user_id``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tsengine.session import ensure_runtime_env
from tsengine.sources.memo import memoized
from tsengine.sources.tables import load_table

# Window length used on driver tables: events has ~66 rows/user at every
# sf, so the reference's 200 would yield zero complete windows; 50 keeps
# ~1-2 complete windows per user at every sf. Synthetic unit-test
# fixtures use the reference's true length 200.
SEQ_LEN = 50


def wearable_long(spark: SparkSession, sf_dir: str, seq_len: int = SEQ_LEN) -> DataFrame:
    """Long-form windowed-sequence table:
    (patient_id, window_id, t, ibi, acc, label, split).

    Only complete windows (exactly ``seq_len`` samples) are kept,
    mirroring the reference's pre-trimmed length-200 sequences.
    """
    return memoized(
        spark, sf_dir, ("long", seq_len), lambda: _derive_long(spark, sf_dir, seq_len)
    )


def _derive_long(spark: SparkSession, sf_dir: str, seq_len: int) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wu = Window.partitionBy("user_id")
    scaled = F.floor(F.col("value") * 100).cast("bigint")
    scaled10 = F.floor(F.col("value") * 10).cast("bigint")
    # Completeness is decided inside the SAME user partition the
    # row_number already shuffles on: windows are consecutive rn blocks,
    # so window w is complete iff (w+1)*seq_len <= n_user, i.e. iff
    # rn < (n_user div seq_len) * seq_len.  Integer arithmetic only, so
    # the oracle reproduces it exactly — and the plan has ONE exchange
    # (the old count-over-window_id form paid a second full shuffle).
    #
    # patient_id is aliased from user_id ABOVE the window stage: alias-
    # aware partitioning propagation (ProjectExec) then reports
    # HashPartitioning(patient_id), so the downstream wearable_wide
    # groupBy — whose keys contain patient_id — reuses this exchange
    # instead of adding its own (aliasing below the exchange loses the
    # lineage and costs a second full shuffle; plan-verified).
    out = (
        ev.select(
            "user_id",
            (F.row_number().over(w) - 1).alias("rn"),
            F.count(F.lit(1)).over(wu).alias("n_u"),
            F.col("value"),
        )
        .filter(F.col("rn") < F.expr(f"(n_u div {seq_len}) * {seq_len}"))
        .select(
            F.col("user_id").alias("patient_id"),
            (F.col("user_id") * 1000 + F.floor(F.col("rn") / seq_len)).alias("window_id"),
            (F.col("rn") % seq_len).cast("int").alias("t"),
            (F.lit(600) + scaled % 900).alias("ibi"),
            (scaled10 % 16).alias("acc"),
        )
        .withColumn("label", F.when(F.col("patient_id") % 3 == 0, 1).otherwise(0))
        .withColumn("split", F.when(F.col("patient_id") % 10 < 8, "train").otherwise("test"))
    )
    return out


def wearable_wide(spark: SparkSession, sf_dir: str, seq_len: int = SEQ_LEN) -> DataFrame:
    """Wide form: one row per window, time-ordered array columns
    (mirrors the reference's per-window tuples; ``permute_layout`` /
    pivot between layouts is `posexplode` ↔ this collect).

    Always derived from ``events``; the explicit ETL-once path is
    :func:`materialize_wide` once, then :func:`read_wide`.
    """

    def build() -> DataFrame:
        long = wearable_long(spark, sf_dir, seq_len)
        return long.groupBy("patient_id", "window_id", "label", "split").agg(
            F.array_sort(F.collect_list(F.struct("t", "ibi"))).getField("ibi").alias("ibi"),
            F.array_sort(F.collect_list(F.struct("t", "acc"))).getField("acc").alias("acc"),
        )

    return memoized(spark, sf_dir, ("wide", seq_len), build)


def wearable_long_sql(seq_len: int = SEQ_LEN) -> str:
    """DuckDB CTE mirroring :func:`wearable_long` exactly (oracle twin).

    Uses only arithmetic both engines evaluate identically: FLOOR on
    IEEE doubles, non-negative integer ``%``, ROW_NUMBER with a unique
    tiebreak.
    """
    return f"""
wearable_long AS (
  SELECT patient_id,
         patient_id * 1000 + CAST(FLOOR(rn / {seq_len}.0) AS BIGINT) AS window_id,
         CAST(rn % {seq_len} AS INTEGER) AS t,
         600 + (CAST(FLOOR(value * 100) AS BIGINT) % 900) AS ibi,
         (CAST(FLOOR(value * 10) AS BIGINT) % 16) AS acc,
         CASE WHEN patient_id % 3 = 0 THEN 1 ELSE 0 END AS label,
         CASE WHEN patient_id % 10 < 8 THEN 'train' ELSE 'test' END AS split
  FROM (
    SELECT CAST(user_id AS BIGINT) AS patient_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n_u,
           value
    FROM events
  )
  WHERE rn < (n_u // {seq_len}) * {seq_len}
)"""


def materialize_wide(
    spark: SparkSession, sf_dir: str, path: str, seq_len: int = SEQ_LEN
) -> None:
    """ETL-once: persist the wide window table at rest, partitioned by
    split (train/test pruning at scan time).  After this, every
    per-window operator — the whole CPC encoder stack, FFT, GRU,
    pooling — runs as scan -> mapInPandas with ZERO exchanges
    (tests/test_plan_contracts.py::test_wide_at_rest_zero_exchange):
    the derivation's two shuffles (row_number over user + ordered
    collect) are paid once at write time, the reference's native
    layout (per-window tuples in pickle) recreated as parquet."""
    wearable_wide(spark, sf_dir, seq_len).write.mode("overwrite").partitionBy(
        "split"
    ).parquet(path)


def read_wide(spark: SparkSession, path: str) -> DataFrame:
    """Scan the materialized wide window table (shuffle-free source for
    all per-window operators)."""
    return ensure_runtime_env(spark).read.parquet(path)
