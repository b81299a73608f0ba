"""Deterministic shuffle-batching (SURVEY.md §2 A.1 `scan_batched`,
§4.2.4).

The reference's DataLoader shuffles windows each epoch and cuts them
into fixed-size batches (`unsupervised.py:436-437`).  Spark's
``rand()`` is partition-dependent, so to be oracle-stable the batch
assignment is a *pure function of (window_id, epoch)*:
shuffle key = ((window_id + 1) * (epoch + 1) * 2654435761) % (2^31-1),
row_number over that key, batch = floor(rn / bs).

Scale note: the ROW_NUMBER here is a global sort over *windows* (rows /
seq_len — already 50x reduced).  At true 100 TB scale exact equal-size
batches would give way to hash-sliced batches (batch = key % n_batches,
no global sort) — same statistical effect, embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tsengine.oracle.frags import with_ctes
from tsengine.registry import register
from tsengine.sources.wearable import wearable_long

BATCH_SIZE = 32
_PRIME = 2654435761
_MOD = 2147483647


def _shuffle_key(epoch: int):
    return ((F.col("window_id") + 1) * (epoch + 1) * _PRIME) % _MOD


@register(
    "scan_batched",
    with_ctes()
    + f"""
SELECT window_id,
       CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY ((window_id + 1) * 1 * {_PRIME}) % {_MOD}, window_id) - 1) / {BATCH_SIZE}.0) AS BIGINT) AS batch_id
FROM (SELECT DISTINCT window_id FROM wearable_long)
""",
)
def scan_batched(spark: SparkSession, sf_dir: str, epoch: int = 0) -> DataFrame:
    """Epoch-seeded shuffled fixed-size batching (reference DataLoader
    shuffle=True at `unsupervised.py:436`).

    Scale shape: the global ROW_NUMBER is computed TWO-PHASE — the
    shuffle key is uniform on [0, 2^31-1), so range-bucket it into
    ``_N_BUCKETS`` slices (bucket order == key order), row_number
    per bucket under a PARTITIONED window, and add each bucket's
    starting offset (count of rows in lower buckets, a |buckets|²
    broadcast self-join).  Identical assignment to a single global
    sort — the key is a pure function of (window_id, epoch) — but no
    partition-less window: every sort task holds ~1/64th of the
    windows."""
    windows = wearable_long(spark, sf_dir).select("window_id").distinct()
    nb = 64
    bw = (_MOD + nb - 1) // nb
    keyed = windows.withColumn("_k", _shuffle_key(epoch)).withColumn(
        "_b", F.floor(F.col("_k") / F.lit(bw)).cast("long")
    )
    btot = keyed.groupBy("_b").agg(F.count(F.lit(1)).alias("_bc"))
    lo, hi = btot.alias("lo"), btot.alias("hi")
    off = (
        hi.join(F.broadcast(lo), F.col("lo._b") < F.col("hi._b"), "left")
        .groupBy(F.col("hi._b").alias("_b"))
        .agg(F.coalesce(F.sum("lo._bc"), F.lit(0)).alias("_off"))
    )
    w = Window.partitionBy("_b").orderBy("_k", "window_id")
    return (
        keyed.join(F.broadcast(off), "_b")
        .select(
            "window_id",
            F.floor(
                (F.col("_off") + F.row_number().over(w) - 1) / float(BATCH_SIZE)
            ).alias("batch_id"),
        )
    )
