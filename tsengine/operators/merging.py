"""Idempotent MERGE/upsert sink — the exactly-once write pattern every
production incremental pipeline needs (engine extension; the reference
persists results by overwriting whole pickles/CSVs,
`unsupervised.py:478-493`, which IS idempotent only because it is a
full rewrite — this module gives the partition-scoped form that stays
idempotent without rewriting the world).

Mechanics (plain parquet, no table-format dependency):

  1. the target table is laid out hive-partitioned on a bucket of the
     merge key (``p = key % N_PARTS``);
  2. a merge computes the refreshed rows for the keys in the update
     batch, reads back ONLY the affected partitions (partition-pruned
     scan), anti-joins the stale rows out, unions the update rows in,
     and rewrites JUST those partitions via dynamic partition overwrite
     (the per-write ``partitionOverwriteMode=dynamic`` option; the
     session conf is never touched);
  3. untouched partitions are never read or written.

Idempotence: re-running the same merge recomputes byte-identical
partition contents and overwrites them in place — a retry after a
half-failed run converges to the same table.  The registered query
PROVES this by applying the merge twice and hash-checking the read-back
against a single-application oracle; the pytest twin
(tests/test_idempotent_merge.py) additionally pins run-to-run collect
equality and the untouched-partition no-rewrite property via file
mtimes.

At 100 TB: the partition count is the knob — merge cost is
O(|touched partitions| * partition size + |update|), independent of
table size; this is exactly the MERGE execution model of
Delta/Iceberg/Hudi re-expressed over vanilla partitioned parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsengine.registry import register
from tsengine.sources.scratch import process_dir
from tsengine.sources.tables import load_table

_MERGE_DIR = os.environ.get("TSENGINE_MERGE_DIR", "/tmp/tsengine_merge")
_N_PARTS = 8
_SPLIT_DATE = "1999-01-01"


def _rollup(orders: DataFrame) -> DataFrame:
    """Per-customer order rollup — the merge target's row shape."""
    return orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 6).alias("sum_price"),
        F.max(F.to_date("o_orderdate")).alias("last_orderdate"),
    )


def merge_upsert(
    spark: SparkSession, target: str, updates: DataFrame, key: str
) -> None:
    """MERGE ``updates`` into the partitioned parquet ``target``:
    matched keys are replaced, new keys inserted, and ONLY the
    partitions containing update keys are rewritten (dynamic partition
    overwrite).  ``updates`` must carry the partition column ``p``.
    Deterministic input => byte-deterministic partition contents =>
    idempotent under re-run."""
    upd = updates.localCheckpoint(eager=True)  # pin: read target AND
    # overwrite it below — an un-materialized update plan re-reading the
    # target mid-overwrite would race its own input
    parts = [r.p for r in upd.select("p").distinct().collect()]
    cur = spark.read.parquet(target).filter(F.col("p").isin(parts))
    merged = cur.join(
        upd.select(key), key, "left_anti"
    ).unionByName(upd).localCheckpoint(eager=True)
    merged.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("p").parquet(target)


@register(
    "idempotent_write_merge",
    """
SELECT o_custkey,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 6) AS sum_price,
       CAST(MAX(o_orderdate) AS DATE) AS last_orderdate
FROM orders
GROUP BY o_custkey
""",
)
def idempotent_write_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MERGE round trip, applied TWICE to prove
    idempotence under the driver's value check:

      * base load: per-customer rollup of orders BEFORE 1999-01-01;
      * update batch: refreshed full-history rollups for exactly the
        customers with orders ON/AFTER 1999-01-01 (the standard
        recompute-changed-keys incremental pattern);
      * merge #1: upsert the update batch (replace matched, insert
        new), rewriting only affected key-bucket partitions;
      * merge #2: the SAME batch again — the retry — which must leave
        every byte unchanged.

    The returned read-back equals the full-history rollup for every
    customer (touched customers got refreshed rows; untouched
    customers' base rows already equal their full history), so the
    oracle is the plain GROUP BY over orders — a hash match proves
    both the merge algebra and its idempotence in one check."""
    orders = load_table(spark, sf_dir, "orders")
    target = process_dir(_MERGE_DIR, sf_dir, "cust_rollup")

    with_p = lambda df: df.withColumn(  # noqa: E731
        "p", (F.col("o_custkey") % _N_PARTS).cast("int")
    )
    cutoff = F.to_date(F.lit(_SPLIT_DATE))
    base = _rollup(orders.filter(F.to_date("o_orderdate") < cutoff))
    # full rebuild of the base table every invocation: the registered
    # query must be deterministic per call, never accrete across runs
    with_p(base).write.mode("overwrite").partitionBy("p").parquet(target)

    touched = (
        orders.filter(F.to_date("o_orderdate") >= cutoff)
        .select("o_custkey")
        .distinct()
    )
    updates = with_p(_rollup(orders.join(touched, "o_custkey")))
    merge_upsert(spark, target, updates, "o_custkey")
    merge_upsert(spark, target, updates, "o_custkey")  # the retry

    return spark.read.parquet(target).select(
        "o_custkey", "n_orders", "sum_price", "last_orderdate"
    )


_COMPACT_DIR = os.environ.get("TSENGINE_COMPACT_DIR", "/tmp/tsengine_compact")
_COMPACT_TARGET_FILES = 4
_COMPACT_FRAGMENTS = 64


@register(
    "compact_small_files",
    """
SELECT event_id, ts, user_id, event_type, value, props FROM events
""",
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance pass every 100 TB
    lake runs continuously: streaming/incremental writers leave
    thousands of KB-sized files per partition, and scan cost becomes
    file-open-bound instead of byte-bound (the classic "small files
    problem"; Delta OPTIMIZE / Iceberg rewrite_data_files re-expressed
    over plain parquet).

    The registered query BUILDS the pathology (the events table
    scattered across 64 fragment files), compacts it — one
    ``repartitionByRange`` on the natural sort key (ts, event_id) down
    to the target file count, so each output file covers a contiguous
    time range and min/max footer stats stay selective for time-range
    scans (compaction that ignores sort order destroys data-skipping)
    — and returns the read-back.  The oracle recomputes the table from
    the source directly, so the hash match proves compaction is
    LOSSLESS row-for-row; the pytest twin pins the operational
    contract (file count collapses 64 -> <= target, sizes balanced
    within a band, time-disjoint files).

    At 100 TB compaction is per-partition-scoped maintenance: each
    partition compacts independently — the range shuffle is bounded by
    one partition's data, never the table.  ``compact_partitioned``
    below demonstrates exactly that composition with the hive layout
    of ``idempotent_write_merge``."""
    frag = process_dir(_COMPACT_DIR, sf_dir, "fragments")
    out = process_dir(_COMPACT_DIR, sf_dir, "compacted")
    ev = load_table(spark, sf_dir, "events")
    # pathological layout: 64 round-robin fragments (what a chatty
    # incremental writer leaves behind)
    ev.repartition(_COMPACT_FRAGMENTS).write.mode("overwrite").parquet(frag)
    frag_df = spark.read.parquet(frag)
    (
        frag_df.repartitionByRange(
            _COMPACT_TARGET_FILES, F.col("ts"), F.col("event_id")
        )
        .sortWithinPartitions("ts", "event_id")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


_HIVE_N_PARTS = 4
_HIVE_FRAGMENTS = 16  # files per hot partition before compaction
_HIVE_TARGET_FILES = 2  # per-partition target after compaction
_HIVE_HOT = (0, 1)  # partitions the chatty writer fragments


def list_partition_files(target: str) -> dict[int, list[str]]:
    """Per-hive-partition parquet file listing — the compaction
    criterion input (at 100 TB this is the metastore / FileSystem
    listing the maintenance job already does)."""
    out: dict[int, list[str]] = {}
    for entry in sorted(os.listdir(target)):
        if not entry.startswith("p="):
            continue
        pdir = os.path.join(target, entry)
        out[int(entry.split("=", 1)[1])] = sorted(
            os.path.join(pdir, f)
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        )
    return out


def build_mixed_layout(spark: SparkSession, sf_dir: str) -> str:
    """Rebuild the pathological hive table fresh (registered queries
    must be deterministic per call): events partitioned on
    ``p = user_id % 4``; cold partitions written compact (one file
    each), hot partitions scattered across 16 fragment files apiece —
    what a chatty incremental writer leaves behind in the partitions
    it actually lands data in."""
    target = process_dir(_COMPACT_DIR, sf_dir, "hive")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "p", (F.col("user_id") % _HIVE_N_PARTS).cast("int")
    )
    cold = ev.filter(~F.col("p").isin(list(_HIVE_HOT)))
    hot = ev.filter(F.col("p").isin(list(_HIVE_HOT)))
    # one writer task => one file per partition value it holds
    cold.repartition(1).write.mode("overwrite").partitionBy("p").parquet(target)
    # 16 round-robin tasks each holding rows of every hot partition
    # => 16 files inside each hot partition directory
    hot.repartition(_HIVE_FRAGMENTS).write.mode("append").partitionBy(
        "p"
    ).parquet(target)
    return target


def compact_partitions(
    spark: SparkSession, target: str, parts: list[int]
) -> None:
    """Compact the named hive partitions of ``target`` in place: each
    partition is read back partition-pruned, range-repartitioned on the
    natural sort key (ts, event_id) down to the per-partition target
    file count, and rewritten alone via dynamic partition overwrite —
    untouched partitions are never read or written (the merge_upsert
    scoping rule applied to maintenance)."""
    for p in parts:
        compacted = (
            spark.read.parquet(target)
            .filter(F.col("p") == p)  # partition-pruned scan
            .repartitionByRange(
                _HIVE_TARGET_FILES, F.col("ts"), F.col("event_id")
            )
            .sortWithinPartitions("ts", "event_id")
            .localCheckpoint(eager=True)  # pin: about to overwrite
            # the very files this plan reads
        )
        compacted.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("p").parquet(target)


@register(
    "compact_partitioned",
    """
SELECT event_id, ts, user_id, event_type, value, props FROM events
""",
)
def compact_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction WITHIN a hive-partitioned table — the
    composition ``compact_small_files``'s docstring promises: the
    per-partition-scoped maintenance pass a 100 TB lake actually runs
    (Delta OPTIMIZE / Iceberg rewrite_data_files over a partitioned
    table, re-expressed on plain parquet + dynamic partition
    overwrite).

    The registered query builds a mixed layout (events hive-partitioned
    on ``p = user_id % 4``; partitions 0-1 fragmented into 16 files
    each by a chatty writer, partitions 2-3 already compact), selects
    the partitions to compact by CRITERION (file count above the
    per-partition target — the listing a maintenance job does), and
    compacts ONLY those: per-partition range-repartition on (ts,
    event_id) + dynamic partition overwrite, so each range shuffle is
    bounded by one partition's data and untouched partitions are never
    read or written (pytest pins their file mtimes byte-stable, plus
    16 -> <=2 file collapse and per-partition time-disjointness).  The
    oracle recomputes the table from the source, so the hash match
    proves the whole build+compact round trip is lossless row-for-row.

    At 100 TB: cost is O(|fragmented partitions| x partition size),
    independent of table size — compaction parallelizes over
    partitions and composes with the ``idempotent_write_merge`` MERGE
    layout, whose buckets this query reuses."""
    target = build_mixed_layout(spark, sf_dir)
    files = list_partition_files(target)
    needs = [p for p, fl in files.items() if len(fl) > _HIVE_TARGET_FILES]
    compact_partitions(spark, target, needs)
    return spark.read.parquet(target).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
