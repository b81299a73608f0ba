"""Bucketed storage for co-located joins (scale design, README §Scale).

A fact-fact join (lineitem ⋈ orders on orderkey) is the one join shape
that neither broadcasts nor salts away: both sides are large.  Bucketing
both tables on the join key at WRITE time pre-shuffles the data once —
every subsequent join reads bucket i against bucket i with NO exchange
on either side (plan-contract-tested).  At 100 TB this turns the
recurring cost of the pipeline's biggest shuffle into a one-time
storage layout decision, exactly how production warehouses co-locate
fact tables.

``bucketBy`` requires ``saveAsTable``: the registered query's copies
are external tables over shared artifacts (:func:`ensure_bucketed`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from tsengine.sources.scratch import artifact
from tsengine.sources.tables import load_table

# sized to the local test box (32 cores -> 32-way join parallelism, one
# file per bucket); production sizes this so one bucket-file is a healthy
# parquet size (~1 GB), i.e. thousands of buckets at 100 TB
N_BUCKETS = 32


def write_bucketed(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
    name: str,
    path: str,
) -> str:
    """Write one driver table bucketed+sorted by ``key`` to ``path`` as
    the external catalog table ``name``; returns the name.  Idempotent
    (overwrite)."""
    df = load_table(spark, sf_dir, table)
    # one file per bucket (pre-cluster the write on the bucket key):
    # join parallelism == bucket count, and a single sorted run per
    # bucket keeps the join-side in-partition sorts cheap.
    (
        df.repartition(N_BUCKETS, key)
        .write.mode("overwrite")
        .bucketBy(N_BUCKETS, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(name)
    )
    return name


def bucketed_join(spark: SparkSession, left: str, right: str, on) -> DataFrame:
    """Join two bucketed tables — Spark matches bucket specs and plans
    a zero-EXCHANGE join.  The shuffle_hash hint (switched from merge
    in r6 after the 100x probe) pins a ShuffledHashJoin that, over
    matching bucket specs, needs no exchange AND no sort: Spark 4
    retired sorted-bucket ordering propagation upstream, so the merge
    form kept two in-partition sorts whose n·log n per-bucket cost was
    the read-back's 8.4x long-tail ratio (measured 1.99s merge vs
    1.60s shuffle_hash at the 100x tier, both one-exchange-total
    plans).  The hint also keeps Catalyst from broadcasting one side
    below the threshold — the strategy a fact-fact join cannot use at
    the design point.  Build side is the smaller (right) input's
    bucket; per-task build size is bounded by the write-time layout
    (~1 GB bucket files in production) and Spark's SHJ spills past
    memory."""
    return spark.table(left).join(spark.table(right).hint("shuffle_hash"), on)


def ensure_bucketed(
    spark: SparkSession, sf_dir: str, table: str, key: str, db: str, base: str
) -> str:
    """The bucketed copy of ``table`` as a table of ``db``; returns its
    name.  The files are a shared artifact under ``base``, keyed by the
    fixture table (``scratch.artifact``): built once through a staging
    table that is dropped after the write (it is external, so its files
    stay), then published.  The committed copy is declared to the
    session's catalog with ``CREATE TABLE ... CLUSTERED BY ... LOCATION``
    (the bucket spec lives in the catalog, the bucket ids in the file
    names; both survive re-declaration), so a new session reuses it."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{base}'")

    def write(tmp: str) -> None:
        staging = f"{db}.{os.path.basename(tmp).replace('.', '_')}"
        write_bucketed(spark, sf_dir, table, key, staging, tmp)
        spark.sql(f"DROP TABLE {staging}")

    location = artifact(base, sf_dir, f"bucketed_{table}", (table,), write)
    name = f"{db}.{os.path.basename(location)}"
    if not spark.catalog.tableExists(name):
        df = load_table(spark, sf_dir, table)
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {N_BUCKETS} BUCKETS "
            f"LOCATION '{location}'"
        )
    return name
