"""Parquet table loaders for the driver-generated test schema.

Mirrors the reference's scans (pickle/CSV at ``unsupervised.py:379-392``,
``:493``) onto Spark's parquet reader — the engine's primary columnar
source.  Filters and projections applied downstream reach the scan via
Catalyst pushdown (verified in tests/test_explain.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from tsengine.sources.memo import invalidate, memoized  # noqa: F401 (re-export)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``scan_examples`` analog: columnar scan of one driver table.

    Reference: ``unsupervised.py:379-392`` loads the windowed-sequence
    table from pickle; here every source is parquet so Catalyst gets
    predicate pushdown + column pruning for free.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # self-sufficient on a vanilla session: nanos-parquet conf + worker
    # package shipping must not depend on who built the SparkSession
    from tsengine.session import ensure_runtime_env

    ensure_runtime_env(spark)
    return memoized(
        spark, sf_dir, ("table", name), lambda: _scan(spark, sf_dir, name)
    )


def _scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # Normalize ts to TIMESTAMP (instant, session tz pinned to UTC by
        # ensure_runtime_env) regardless of how the driver generated the
        # parquet: TIMESTAMP(NANOS) arrives as long ns under nanosAsLong,
        # naive timestamp[us] arrives as TIMESTAMP_NTZ.  Downstream
        # operators may cast ts -> long for epoch-second arithmetic,
        # which Spark 4 forbids on NTZ.
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division: ns values (~1.7e18) exceed double precision
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # naive wall-clock == UTC instant (engine semantics are UTC)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
