"""Bucketed co-located join: both fact tables bucketed on the join key
must join with ZERO exchanges, and the result must equal the plain
parquet join."""

from __future__ import annotations

import re

import pytest


@pytest.fixture(scope="module")
def bucketed_pair(spark, oracle_sf_dir, tmp_path_factory):
    import shutil

    from tsengine.sources.bucketed import write_bucketed

    root = tmp_path_factory.mktemp("bucketed_pair")
    li = write_bucketed(
        spark, oracle_sf_dir, "lineitem", "l_orderkey", "t_li_b", str(root / "li")
    )
    o = write_bucketed(
        spark, oracle_sf_dir, "orders", "o_orderkey", "t_o_b", str(root / "o")
    )
    yield li, o
    # external tables: DROP keeps the files, so remove them with the dir
    for t in (li, o):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(root)


def test_bucketed_join_zero_exchange(spark, oracle_sf_dir, bucketed_pair):
    from pyspark.sql import functions as F

    from tsengine.sources.bucketed import bucketed_join
    from tsengine.sources.tables import load_table

    li_b, o_b = bucketed_pair
    joined = bucketed_join(
        spark, li_b, o_b, F.col("l_orderkey") == F.col("o_orderkey")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"Exchange (?:hash|range)partitioning", plan), (
        "bucketed join must not shuffle either side"
    )

    # and semantics equal the plain parquet join
    n_bucketed = joined.count()
    li = load_table(spark, oracle_sf_dir, "lineitem")
    o = load_table(spark, oracle_sf_dir, "orders")
    n_plain = li.join(o, li.l_orderkey == o.o_orderkey).count()
    assert n_bucketed == n_plain > 0
