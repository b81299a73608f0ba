#!/usr/bin/env python
"""The definitive driver-harness replica: run EVERY ``queries()`` entry
against its ``oracle_sql()`` twin on a **vanilla** SparkSession — no
tsengine configs, no PYTHONPATH, any cwd — exactly how the external
correctness harness invokes the repo.  ``tests/test_vanilla_session.py``
guards two representative queries in-suite; this sweep is the full-
coverage version run before each round lands.  The loop itself is
``check_oracle.sweep``.

Usage (note: run from OUTSIDE the repo to prove cwd independence):

    cd /tmp && python <repo>/tools/vanilla_sweep.py [sf_dir]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .appName("vanilla-sweep")
    .getOrCreate()
)

import __spark_entry__ as e  # noqa: E402
from check_oracle import sweep  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
sys.exit(1 if sweep(spark, SF, e.queries(), e.oracle_sql()) else 0)
