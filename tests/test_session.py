"""Session-level performance contracts: steady plans reuse their generated
code, and Python workers import the installed pyspark.

Whole-stage codegen compiles each distinct generated class once with
Janino and keeps it in Spark's codegen class cache
(``spark.sql.codegen.cache.maxEntries``, a static conf).  At Spark's
default of 100 entries the eight CPC-path queries of the benchmark
(``perfbench/run.py`` ``cpc_kernels``, ~125 classes) overflow the cache,
so every repeat pass compiles again.  ``get_spark`` sizes the cache to
the registry's working set; this test pins that a repeat pass no longer
recompiles it.
"""

from __future__ import annotations

import os

from perfbench.probes import Jvm
from perfbench.run import WORKLOADS


def test_steady_plans_do_not_recompile(spark, sf_dir):
    import __spark_entry__ as entry

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4000"
    # shuffle and AQE sizing as measured in SCALING.md (session.py builder)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false"
    assert spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") == "8388608"
    queries = entry.queries()
    jvm = Jvm(spark)
    per_pass = []
    for _ in range(3):
        before = jvm.counters()["codegen_compiles"]
        for name in WORKLOADS["cpc_kernels"].queries:
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        per_pass.append(jvm.counters()["codegen_compiles"] - before)
    # The first pass compiles whatever earlier tests left uncached.  At
    # Spark's default cache of 100 the third pass recompiles the working
    # set (91-103 classes); cached, it compiles none, except that AQE's
    # timing-dependent join choices in the pipeline queries can re-plan a
    # stage into a shape not seen before, and its whole-stage class name
    # carries the stage id (0-14 classes per pass seen).  The bound admits
    # that and not an overflow.
    assert per_pass[2] < 20, f"Janino compiles per pass: {per_pass}"


def _spark_archive(entry: str, spark_home: str) -> bool:
    """``entry`` is a ``.zip``/``.jar`` under ``spark_home``, or a path inside one."""
    real = os.path.realpath(entry)
    return real.startswith(os.path.join(spark_home, "")) and (
        ".zip" in real or ".jar" in real
    )


def test_python_workers_import_the_installed_pyspark(spark):
    """Workers fork from ``tsengine.worker_daemon``, which drops Spark's
    pyspark.zip, py4j zip and jar from the path, so a task's
    ``importlib.invalidate_caches()`` has no archive left to re-read."""
    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    def probe(batches):
        import sys

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "kind": ["file"] + ["path"] * len(sys.path)
                + ["cache"] * len(sys.path_importer_cache),
                "value": [pyspark.__file__, *sys.path, *sys.path_importer_cache],
            }
        )

    rows = spark.range(0, 1, 1, 1).mapInPandas(probe, "kind string, value string").collect()
    seen = {"file": [], "path": [], "cache": []}
    for r in rows:
        seen[r.kind].append(r.value)
    assert seen["file"] == [pyspark.__file__]
    spark_home = os.path.realpath(_find_spark_home())
    assert seen["path"] and seen["cache"]
    assert not [p for p in seen["path"] + seen["cache"] if _spark_archive(p, spark_home)]
    assert spark.conf.get("spark.python.daemon.module") == "tsengine.worker_daemon"
