"""Session-level performance contract: steady plans reuse their generated code.

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
