"""Tests of the perfbench harness itself.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

They start Spark and run the benchmark end to end at sf0.001, so they take
a few minutes; they are not part of the repository's ``tests/`` suite.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import probes  # noqa: E402
from perfbench.run import WORKLOADS, _data_root  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

TINY_SF = "sf0.001"


@pytest.fixture(scope="module")
def spark():
    from tsengine.session import get_spark

    return get_spark("perfbench-tests")


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__

    return __spark_entry__.queries()


@pytest.fixture(scope="module")
def tiny_sf():
    return os.path.join(_data_root(), TINY_SF)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_emits_every_metric_with_its_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload,
         "--seed", "0", "--seconds", "0", "--trace", str(trace), "--sf", TINY_SF],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), name

    artifact = os.path.join(
        ROOT, ".bench_build", "perfbench", f"{workload}-seed0-trace{trace}.json"
    )
    with open(artifact) as fh:
        rec = json.load(fh)
    assert rec["failed_frac"] == 0
    for p in rec["warm_passes"] + rec["passes"]:
        for key in ("cores", "loadavg_1m", "steal_frac", "codegen_compiles", "jit_ms"):
            assert key in p, key


def test_listener_records_progress_for_every_drain(spark, queries, tiny_sf):
    log = probes.ProgressLog()
    spark.streams.addListener(log)
    try:
        for name in WORKLOADS["stream_drains"].queries:
            queries[name](spark, tiny_sf)
            probes.drain_listener_bus(spark)
            assert log.take()["batches"] >= 1, name
    finally:
        spark.streams.removeListener(log)


def test_sql_store_finds_arrow_eval_python_metrics_on_fft_mag(spark, queries, tiny_sf):
    store = probes.SqlStore(spark)
    queries["fft_mag"](spark, tiny_sf).write.format("noop").mode("overwrite").save()
    probes.drain_listener_bus(spark)
    totals, nodes = store.python_metrics()
    assert any(n.startswith("ArrowEvalPython") for n in nodes), nodes
    assert totals["python_run_s"] > 0
    assert totals["python_bytes_sent"] > 0


def test_job_group_stages_counts_the_group_only(spark):
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-test-group", "test")
    try:
        spark.range(1000).repartition(3).selectExpr("sum(id)").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    probes.drain_listener_bus(spark)
    stages = probes.job_group_stages(spark, "perfbench-test-group")
    assert stages["jobs"] >= 1 and stages["stages"] >= 2
    assert stages["shuffle_write_bytes"] > 0
    assert probes.job_group_stages(spark, "no-such-group")["stages"] == 0


@pytest.mark.parametrize(
    "text, value",
    [
        ("529 ms", 0.529),
        ("1.6 s", 1.6),
        ("6.2 KiB", 6.2 * 1024),
        ("1,234 B", 1234.0),
        ("total (min, med, max (stageId: taskId))\n3.1 s (1.0 s, 1.0 s, 1.1 s (stage 3.0: task 5))", 3.1),
    ],
)
def test_parse_metric(text, value):
    assert probes.parse_metric(text) == pytest.approx(value)


def test_process_tree_sees_children():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        tree = probes.process_tree(os.getpid())
        assert os.getpid() in tree and child.pid in tree
    finally:
        child.kill()
        child.wait(timeout=10)
    assert probes.wait_gone([child.pid], timeout_s=5) == []
