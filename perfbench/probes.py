"""Outside-in probes for the perfbench harness.

Every reading here comes from state the engine already exposes: ``/proc``,
the driver JVM's management beans, Spark's status stores and its listener
bus.  Nothing in ``tsengine`` is patched or wrapped; the harness only times
calls into public functions and reads these sources between them.
"""

from __future__ import annotations

import os
import re
import signal
import time
from collections import defaultdict

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# host and process tree (/proc)


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        data = fh.read()
    # the command name may hold spaces and parentheses: split after the last ')'
    return data[data.rindex(")") + 2 :].split()


def process_tree(root: int) -> dict[int, float]:
    """CPU seconds (user + system, including reaped children) of ``root``
    and every live descendant, keyed by pid.

    Covers the Python driver, the JVM it launched and the Python daemon and
    workers the JVM forks.  A worker that exits is counted through its
    parent's reaped-children time, so the sum only grows."""
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            f = _stat_fields(int(entry))
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited between listdir and open
        parent[int(entry)] = int(f[1])
        cpu[int(entry)] = sum(int(x) for x in f[11:15]) / _CLK_TCK
    children: dict[int, list[int]] = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in cpu:
            tree[pid] = cpu[pid]
            todo.extend(children[pid])
    return tree


def tree_cpu_s(root: int) -> float:
    return sum(process_tree(root).values())


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait for ``pids`` to exit; SIGKILL any still alive at the deadline.
    Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return alive


def host_cpu_ticks() -> list[int]:
    """Aggregate ``cpu`` line of /proc/stat: user nice system idle iowait
    irq softirq steal ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    # guest time is already included in user time, so it is not added twice
    delta = [b - a for a, b in zip(before[:8], after[:8])]
    total = sum(delta)
    return delta[7] / total if total else 0.0


def host_sample(ticks_before: list[int]) -> dict[str, float]:
    return {
        "cores": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "steal_frac": steal_frac(ticks_before, host_cpu_ticks()),
    }


# --------------------------------------------------------------------------
# driver JVM


def _seq(spark: SparkSession, scala_seq) -> list:
    return list(spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


class Jvm:
    """Counters of the driver JVM (which is also the only executor under
    ``local[n]``): Janino compiles, HotSpot JIT time and GC time."""

    def __init__(self, spark: SparkSession):
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._memory = mf.getMemoryMXBean()
        self._system = jvm.java.lang.System

    def counters(self) -> dict[str, float]:
        return {
            "codegen_compiles": self._codegen.getCount(),
            "jit_ms": self._jit.getTotalCompilationTime(),
            "gc_ms": sum(b.getCollectionTime() for b in self._gcs),
        }

    def retained_heap_mb(self) -> float:
        """Heap in use after forced full collections.  The first collection
        after a run can leave a few hundred MB that only the next one frees
        (objects reachable from finalizers and reference queues), so collect
        until two readings agree within 1 MB."""
        used = None
        for _ in range(5):
            self._system.gc()
            self._system.runFinalization()
            last, used = used, self._memory.getHeapMemoryUsage().getUsed() / 2**20
            if last is not None and abs(last - used) < 1.0:
                break
            time.sleep(0.5)  # let the reference handler threads run
        return used


def drain_listener_bus(spark: SparkSession) -> None:
    """Block until Spark's listener bus has delivered every queued event, so
    the status stores and the stream listener reflect all finished work."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


# --------------------------------------------------------------------------
# per-stage figures from the core status store

STAGE_KEYS = (
    "stages",
    "tasks",
    "single_task_stages",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "failed_tasks",
    "input_rows",
    "input_bytes",
    "jobs",
)


def job_group_stages(spark: SparkSession, group: str) -> dict[str, float]:
    """Totals over the stages run by the jobs of one job group.  Stages
    skipped because their shuffle output was reused are not counted."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_KEYS, 0.0)
    job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
    out["jobs"] = len(job_ids)
    for job_id in job_ids:
        for stage_id in _seq(spark, store.job(job_id).stageIds()):
            sd = store.lastStageAttempt(stage_id)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["single_task_stages"] += sd.numTasks() == 1
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["failed_tasks"] += sd.numFailedTasks()
            out["input_rows"] += sd.inputRecords()
            out["input_bytes"] += sd.inputBytes()
    return out


# --------------------------------------------------------------------------
# Python-node metrics from the SQL status store

#: SQL metric name on the Python exec nodes (ArrowEvalPython, MapInPandas,
#: FlatMapGroupsInPandas, ...) -> harness key
PYTHON_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_sent",
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``'529 ms'``, ``'6.2 KiB'``, or the
    multi-task form ``'total (min, med, max ...)\\n1.6 s (0.4 s, ...)'``,
    whose first figure on the last line is the total.  Times come back in
    seconds, sizes in bytes."""
    m = _VALUE.search(text.strip().splitlines()[-1])
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


_PY_METRIC = re.compile(
    r"SQLPlanMetric\((" + "|".join(map(re.escape, PYTHON_METRICS)) + r"),(\d+),"
)
_PY_NODE = re.compile(r"\b([A-Z]\w*(?:Python|InPandas|InArrow)\w*)\b")


class SqlStore:
    """Walks SQL executions as they finish.  Reads
    ``sharedState().statusStore()``, which keeps the executions that noop
    writes run; ``df._jdf.queryExecution()`` is not the execution a
    ``write`` ran and reads as zeros.

    Each execution's metric list is read as one string and searched in
    Python: one py4j call per metric would cost seconds per pass."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self._store.executionsCount()

    def python_metrics(self) -> tuple[dict[str, float], set[str]]:
        """Python-worker totals over the executions recorded since the
        previous call, and the names of the plan nodes that carried them
        (``ArrowEvalPython``, ``MapInPandas``, ...)."""
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        nodes: set[str] = set()
        count = self._store.executionsCount()
        new = (
            _seq(self._spark, self._store.executionsList(self._seen, count - self._seen))
            if count > self._seen
            else []
        )
        for e in new:
            found = _PY_METRIC.findall(e.metrics().toString())
            if not found:
                continue
            values = self._store.executionMetrics(e.executionId())
            for name, acc_id in found:
                text = values.get(int(acc_id))
                if not text.isEmpty():
                    out[PYTHON_METRICS[name]] += parse_metric(text.get())
            nodes.update(_PY_NODE.findall(e.physicalPlanDescription()))
        self._seen = count
        return out, nodes


# --------------------------------------------------------------------------
# streaming progress

STREAM_KEYS = (
    "batches",
    "trigger_ms",
    "add_batch_ms",
    "query_planning_ms",
    "wal_commit_ms",
    "commit_offsets_ms",
    "state_commit_ms",
    "state_rows",
)

_DURATIONS = {
    "triggerExecution": "trigger_ms",
    "addBatch": "add_batch_ms",
    "queryPlanning": "query_planning_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
}


class ProgressLog(StreamingQueryListener):
    """Collects every micro-batch progress event, keyed by query name.
    Events arrive on the listener bus after the fact; call
    :func:`drain_listener_bus` before reading."""

    def __init__(self):
        self.progress: dict[str, list[dict[str, float]]] = defaultdict(list)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        row = {key: float(p.durationMs.get(src, 0)) for src, key in _DURATIONS.items()}
        row["state_commit_ms"] = float(sum(s.commitTimeMs for s in p.stateOperators))
        row["state_rows"] = float(sum(s.numRowsTotal for s in p.stateOperators))
        self.progress[p.name].append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> dict[str, float]:
        """Totals over the queries seen since the previous call; the state
        row count is each query's last batch (rows held at the end)."""
        out = dict.fromkeys(STREAM_KEYS, 0.0)
        for rows in self.progress.values():
            out["batches"] += len(rows)
            for row in rows:
                for key in _DURATIONS.values():
                    out[key] += row[key]
                out["state_commit_ms"] += row["state_commit_ms"]
            if rows:
                out["state_rows"] += rows[-1]["state_rows"]
        self.progress.clear()
        return out


# --------------------------------------------------------------------------
# session state a query must restore


def session_state(spark: SparkSession) -> dict[str, float]:
    """Shared state a query may leave behind: the global shuffle-partition
    conf, persisted RDDs, running streams and catalog tables (memory sinks
    register one each)."""
    return {
        "shuffle_partitions": float(spark.conf.get("spark.sql.shuffle.partitions")),
        "persisted_rdds": float(spark.sparkContext._jsc.getPersistentRDDs().size()),
        "active_streams": float(len(spark.streams.active)),
        "sink_tables": float(len(spark.catalog.listTables())),
    }
