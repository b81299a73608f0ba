#!/usr/bin/env python3
"""Closed-loop steady-state benchmark of tsengine's registered queries.

    python3 perfbench/run.py --workload cpc_kernels --seed 1 --seconds 12 --trace 0

One driver thread runs a workload's registered queries one after another on
``local[<cores>]``; every query is built through the driver contract
(``__spark_entry__.queries()``) and its action is a ``noop`` write.  A run:

1. starts the session and warms up with one cold pass at the workload's own
   scale factor, which collects every result to pandas for the check
   (``setup_s`` covers process start to the end of this pass);
2. runs ``timed_passes(seconds)`` timed passes, a fixed count that takes
   about ``--seconds`` at HEAD; ``--seed`` permutes the query order of
   every pass;
3. compares each cold-pass result with its DuckDB oracle
   (``tsengine.testing.compare``), outside the timed passes;
4. forces a GC, reads the retained heap and stops every process it started.

With ``--trace 1`` the harness also reads the per-layer probes in
``probes.py`` between queries.  The last stdout line is the JSON result;
the full record, with per-pass host and JVM figures, goes to
``.bench_build/perfbench/<workload>-seed<seed>-trace<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

T_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass(frozen=True)
class Workload:
    sf: str  # testdata scale-factor directory name
    queries: tuple[str, ...]
    #: about the pass wall time at HEAD on a 4-core host; sets how many
    #: passes fill ``--seconds``
    nominal_pass_s: float

    def timed_passes(self, seconds: float) -> int:
        """A fixed number of timed passes for a given ``--seconds``.  The
        count must not depend on how fast this run happens to be: pass times
        still fall from pass to pass as the JIT settles, so a run that fit in
        more passes would report a median from further down that curve."""
        return max(MIN_TIMED_PASSES, round(seconds / self.nominal_pass_s))


WORKLOADS = {
    # the paper's path: Arrow/Python kernels over windows re-derived from
    # events, pipelines that launch eager jobs while their plan is built.
    # Eight of the eleven cpc queries, so that a run fits the time budget in
    # BENCHMARK.md
    "cpc_kernels": Workload(
        "sf0.01",
        (
            "scan_examples", "channel_fuse", "conv1d_encode", "fft_mag",
            "gru_context", "pipeline_t_cpc_context", "pipeline_frozen_inference",
            "roc_auc",
        ),
        nominal_pass_s=4.0,
    ),
    # control for kernel-side changes: no Python exec node, lazy
    # plan-memoized plans, all work in scan, shuffle and AQE.  Not in
    # BENCHMARK.json (see BENCHMARK.md); run it by hand for an A/B
    "sql_analytics": Workload(
        "sf0.01",
        (
            "pricing_summary", "topk_per_group", "tfidf_topk", "funnel_events",
            "tumbling_window_agg", "asof_join", "gapfill_interpolate",
            "scd2_intervals", "cumulative_distinct_users", "zorder_layout",
            "heavy_hitters_cms", "dedup_minhash_lsh", "pipeline_corpus",
            "duplicate_spans", "perplexity_filter", "unsup_sup_join",
        ),
        nominal_pass_s=7.5,
    ),
    # AvailableNow drains: fixed cost per micro-batch, state-store commits,
    # WAL and offsets; the plan memo is never hit.  Four of the twelve
    # stream_* drains, one per state mechanism (window and session
    # aggregation, watermark dedup, applyInPandasWithState), so that a run
    # fits the time budget in BENCHMARK.md
    "stream_drains": Workload(
        "sf0.001",
        ("stream_tumbling", "stream_session", "stream_dedup", "stream_cusum"),
        nominal_pass_s=4.0,
    ),
}

MIN_TIMED_PASSES = 2

#: engine scratch locations, all pointed inside the run's work directory
_ENGINE_DIRS = (
    "TSENGINE_WAREHOUSE", "TSENGINE_MERGE_DIR", "TSENGINE_COMPACT_DIR",
    "TSENGINE_CSV_DIR", "TSENGINE_JSON_DIR", "TSENGINE_ORC_DIR",
    "TSENGINE_XML_DIR", "TSENGINE_BUCKET_DIR", "TSENGINE_KNN_DIR",
)


def _parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", help="scale-factor directory overriding the workload's own "
        "(quick checks only; the benchmark's figures use the default)",
    )
    return ap.parse_args(argv)


def _data_root() -> str:
    """The fixed, read-only testdata the repository's oracle tests use."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "_tsengine_test_conf", os.path.join(ROOT, "tests", "conftest.py")
    )
    conf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(conf)
    return os.path.dirname(conf.SF_DIR_ORACLE)


def _isolate(work: str, cores: int) -> None:
    """Point every scratch location of Spark, the JVM, DuckDB, Python and
    the engine into ``work``.  Must run before pyspark is imported."""
    os.makedirs(work, exist_ok=True)
    os.environ.update({d: os.path.join(work, d.lower()) for d in _ENGINE_DIRS})
    os.environ.update(
        TMPDIR=work,
        SPARK_LOCAL_DIRS=work,
        SPARK_GRAFT_CPUS=str(cores),
        TSENGINE_EXTRA_CONF=json.dumps(
            {
                "spark.driver.extraJavaOptions": (
                    f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={work}"
                )
            }
        ),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)


def _quantile(values: list[float], q: int) -> float:
    """q-th percentile, inclusive method (defined for any sample size)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _median_of(passes: list[dict], key: str) -> float:
    return statistics.median(p[key] for p in passes)


class _Collected:
    """A result already collected to pandas, in the shape
    ``tsengine.testing.compare`` reads (it only calls ``toPandas``)."""

    def __init__(self, frame):
        self._frame = frame

    def toPandas(self):
        return self._frame


class Runner:
    """One benchmark run: a session, its warm-up, the timed passes and the
    output check."""

    def __init__(self, args: argparse.Namespace, sf_dir: str):
        from pyspark.sql import SparkSession

        import __spark_entry__ as entry
        from tsengine import registry
        from tsengine.session import get_spark

        from perfbench import probes

        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.sf_dir = sf_dir
        self.trace = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.probes = probes
        self.registry = registry
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "sf": os.path.basename(sf_dir)}

        t0 = time.perf_counter()
        self.spark: SparkSession = get_spark(f"perfbench-{args.workload}")
        self.record["get_spark_s"] = time.perf_counter() - t0
        queries = entry.queries()
        self.fns = {n: queries[n] for n in self.workload.queries}
        self.oracles = entry.oracle_sql()
        self.jvm = probes.Jvm(self.spark)
        if self.trace:
            self.sql_store = probes.SqlStore(self.spark)
            self.listener = probes.ProgressLog()
            self.spark.streams.addListener(self.listener)
        self.attempted = 0
        self.failures: list[str] = []

    # -- one query -------------------------------------------------------

    def _run_query(self, tag: str, name: str, collect: bool, stats: dict):
        """Build one query and run its action: a noop write, or a collect to
        pandas on the cold pass.  Returns the collected frame, if any."""
        sc = self.spark.sparkContext
        before = self.probes.session_state(self.spark) if self.trace else None
        self.attempted += 1
        frame = None
        try:
            sc.setJobGroup(f"{tag}/build/{name}", name)
            t0 = time.perf_counter()
            df = self.fns[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{tag}/action/{name}", name)
            if collect:
                frame = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as exc:  # a failing query is counted, the run goes on
            self.failures.append(f"{tag} {name}: {type(exc).__name__}: {exc}"[:500])
            return None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        stats["latencies"].append(t2 - t0)
        stats["queries"][name] = (t1 - t0, t2 - t1)
        stats["build_s"] += t1 - t0
        stats["action_s"] += t2 - t1
        if name.startswith("stream_"):
            stats["drain_s"] += t1 - t0
            stats["readback_s"] += t2 - t1
        if self.trace:
            self._trace_query(tag, name, before, stats)
        return frame

    def _trace_query(self, tag: str, name: str, before: dict, stats: dict) -> None:
        p = self.probes
        p.drain_listener_bus(self.spark)
        after = p.session_state(self.spark)
        stats["conf_drift"] += after["shuffle_partitions"] != before["shuffle_partitions"]
        for key in ("persisted_rdds", "active_streams", "sink_tables"):
            stats[key] += after[key] - before[key]
        build = p.job_group_stages(self.spark, f"{tag}/build/{name}")
        action = p.job_group_stages(self.spark, f"{tag}/action/{name}")
        stats["eager_jobs"] += build["jobs"]
        for key in p.STAGE_KEYS:
            stats[key] += build[key] + action[key]

    # -- one pass ----------------------------------------------------------

    def run_pass(self, tag: str, collect: bool = False) -> tuple[dict, dict]:
        """All of the workload's queries once, in the seed's order.  Returns
        the pass figures and, when ``collect``, each query's pandas result."""
        order = list(self.workload.queries)
        self.rng.shuffle(order)
        stats: dict = {"latencies": [], "queries": {}, "build_s": 0.0,
                       "action_s": 0.0, "drain_s": 0.0, "readback_s": 0.0,
                       "conf_drift": 0, "persisted_rdds": 0.0,
                       "active_streams": 0.0, "sink_tables": 0.0, "eager_jobs": 0}
        stats.update(dict.fromkeys(self.probes.STAGE_KEYS, 0.0))
        ticks = self.probes.host_cpu_ticks()
        jvm0 = self.jvm.counters()
        memo0 = self.registry.PLAN_MEMO_HITS
        cpu0 = self.probes.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        frames = {name: self._run_query(tag, name, collect, stats) for name in order}
        stats["pass_s"] = time.perf_counter() - t0
        stats["cpu_s"] = self.probes.tree_cpu_s(os.getpid()) - cpu0
        stats["plan_memo_hits"] = self.registry.PLAN_MEMO_HITS - memo0
        jvm1 = self.jvm.counters()
        stats.update({k: jvm1[k] - jvm0[k] for k in jvm1})
        stats.update(self.probes.host_sample(ticks))
        stats["order"] = order
        if self.trace:
            python, nodes = self.sql_store.python_metrics()
            stats.update(python, python_nodes=sorted(nodes))
            stats.update(self.listener.take())
            stats.update(self._time_sources())
        return stats, frames

    def _time_sources(self) -> dict[str, float]:
        """Source layer timed directly: the wide window table every
        cpc query re-derives, and the events scan under it."""
        from tsengine.sources.tables import load_table
        from tsengine.sources.wearable import wearable_wide

        out = {}
        for key, build in (
            ("wearable_wide_s", lambda: wearable_wide(self.spark, self.sf_dir)),
            ("load_table_s", lambda: load_table(self.spark, self.sf_dir, "events")),
        ):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            out[key] = time.perf_counter() - t0
        return out

    # -- the run -----------------------------------------------------------

    def run(self) -> dict:
        """Warm up with a cold pass that collects every result, then time
        passes for ``--seconds``, then compare the collected results with
        the oracles."""
        t0 = time.perf_counter()
        cold, frames = self.run_pass("cold", collect=True)
        self.record["warmup_s"] = time.perf_counter() - t0
        self.record["setup_s"] = time.perf_counter() - T_START

        t0 = time.perf_counter()
        passes = [
            self.run_pass(f"pass{i}")[0]
            for i in range(self.workload.timed_passes(self.args.seconds))
        ]
        self.record["timed_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        mismatches = self.check(frames)
        self.record["check_s"] = time.perf_counter() - t0
        self.record["retained_heap_mb"] = self.jvm.retained_heap_mb()
        self.record["warm_passes"] = [_pass_summary(cold)]
        self.record["passes"] = [_pass_summary(p) for p in passes]
        self.record["mismatches"] = mismatches
        self.record["failures"] = self.failures
        return self._metrics(passes)

    def check(self, frames: dict) -> list[str]:
        """Compare each query's cold-pass result with its DuckDB oracle."""
        import duckdb

        from tsengine.testing import TABLE_NAMES, compare

        con = duckdb.connect()
        mismatches = []
        try:
            spill = os.path.join(os.environ["TMPDIR"], "duckdb")
            con.execute(f"SET temp_directory = '{spill}'")
            for t in TABLE_NAMES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                if os.path.exists(path):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name in self.workload.queries:
                self.attempted += 1
                if frames[name] is None:
                    mismatches.append(f"{name}: no result")
                    continue
                try:
                    res = compare(name, _Collected(frames[name]), self.oracles[name], con)
                except Exception as exc:
                    mismatches.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
                    continue
                if not res.ok:
                    mismatches.append(str(res)[:500])
        finally:
            con.close()
        return mismatches

    def _metrics(self, passes: list[dict]) -> dict[str, float]:
        lat = [x for p in passes for x in p["latencies"]]
        rec = self.record
        rec["failed"] = len(self.failures) + len(rec["mismatches"])
        rec["attempted"] = self.attempted
        rec["failed_frac"] = rec["failed"] / self.attempted
        end_to_end = {
            "setup_s": rec["setup_s"],
            "pass_s": _median_of(passes, "pass_s"),
            "query_p50_s": statistics.median(lat) if lat else 0.0,
            "query_p90_s": _quantile(lat, 90) if lat else 0.0,
            "cpu_s": _median_of(passes, "cpu_s"),
            "retained_heap_mb": rec["retained_heap_mb"],
        }
        rec["end_to_end"] = end_to_end
        if not self.trace:
            return end_to_end
        layer = {
            "session.get_spark_s": rec["get_spark_s"],
            "session.warmup_s": rec["warmup_s"],
            "trace.pass_s": end_to_end["pass_s"],
        }
        per_pass = {
            "session.conf_drift": "conf_drift",
            "session.persisted_rdds": "persisted_rdds",
            "registry.build_s": "build_s",
            "registry.plan_memo_hits": "plan_memo_hits",
            "registry.eager_jobs": "eager_jobs",
            "sources.wearable_wide_s": "wearable_wide_s",
            "sources.load_table_s": "load_table_s",
            "sources.input_rows": "input_rows",
            "sources.input_bytes": "input_bytes",
            "operators.action_s": "action_s",
            "streaming.drain_s": "drain_s",
            "streaming.readback_s": "readback_s",
            "streaming.sink_tables": "sink_tables",
            "streaming.active_streams": "active_streams",
            "jvm.codegen_compiles": "codegen_compiles",
            "jvm.jit_ms": "jit_ms",
            "jvm.gc_ms": "gc_ms",
            "host.cores": "cores",
            "host.loadavg_1m": "loadavg_1m",
            "host.steal_frac": "steal_frac",
        }
        per_pass.update({f"operators.{k}": k for k in self.probes.STAGE_KEYS
                         if k not in ("input_rows", "input_bytes", "jobs")})
        per_pass.update({f"operators.{k}": k for k in self.probes.PYTHON_METRICS.values()})
        per_pass.update({f"streaming.{k}": k for k in self.probes.STREAM_KEYS})
        layer.update({name: _median_of(passes, key) for name, key in per_pass.items()})
        layer["streaming.drain_gap_s"] = statistics.median(
            p["drain_s"] - p["trigger_ms"] / 1e3 for p in passes
        )
        return layer

    def close(self) -> None:
        """Stop Spark, the JVM and the Python workers, and wait for each."""
        from pyspark import SparkContext

        tree = [p for p in self.probes.process_tree(os.getpid()) if p != os.getpid()]
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
        killed = self.probes.wait_gone(tree, timeout_s=30)
        if killed:
            print(f"perfbench: killed lingering processes {killed}", file=sys.stderr)


def _pass_summary(p: dict) -> dict:
    """Per-pass artifact row: everything except the raw latency list."""
    return {k: v for k, v in p.items() if k != "latencies"}


def main(argv: list[str]) -> int:
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: no tsengine checkout at {ROOT}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    cores = len(os.sched_getaffinity(0))
    _isolate(work, cores)
    sf_dir = os.path.join(_data_root(), args.sf or WORKLOADS[args.workload].sf)
    runner = None
    try:
        runner = Runner(args, sf_dir)
        metrics = runner.run()
    finally:
        if runner is not None:
            runner.close()
        shutil.rmtree(work, ignore_errors=True)
    rec = runner.record
    artifact = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(artifact, "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    units = _units()
    result = {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    for line in rec["failures"] + rec["mismatches"]:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    print(json.dumps(result))
    return 0


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
