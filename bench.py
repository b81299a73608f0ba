#!/usr/bin/env python
"""Headline benchmark — one JSON line for the driver's BENCH_r{N}.json.

Runs a representative slice of the engine at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``:
one query per workload family, weighted toward the scale-critical
paths (grouped-map GRU, contrastive self-join, MinHash LSH, event-time
windows).  Each query is timed end-to-end (plan + execute + count);
the headline metric is total wall seconds across the suite.

Timing-boundary note (r13+): queries flagged plan-pure in the registry
serve REPEAT builds from a plan memo (analyzed lazy plan only — every
action still computes from parquet), so 'steady' passes measure
memoized-plan + execute + count rather than rebuilding the plan from
scratch; the cold pass builds every plan.  The artifact records the
memo hit count per run (``plan_memo_hits``) so this boundary is
auditable round-over-round.

The slow verifier-only paths (all-pairs ``dedup_embedding``) are
deliberately excluded — their scale twins (``ann_lsh``,
``dedup_minhash_lsh``) are what production would run (SURVEY.md §7).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# one per workload family, scale path only
HEADLINE = [
    "scan_examples",          # scan + window derivation (source layer)
    "channel_fuse",           # projection-shaped per-timestep transform
    "conv1d_encode",          # windowed dot product (lag/lead frame)
    "fft_mag",                # Arrow pandas_udf kernel
    "gru_context",            # batched recurrence kernel (mapInPandas)
    "nce_loss",               # batch-scoped contrastive self-join
    "classification_report",  # grouped multi-agg
    "roc_auc",                # rank-sum window agg
    "unsup_sup_join",         # broadcast equi-join over result tables
    "dedup_minhash_lsh",      # shingle -> minhash -> band bucket-join
    "ann_lsh",                # LSH-bucketed cosine ANN
    "lang_id",                # text analysis over documents
    "tfidf_topk",             # corpus mining: explode + 2 aggs + term join + top-k
    "pipeline_corpus",        # composed corpus DAG: filter->dedup->decontam->sample
    "tumbling_window_agg",    # event-time window agg
    "asof_join",              # union + last(ignoreNulls) as-of join
    "pricing_summary",        # TPC-H Q1-shaped pushdown/partial-agg showcase
    "topk_per_group",         # broadcast join + rank top-k
    "group_quantiles",        # histogram-refinement exact quantiles
    "gapfill_interpolate",    # lead()-span explode over observed buckets
    # round-4 family representatives
    "funnel_events",          # ordered conversion funnel (user-partitioned windows)
    "heavy_hitters_cms",      # Count-Min sketch build + broadcast estimate join
    "duplicate_spans",        # cross-doc substring-dedup profile (60-bit span hash)
    "perplexity_filter",      # bigram-LM quality gate (map-side grams + LM join)
    "textrank_keywords",      # iterative graph PageRank on DataFrame joins
    # round-5 family representatives
    "scd2_intervals",         # change-driven gaps-and-islands (SCD2 builder)
    "cumulative_distinct_users",  # exact cumulative reach via first-seen identity
    "zorder_layout",          # Morton-code layout planner (bit-interleave + agg)
]
# bloom_pruned_join / dpp_pruned_scan / bucketed_join_agg are NOT in the
# headline: they bind eagerly at plan-build time (scoped-conf checkpoint /
# partitioned or bucketed at-rest copy),
# so a timed re-execution measures checkpoint read-back, not the plan —
# their scale behavior is tracked in SCALING_TAIL.md instead.
# pipeline_nce_eval (the composed InfoNCE eval) is intentionally NOT in
# the headline: its cost is the semantic bs^2 pair block, which would
# dominate the suite total without adding plan-shape signal — it is
# still oracle-checked every round like all registry queries.


def main() -> int:
    # ambient host load, sampled BEFORE Spark starts: once the warm-ups
    # run, local[32] itself drives the 1-minute average to ~3+, so a
    # later sample measures the bench, not the host
    load_ambient = os.getloadavg()[0]
    if load_ambient > 2:
        # make a contaminated run loud in the driver's captured stderr
        # tail (r8/r12/r13 incidents: uniform +10-30% shifts from host
        # load needed manual forensics each time) — the run proceeds,
        # but its numbers should be treated as suspect
        print(
            f"bench: WARNING ambient 1m loadavg {load_ambient:.2f} > 2 "
            "before Spark start — timings are load-contaminated, treat "
            "as suspect (see protocol note in bench.py)",
            file=sys.stderr,
        )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from tsengine.registry import all_queries
    from tsengine.session import get_spark

    spark = get_spark("tsengine-bench")
    qs = all_queries()

    warm_up(spark, sf_dir)

    # NOTE on the wide-at-rest layout: production would materialize_wide
    # once and feed read_wide to the kernels, so every per-window kernel
    # is a zero-exchange scan (plan-contract-tested).  The bench deliberately
    # measures the full derive-from-events path per query — at sf0.1 the
    # one-time ETL write costs exactly what it saves, and hiding it
    # outside the timings would overstate the suite.
    # Measurement protocol (r8 verdict item 1 — BENCH_r08 drifted +11-13%
    # uniformly vs r7 with zero headline-query code changes, the signature
    # of a loaded host; this protocol makes host load visible in the
    # artifact and robust against it):
    #   cold   — first execution (scans, shuffles, codegen on sf data all
    #            cold); matches the r1-r4 "value" semantics.
    #   steady — per-query MINIMUM over STEADY_REPEATS immediate
    #            re-executions (OS page cache warm, codegen cached).  The
    #            minimum is the standard noise-robust estimator for a
    #            deterministic workload: transient host load only ever
    #            ADDS time, so min-of-3 recovers the true cost unless the
    #            host is loaded for the entire bench — which the recorded
    #            AMBIENT 1-minute load average (sampled at process start,
    #            before Spark itself drives the average up) then exposes
    #            directly.  STEADY is the number to track
    #            round-over-round; treat a run with ambient load > ~2 as
    #            suspect.
    STEADY_REPEATS = 3

    def run_suite() -> dict[str, float]:
        t: dict[str, float] = {}
        for name in HEADLINE:
            fn = qs[name].fn
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            t[name] = round(time.perf_counter() - t0, 3)
        return t

    from tsengine import registry as _registry

    # Janino compiles per steady pass, for the detail artifact only: ~0
    # while session.py's codegen class cache holds the suite's generated
    # classes, so a later overflow of that cache shows up in the record
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    memo_hits_start = _registry.PLAN_MEMO_HITS
    timings = run_suite()
    steady_passes, steady_compiles = [], []
    for _ in range(STEADY_REPEATS):
        compiles_start = codegen.getCount()
        steady_passes.append(run_suite())
        steady_compiles.append(codegen.getCount() - compiles_start)
    timings_steady = {
        name: min(p[name] for p in steady_passes) for name in HEADLINE
    }

    total = round(sum(timings.values()), 3)
    total_steady = round(sum(timings_steady.values()), 3)
    summary = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "cold": total,
        "steady": total_steady,
        "queries": timings,
        "queries_steady": timings_steady,
        "steady_repeats": STEADY_REPEATS,
        "loadavg_1m_ambient": round(load_ambient, 2),
        # registry plan-memo builds served during the timed passes
        # (ADVICE r13: makes the memoized-plan steady semantics auditable)
        "plan_memo_hits": _registry.PLAN_MEMO_HITS - memo_hits_start,
        "sf": os.path.basename(sf_dir.rstrip("/")),
    }
    extra_conf = os.environ.get("TSENGINE_EXTRA_CONF")
    if extra_conf:
        # measured-config auditability (ADVICE r13): never silently bench
        # under undisclosed extra confs
        summary["extra_conf"] = extra_conf
    # Record-format contract (r9 verdict item 1): the driver captures a
    # bounded TAIL of stdout and json-parses the last line, so the
    # summary must stay compact and must be printed LAST.  The r9 run
    # put the three full per-pass dicts inline and the line outgrew the
    # capture window -> BENCH_r09.json was `parsed: null`.  The per-pass
    # detail now goes to a side artifact instead (committed per round as
    # BENCH_DETAIL_r{N}.json); stdout carries only the compact summary.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(
                {
                    **summary,
                    "queries_steady_passes": steady_passes,
                    "codegen_compiles_steady_passes": steady_compiles,
                    # the installed pyspark unless tsengine.worker_daemon
                    # fell back to Spark's pyspark.zip
                    "python_worker_pyspark": worker_pyspark(spark),
                },
                fh,
                indent=1,
            )
        print(f"per-pass detail -> {detail_path}", file=sys.stderr)
    except OSError as exc:  # a read-only checkout must not kill the bench
        print(f"bench detail not written ({exc})", file=sys.stderr)
    print(json.dumps(summary))
    return 0


def worker_pyspark(spark) -> str:
    """``pyspark.__file__`` as a Python worker of ``spark`` imports it."""
    return (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: __import__("pyspark").__file__)
        .first()
    )


def warm_up(spark, sf_dir: str) -> None:
    """Warm the JVM/codegen/parquet-reader paths and the Python worker
    pool once so per-query timings measure the queries, not session
    startup (standard bench hygiene; no headline query is pre-run)."""
    from pyspark.sql.functions import pandas_udf

    from tsengine.registry import all_queries

    spark.range(10**6).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # one concurrent Arrow task per core so the whole daemon-forked
    # worker pool exists before the first timed kernel (a single small
    # job only forks a couple of workers; the first 32-partition
    # mapInPandas stage then pays ~1-2s of fork+import inside a timing)
    ncores = spark.sparkContext.defaultParallelism

    def _warm_fn(s):
        import numpy as np  # preload the kernel imports in every pooled worker

        return s + int(np.int64(1))

    _warm = pandas_udf(_warm_fn, "long")
    spark.range(10**5).repartition(ncores).select(_warm("id")).count()

    # Engine warm-up at the SMALLEST scale factor: running every headline
    # query shape once at sf0.001 compiles the generated-code classes
    # (Janino caches by code identity, so the sf0.1 plans reuse them),
    # JIT-warms the agg/window/Arrow paths and spins the kernel workers —
    # WITHOUT touching the benchmarked sf0.1 data, whose scans, shuffles
    # and kernels are still executed cold in the timed passes.  This is
    # engine warm-up, not result caching: timings measure sf0.1
    # execution, not JVM compilation noise.
    qs = all_queries()
    warm_sf = "/root/testdata/sf0.001"
    if os.path.isdir(warm_sf) and os.path.realpath(warm_sf) != os.path.realpath(sf_dir):
        for name in HEADLINE:
            try:
                qs[name].fn(spark, warm_sf).count()
            except Exception:
                pass


if __name__ == "__main__":
    raise SystemExit(main())
