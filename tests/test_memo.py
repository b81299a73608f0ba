"""The session-scoped plan memo (tsengine/sources/memo.py).

The memo reuses the *analyzed lazy plan* per (session, realpath(sf_dir),
key) — never data.  These tests pin what makes it safe:

1. isolation — executing one caller's DataFrame must not finalize the
   AQE plan another caller observes (each hit is a fresh QueryExecution
   over the shared analyzed child);
2. key discipline — different sf dirs and different sessions never
   alias, and two spellings of one dir share its entries;
3. value identity — a hit computes exactly what a cold build does;
4. purity — every registry query memoized as a plan builds without
   running a Spark job;
5. eviction — ``invalidate(sf_dir)`` drops every key kind for that
   dir, and only that dir.
"""

from __future__ import annotations

import os
import re

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"

KINDS = ("table", "long", "wide", "plan")


def _n_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"Exchange (?:hash|range)partitioning", plan))


def test_memo_hit_has_fresh_query_execution(spark):
    from tsengine.sources.wearable import wearable_long

    first = wearable_long(spark, SF_A)
    first.collect()  # finalizes FIRST's AQE plan in place
    again = wearable_long(spark, SF_A)
    assert again is not first
    # the hit's plan is un-executed: no Final+Initial double rendering,
    # so the single-shuffle contract still reads 1 (not 2)
    assert "isFinalPlan=true" not in (
        again._jdf.queryExecution().executedPlan().toString()
    )
    assert _n_exchanges(again) == 1


def test_memo_keys_do_not_alias_sf_dirs(spark):
    from tsengine.sources.tables import load_table

    a = load_table(spark, SF_A, "events")
    b = load_table(spark, SF_B, "events")
    assert a.count() != b.count()  # 1000 vs 10000 rows


def test_memo_keys_by_session_and_realpath(spark):
    """Two spellings of one dir share an entry; a child session gets
    frames bound to itself, never its parent's, which Spark would plan
    under the parent's SQL conf."""
    from tsengine.session import scoped_session
    from tsengine.sources import memo
    from tsengine.sources.tables import load_table

    load_table(spark, SF_A, "events")
    n = len(memo._STORE)
    assert load_table(spark, SF_A + "/", "events").sparkSession is spark
    assert len(memo._STORE) == n
    child = scoped_session(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"})
    assert load_table(child, SF_A, "events").sparkSession is child


def test_plan_pure_queries_run_zero_jobs_at_build(spark):
    """The gaming guard for the registry plan memo: every query flagged
    _PLAN_PURE must build its DataFrame without running a single Spark
    job (warm build — the first build may trigger one-off parquet
    footer reads).  A collect()/localCheckpoint/fit sneaking into a
    flagged fn would hoist real work out of the measured path; this
    test makes that a loud failure instead."""
    from tsengine import registry
    from tsengine.registry import all_queries
    from tsengine.sources import memo

    qs = all_queries()
    sc = spark.sparkContext
    for name in sorted(registry._PLAN_PURE):
        qs[name].fn(spark, SF_A)  # warm: table memo + footer reads
    # probe the real fn, not a plan-memo hit
    for k in [k for k in list(memo._STORE) if k[2][0] == "plan"]:
        del memo._STORE[k]
    offenders = {}
    try:
        for name in sorted(registry._PLAN_PURE):
            grp = f"purity-pin-{name}"
            sc.setJobGroup(grp, name)
            qs[name].fn(spark, SF_A)
            jobs = sc.statusTracker().getJobIdsForGroup(grp)
            if jobs:
                offenders[name] = len(jobs)
    finally:
        # drop the thread-local group so later tests' jobs aren't tagged
        # into the last probe group (ADVICE r13)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not offenders, f"plan_pure queries ran jobs at build: {offenders}"


def test_registry_memo_hit_is_isolated_and_identical(spark):
    from tsengine.registry import all_queries

    q = all_queries()["tumbling_window_agg"]
    first = q.fn(spark, SF_A)
    rows_first = first.collect()  # finalizes FIRST's AQE plan
    again = q.fn(spark, SF_A)
    assert again is not first
    assert "isFinalPlan=true" not in (
        again._jdf.queryExecution().executedPlan().toString()
    )
    assert again.collect() == rows_first


def test_memo_hit_value_identity(spark):
    from tsengine.sources import memo
    from tsengine.sources.wearable import wearable_long

    hit = wearable_long(spark, SF_A).orderBy("window_id", "t").collect()
    # drop every memo entry -> force a cold rebuild of the whole plan
    memo._STORE.clear()
    cold = wearable_long(spark, SF_A).orderBy("window_id", "t").collect()
    assert hit == cold


def test_invalidate_evicts_all_memo_layers(spark):
    """tables.invalidate(sf_dir) is the REFRESH-equivalent: it must
    evict every key kind — relation, both wearable derivations and the
    registry plans — for that sf_dir, and only that sf_dir."""
    from tsengine.registry import all_queries
    from tsengine.sources import memo, tables, wearable

    qs = all_queries()
    # populate every key kind for both dirs
    for sf in (SF_A, SF_B):
        tables.load_table(spark, sf, "events")
        wearable.wearable_long(spark, sf)
        wearable.wearable_wide(spark, sf)
        qs["tumbling_window_agg"].fn(spark, sf)
    rp_a, rp_b = os.path.realpath(SF_A), os.path.realpath(SF_B)

    def kinds(rp: str) -> set[str]:
        return {k[2][0] for k in memo._STORE if k[1] == rp}

    assert kinds(rp_a) == set(KINDS)

    tables.invalidate(SF_A)

    assert not kinds(rp_a), "stale sf_dir entry survived"
    assert kinds(rp_b) == set(KINDS), "unrelated sf_dir was evicted"
    # and the next call transparently rebuilds
    assert qs["tumbling_window_agg"].fn(spark, SF_A) is not None
