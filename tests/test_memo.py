"""The session-scoped plan memo (tsengine/sources/memo.py).

The memo reuses the *analyzed lazy plan* per (session, realpath(sf_dir),
key) — never data.  These tests pin what makes it safe:

1. isolation — executing one caller's DataFrame must not finalize the
   AQE plan another caller observes (each hit is a fresh QueryExecution
   over the shared analyzed child);
2. key discipline — different sf dirs never alias, and two spellings
   of one dir share its entries and its at-rest route;
3. value identity — a hit computes exactly what a cold build does;
4. purity — every registry query memoized as a plan builds without
   running a Spark job;
5. eviction — ``invalidate(sf_dir)``, and every routing change that
   goes through it, drops every key kind and the at-rest route for
   that dir, and only that dir.
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


def test_register_wide_path_evicts_dependent_plans(spark, tmp_path):
    """ADVICE r13: registering an at-rest wide path AFTER a dependent
    query was memoized must evict the memoized plan, so the routed
    (zero-exchange) plan is actually served; unregistering must evict
    again so no plan stays pinned to the (possibly deleted) temp path."""
    from tsengine import registry
    from tsengine.sources.wearable import (
        materialize_wide,
        register_wide_path,
        unregister_wide_path,
    )

    qs = registry.all_queries()
    # memoize the derived-path plan first (fft_mag is _PLAN_PURE and
    # reads wearable_wide)
    derived = qs["fft_mag"].fn(spark, SF_A)
    assert _n_exchanges(derived) >= 1

    path = str(tmp_path / "wide_at_rest")
    materialize_wide(spark, SF_A, path)
    register_wide_path(SF_A, path)
    try:
        routed = qs["fft_mag"].fn(spark, SF_A)
        assert _n_exchanges(routed) == 0, (
            "memoized plan survived register_wide_path — routing ignored"
        )
    finally:
        unregister_wide_path(SF_A)
    back = qs["fft_mag"].fn(spark, SF_A)
    assert _n_exchanges(back) >= 1, (
        "plan stayed pinned to the unregistered at-rest path"
    )


def test_wide_route_matches_any_spelling_of_sf_dir(spark, tmp_path):
    """A route registered under one spelling of the dir (trailing
    slash) serves wearable_wide called with another."""
    from tsengine.sources.wearable import (
        materialize_wide,
        register_wide_path,
        unregister_wide_path,
        wearable_wide,
    )

    path = str(tmp_path / "wide_at_rest")
    materialize_wide(spark, SF_A, path)
    register_wide_path(SF_A + "/", path)
    try:
        assert _n_exchanges(wearable_wide(spark, SF_A)) == 0, (
            "route registered as sf_dir + '/' was not served"
        )
    finally:
        unregister_wide_path(SF_A + "/")


def test_invalidate_drops_wide_route(spark, tmp_path):
    """invalidate(sf_dir) means the dir's data changed, so the at-rest
    table derived from the old data must stop being served."""
    from tsengine.sources import tables
    from tsengine.sources.wearable import (
        materialize_wide,
        register_wide_path,
        unregister_wide_path,
        wearable_wide,
    )

    path = str(tmp_path / "wide_at_rest")
    materialize_wide(spark, SF_A, path)
    register_wide_path(SF_A, path)
    try:
        tables.invalidate(SF_A)
        assert _n_exchanges(wearable_wide(spark, SF_A)) >= 1, (
            "invalidate kept serving the at-rest table of the old data"
        )
    finally:
        unregister_wide_path(SF_A)
