"""Plan contracts — the scale design enforced structurally.

Correctness is the oracle suite's job; these tests pin the *physical
plans* so a future edit can't silently reintroduce a shuffle, lose a
pushdown, or degrade a broadcast join to a shuffle join.  Each assertion
documents a claim made in module docstrings/README.
"""

from __future__ import annotations

import re

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_exchanges(df) -> int:
    return len(re.findall(r"Exchange (?:hash|range)partitioning", _plan(df)))


SF = "/root/testdata/sf0.01"


def test_wearable_derivation_single_shuffle(spark):
    from tsengine.sources.wearable import wearable_long, wearable_wide

    assert _n_exchanges(wearable_long(spark, SF)) == 1
    # the wide groupBy must reuse the derivation's user partitioning
    assert _n_exchanges(wearable_wide(spark, SF)) == 1


def test_cpc_encoder_adds_no_exchange(spark):
    from tsengine.pipelines import cpc_contexts
    from tsengine.sources.wearable import wearable_wide

    wide = wearable_wide(spark, SF)
    base = _n_exchanges(wide)
    for variant in ("T_CPC", "TS_CPC", "S_CPC"):
        assert _n_exchanges(cpc_contexts(wide, variant)) == base


def test_gru_final_adds_no_exchange(spark):
    from tsengine.operators.recurrence import gru_context_final
    from tsengine.sources.wearable import wearable_wide

    wide = wearable_wide(spark, SF)
    assert _n_exchanges(gru_context_final(wide)) == _n_exchanges(wide)


def test_pricing_summary_pushdown(spark):
    from tsengine.registry import all_queries

    plan = _plan(all_queries()["pricing_summary"].fn(spark, SF))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # filter reaches the scan...
    assert "l_shipdate" in scan.split("DataFilters:")[1].split("]")[0]
    # ...and only the 7 needed columns are read
    read_schema = scan.split("ReadSchema:")[-1]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_conv_kernel_path_and_join_twin(spark):
    """The registered conv1d is the Arrow kernel: no joins, no exchange
    beyond the wide derivation.  The relational twin must broadcast the
    weight table, never shuffle the fused stream for it — and both
    paths must produce identical values."""
    from tsengine.operators.timeseries import conv1d_encode, conv1d_join_form
    from tsengine.sources.wearable import wearable_wide

    kernel = conv1d_encode(spark, SF)
    assert "Join" not in _plan(kernel)
    assert _n_exchanges(kernel) == _n_exchanges(wearable_wide(spark, SF))

    twin = conv1d_join_form(spark, SF)
    plan = _plan(twin)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan

    import pandas as pd

    key = ["window_id", "t", "oc"]
    a = kernel.toPandas().sort_values(key).reset_index(drop=True)
    b = twin.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_unsup_sup_join_broadcasts(spark):
    from tsengine.registry import all_queries

    plan = _plan(all_queries()["unsup_sup_join"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_sorted_limit_is_top_n(spark):
    from tsengine.registry import all_queries

    plan = _plan(all_queries()["sorted_limit"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort node


def test_minhash_single_aggregation_pass(spark):
    from tsengine.operators.dedup import minhash_df

    plan = _plan(minhash_df(spark, SF))
    # one partial + one final hash aggregate pair over doc_id; the
    # perms cross-join form would show a nested-loop join here
    assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan
    assert _n_exchanges(minhash_df(spark, SF)) <= 2  # docs agg (+AQE read)


def test_salted_join_shuffles_on_salt(spark):
    from tsengine.registry import all_queries

    plan = _plan(all_queries()["salted_skew_join"].fn(spark, SF))
    # the salted path must execute as a shuffled join keyed on the salt,
    # never collapse back to broadcast (the point is the key spread)
    assert "ShuffledHashJoin [l_returnflag" in plan and "_salt" in plan
    assert "BroadcastHashJoin" not in plan


def test_corpus_op_plans(spark):
    """Corpus-construction scale claims: decontaminate broadcasts the
    (fixed, small) benchmark gram set and never shuffle-joins the
    corpus on gram; repetition_score and stratified_sample are pure
    map-side (zero exchanges at any corpus size)."""
    from tsengine.registry import all_queries

    qs = all_queries()
    dec = _plan(qs["decontaminate"].fn(spark, SF))
    assert "BroadcastHashJoin" in dec, "eval gram set not broadcast"
    assert "SortMergeJoin" not in dec and "ShuffledHashJoin" not in dec

    assert _n_exchanges(qs["repetition_score"].fn(spark, SF)) == 0
    samp = qs["stratified_sample"].fn(spark, SF)
    assert _n_exchanges(samp) == 0
    scan = next(
        l for l in _plan(samp).splitlines() if "FileScan parquet" in l
    )
    assert "doc_id" in scan.split("ReadSchema:")[-1] and "text" not in scan.split(
        "ReadSchema:"
    )[-1], "sample scan should prune to (doc_id, source)"


def test_packing_op_plans(spark):
    """Packing-family scale claims: doc_chunk and embedding_quantize
    are pure narrow transforms (zero exchanges at any corpus size, no
    window functions); pack_sequences shuffles exactly once (the
    per-shard cumulative sum).  The chunk/quantize scans must prune to
    the referenced columns."""
    from tsengine.registry import all_queries

    qs = all_queries()
    chunk = qs["doc_chunk"].fn(spark, SF)
    assert _n_exchanges(chunk) == 0
    assert "Window" not in _plan(chunk)
    scan = next(l for l in _plan(chunk).splitlines() if "FileScan parquet" in l)
    assert "lang" not in scan.split("ReadSchema:")[-1], (
        "chunk scan should prune to (doc_id, text)"
    )

    quant = qs["embedding_quantize"].fn(spark, SF)
    assert _n_exchanges(quant) == 0
    assert "label" not in _plan(quant).split("ReadSchema:")[-1]

    assert _n_exchanges(qs["pack_sequences"].fn(spark, SF)) == 1


def test_wide_at_rest_zero_exchange(spark, tmp_path):
    """ETL-once claim: with windows stored wide at rest, the ENTIRE CPC
    inference pipeline (fuse -> [fft|concat] -> conv -> gru -> pool) is
    scan -> mapInPandas with zero shuffles, and results equal the
    derived-on-the-fly path exactly."""
    from tsengine.pipelines import cpc_contexts
    from tsengine.sources.wearable import materialize_wide, read_wide, wearable_wide

    path = str(tmp_path / "windows_wide")
    materialize_wide(spark, SF, path)
    at_rest = read_wide(spark, path)
    for variant in ("T_CPC", "TS_CPC", "S_CPC"):
        ctx = cpc_contexts(at_rest, variant)
        assert _n_exchanges(ctx) == 0, f"{variant} shuffles from wide-at-rest"

    # and the split partitioning prunes at scan: filter on split keeps
    # the plan scan-only with partition filters, still zero exchanges
    test_only = cpc_contexts(at_rest.filter("split = 'test'"), "T_CPC")
    assert _n_exchanges(test_only) == 0
    plan = _plan(test_only)
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    pf = scan.split("PartitionFilters:")[1].split("]")[0]
    assert "split" in pf, f"split filter not pushed to partition pruning: {pf}"

    # value parity with the derived path
    derived = cpc_contexts(wearable_wide(spark, SF), "T_CPC").toPandas()
    stored = cpc_contexts(at_rest, "T_CPC").toPandas()
    cols = sorted(derived.columns)
    a = derived[cols].sort_values("window_id").reset_index(drop=True)
    b = stored[cols].sort_values("window_id").reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_mining_family_plan_shapes(spark):
    """Scale claims from tsengine/operators/mining.py docstrings:
    reservoir_sample is a shuffle-free TakeOrdered (per-partition top-k,
    k-row driver merge — never a global sort); the single-agg operators
    keep exactly one data shuffle; zscore joins its |users|-row stats
    side by broadcast, never reshuffling the event log for it."""
    from tsengine.registry import all_queries

    qs = all_queries()

    plan = _plan(qs["reservoir_sample"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert _n_exchanges(qs["reservoir_sample"].fn(spark, SF)) == 0

    for name in ("ngram_count", "rolling_stats", "props_extract"):
        assert _n_exchanges(qs[name].fn(spark, SF)) == 1, name

    zplan = _plan(qs["zscore_outliers"].fn(spark, SF))
    assert "BroadcastHashJoin" in zplan
    assert _n_exchanges(qs["zscore_outliers"].fn(spark, SF)) == 1


def test_sink_partitioned_prunes(spark):
    """sink_partitioned's read-back scan must prune on the partition
    column: the equality filter appears as a PartitionFilter (directory
    pruning), not a post-scan Filter over all files."""
    from tsengine.registry import all_queries

    plan = _plan(all_queries()["sink_partitioned"].fn(spark, SF))
    scan = next(
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "events_by_type" in l
    )
    pf = scan.split("PartitionFilters:")[1].split("]")[0]
    assert "event_type" in pf


def test_no_partitionless_window_in_any_registered_query(spark):
    """No registered query may plan a partition-less Window — at scale
    that moves the entire input to ONE task (`WindowExec: No Partition
    Defined`).  roc_auc and scan_batched were rewritten two-phase
    (range-bucketed rank + broadcast bucket offsets) in round 4; this
    pins every query, present and future."""
    import json

    from tsengine.registry import all_queries

    offenders = []
    for name, q in all_queries().items():
        df = q.fn(spark, SF)
        nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
        if any(
            n.get("class", "").endswith(".Window") and not n.get("partitionSpec")
            for n in nodes
        ):
            offenders.append(name)
    assert not offenders, f"partition-less Window in: {offenders}"


def test_analytics_family_plans(spark):
    """Scale claims of the round-4 analytics family, pinned
    structurally:

    - text_normalize is a pure projection: ZERO exchanges;
    - funnel_events pays one corpus exchange (user window) plus the
      1-row rollup — its three window minima share the user partition;
    - session_paths' sessionize windows and path agg all cluster on
      user_id (hash partitioning on user_id satisfies the
      (user, session) grouping), so exactly one corpus-sized exchange
      before the tiny path rollup and top-k;
    - heavy_hitters_cms joins the sketch and hash rows by BROADCAST
      (never shuffles the token stream for the estimate join);
    - duplicate_spans is ONE linear pipeline (r14): single documents
      scan, span-hash window + doc rollup, no joins of any kind."""
    from tsengine.registry import all_queries

    qs = all_queries()

    norm = qs["text_normalize"].fn(spark, SF)
    assert _n_exchanges(norm) == 0
    assert "Window" not in _plan(norm)

    funnel = qs["funnel_events"].fn(spark, SF)
    assert _n_exchanges(funnel) <= 2
    assert "No Partition" not in _plan(funnel)

    paths = qs["session_paths"].fn(spark, SF)
    # one corpus exchange (user) + the small path-count agg exchange;
    # the top-k is TakeOrdered, never a global window
    assert _n_exchanges(paths) <= 2
    assert "TakeOrdered" in _plan(paths)

    cms_plan = _plan(qs["heavy_hitters_cms"].fn(spark, SF))
    assert cms_plan.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in cms_plan

    spans_df = qs["duplicate_spans"].fn(spark, SF)
    spans_plan = _plan(spans_df)
    assert "CartesianProduct" not in spans_plan
    # r14 single-subtree form: no join at all (the dup flag is a window
    # over the span-hash partition), and exactly ONE documents scan —
    # the old agg+semi-join form duplicated the gram+md5 subtree
    assert "Join" not in spans_plan
    assert spans_plan.count("Scan parquet") == 1
    assert _n_exchanges(spans_df) == 2


def test_bloom_pruned_join_runtime_filter(spark):
    """InjectRuntimeFilter rewrites the semi join: the optimized plan
    must build a bloom filter from the orders keys and push a
    might_contain predicate onto the lineitem (probe) side — the
    100 TB join-reduction shape bloom_pruned_join exists to pin."""
    from tsengine.operators.extensions import _BLOOM_CONFS, _bloom_join_df
    from tsengine.session import scoped_session

    df = _bloom_join_df(scoped_session(spark, _BLOOM_CONFS), SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter_agg" in opt
    assert "might_contain" in opt
    # the probe-side filter references the lineitem key, not orders
    probe_filter = next(
        l for l in opt.splitlines() if "might_contain" in l
    )
    assert "l_orderkey" in probe_filter
    # and the join stayed a shuffle join (runtime filters never
    # fire on broadcast joins)
    phys = _plan(df)
    assert "BroadcastHashJoin" not in phys.split("LeftSemi")[0]


def test_new_graph_text_ops_plan_shape(spark):
    """perplexity_filter and textrank_keywords stay codegen/JVM-side:
    no UDFs, no partition-less windows; textrank's top-50 is
    TakeOrdered, never a global sort."""
    from tsengine.registry import all_queries

    qs = all_queries()
    ppl_plan = _plan(qs["perplexity_filter"].fn(spark, SF))
    assert "BatchEvalPython" not in ppl_plan and "ArrowEvalPython" not in ppl_plan
    assert "No Partition" not in ppl_plan

    tr_plan = _plan(qs["textrank_keywords"].fn(spark, SF))
    assert "TakeOrdered" in tr_plan
    assert "BatchEvalPython" not in tr_plan and "ArrowEvalPython" not in tr_plan


def test_dpp_pruned_scan_dynamic_pruning(spark):
    """The fact-side scan must carry a dynamicpruning subquery in its
    PartitionFilters (DPP), so partition directories are skipped at
    runtime based on the dim-side result."""
    from tsengine.registry import all_queries

    df = all_queries()["dpp_pruned_scan"].fn(spark, SF)
    plan = _plan(df)
    assert "dynamicpruning" in plan.lower()
    assert "SubqueryAdaptiveBroadcast" in plan or "SubqueryBroadcast" in plan


def test_bucketed_join_agg_zero_join_exchange(spark):
    """The registered co-located join: both scans bucketed, shuffled
    HASH join (r6: no exchange AND no per-bucket sort — Spark 4 retired
    sorted-bucket ordering propagation, so the former SMJ form re-sorted
    every bucket) — the only exchange in the whole plan is the
    post-join re-agg on the (tiny) group key."""
    from tsengine.registry import all_queries

    df = all_queries()["bucketed_join_agg"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") == 1
    assert "SortMergeJoin" not in plan and "Sort " not in plan
    assert plan.count("Exchange") == 1, "join inputs must not shuffle"
    assert plan.count("Bucketed: true") == 2


def test_semi_join_pinned_shuffle_hash(spark):
    """semi_join's build side (unfiltered orders keys) scales with the
    fact table and can never broadcast at the design scale; the pinned
    shuffle_hash makes the local plan the cluster plan (VERDICT r6
    item 6 — the 25.8x SCALING_TAIL outlier was the local
    collect+broadcast artifact).  anti_join's build side is a
    selective filter and deliberately stays planner-chosen."""
    from tsengine.operators.extensions import semi_join

    p = _plan(semi_join(spark, SF))
    assert "ShuffledHashJoin" in p and "LeftSemi" in p
    assert "BroadcastHashJoin" not in p


def test_merge_upsert_reads_only_affected_partitions(spark, tmp_path):
    """The MERGE sink's read-back scan must partition-prune to the
    update batch's key buckets — the property that makes merge cost
    O(touched partitions), not O(table)."""
    from pyspark.sql import functions as F

    from tsengine.operators.merging import _N_PARTS

    tgt = str(tmp_path / "merge_tgt")
    df = spark.createDataFrame(
        [(k, float(k)) for k in range(16)], "o_custkey bigint, v double"
    ).withColumn("p", (F.col("o_custkey") % _N_PARTS).cast("int"))
    df.write.mode("overwrite").partitionBy("p").parquet(tgt)
    pruned = spark.read.parquet(tgt).filter(F.col("p").isin([2]))
    plan = _plan(pruned)
    assert "PartitionFilters" in plan and "p#" in plan
    # only bucket 2's files are read
    assert pruned.count() == 2


def test_quality_classifier_plan_shape(spark):
    """The learned gate's scoring plan: no Python eval anywhere (pure
    codegen sigmoid/dot over the checkpointed feature table), exactly
    one exchange (the per-source agg), no joins — the fit already ran
    at fn-build, moving only 5 scalars per step."""
    from tsengine.registry import all_queries

    df = all_queries()["quality_classifier"].fn(spark, SF)
    plan = _plan(df)
    assert "EvalPython" not in plan and "Join" not in plan
    assert _n_exchanges(df) == 1


def test_bpe_tokenize_plan_shape(spark):
    """Tokenizer application: the type-table join-back must be a
    shuffle hash join (a corpus-derived table can never broadcast at
    the design point), with exactly ONE Arrow UDF pass (per distinct
    type, not per token instance)."""
    from tsengine.registry import all_queries

    df = all_queries()["bpe_tokenize"].fn(spark, SF)
    plan = _plan(df)
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"ArrowEvalPython", plan)) == 1


def test_probe_auc_no_partitionless_window(spark):
    """The GD-probe AUC (used per-epoch by unsup_epoch_curves and 6x by
    before_training_grid) collects eagerly at fn-build, so the
    all-queries window sweep above never sees its plan.  Pin it here:
    the rank must be the two-phase _avg_ranked_scores form — every
    Window partitioned (by rank bucket), never the single-task
    `WindowExec: No Partition Defined` global sort (r8 fix; the r7
    verdict's one weak item)."""
    import json

    from tsengine.pipelines import _probe_auc_df, cpc_contexts
    from tsengine.sources.wearable import wearable_wide

    ctx = cpc_contexts(wearable_wide(spark, SF), "T_CPC")
    df = _probe_auc_df(ctx)
    nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    offenders = [
        n["class"]
        for n in nodes
        if n.get("class", "").endswith(".Window") and not n.get("partitionSpec")
    ]
    assert not offenders
    assert "No Partition" not in _plan(df)


def test_forecast_drift_plan_shapes(spark):
    """Round-8 forecasting/drift family scale contracts (module
    docstring claims, tsengine/operators/forecast.py / drift.py /
    mlprep.lag_features)."""
    from tsengine.registry import all_queries

    qs = all_queries()

    # lag_features: ONE user_id exchange, one window, nothing else
    lf = qs["lag_features"].fn(spark, SF)
    assert _n_exchanges(lf) == 1
    assert _plan(lf).count("FileScan") == 1

    # ohlc_resample: the agg reuses the window's (user, day) exchange
    oh = qs["ohlc_resample"].fn(spark, SF)
    assert _n_exchanges(oh) == 1
    assert _plan(oh).count("FileScan") == 1

    # holt_linear: daily agg + per-user collect — two exchanges, one
    # scan, and the fold is pure projection (no window, no join)
    hl = qs["holt_linear"].fn(spark, SF)
    assert _n_exchanges(hl) == 2
    p = _plan(hl)
    assert p.count("FileScan") == 1
    assert "Join" not in p and "Window" not in p

    # cross_corr_lags: the calendar-bounded hourly profile is
    # checkpointed once — NO corpus FileScan remains in the join plan
    xc = qs["cross_corr_lags"].fn(spark, SF)
    assert _plan(xc).count("FileScan parquet") == 0

    # psi_drift: one 20-counter hash agg over the scan + the 1-row
    # bounds broadcast; no window, no sort-merge join
    ps = qs["psi_drift"].fn(spark, SF)
    p = _plan(ps)
    assert p.count("FileScan") == 2  # bounds pass + binned-count pass
    assert "Window" not in p and "SortMergeJoin" not in p

    # ks_drift: both windows (cumulative + totals) share ONE
    # event_type exchange; c is computed once (2 scans: bounds+counts)
    ks = qs["ks_drift"].fn(spark, SF)
    p = _plan(ks)
    assert p.count("FileScan") == 2
    # counts agg + the shared window exchange (the 1-row bounds agg is
    # a SinglePartition exchange, not hash/range)
    assert _n_exchanges(ks) == 2
    assert "SortMergeJoin" not in p


def test_theil_sen_rank_plan_shape(spark):
    """Round-9 Theil-Sen contracts: the lower-median rank selection
    stays a per-user window (no driver collect, no cartesian), and the
    sampled variant's hash filter cuts pairs BEFORE the rank windows
    (same shape, smaller volume)."""
    from tsengine.registry import all_queries

    qs = all_queries()
    for name in ("theil_sen_trend", "theil_sen_sampled"):
        df = qs[name].fn(spark, SF)
        p = _plan(df)
        # rank selection = Window operators partitioned on user_id;
        # never a global (partition-less) window
        assert "Window" in p
        assert "No Partition" not in p
        assert "CartesianProduct" not in p
        # the pair self-join is an equi-join on user_id (broadcast or
        # shuffle by size), never BNLJ
        assert "BroadcastNestedLoopJoin" not in p


def test_mad_outliers_single_exchange(spark):
    """Round-9 rewrite (disc rank medians) must preserve the r7 shape:
    all six Window operators stack over ONE user_id exchange, single
    events scan, no joins."""
    from tsengine.registry import all_queries

    df = all_queries()["mad_outliers"].fn(spark, SF)
    p = _plan(df)
    assert _n_exchanges(df) == 1
    assert p.count("FileScan") == 1
    assert "Join" not in p
    assert "No Partition" not in p


def test_knn_join_lsh_plan_shape(spark):
    """kNN-graph construction: no join ANYWHERE (the three measured
    rejected cuts all joined — see the operator docstring); candidate
    scoring is exactly ONE grouped-map kernel over (band, bucket), so
    each vector crosses the Arrow boundary once per band instead of
    once per candidate pair, and the top-k window partitions by vec_id
    (no partition-less window)."""
    from tsengine.registry import all_queries

    df = all_queries()["knn_join_lsh"].fn(spark, SF)
    plan = _plan(df)
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"FlatMapGroupsInPandas", plan)) == 1
    assert "windowspecdefinition(vec_id" in plan


def test_round10_wave2_plan_shapes(spark):
    """Structural scale claims of the round-10 second wave:

    - weighted_sample compiles to TakeOrdered (per-partition top-k +
      k-row driver merge), never a global sort;
    - zipf_fit's global rank is the two-phase bucketed form — no
      partition-less window (also pinned registry-wide above) and the
      rank join side is broadcast;
    - the corpus-audit aggs (gopher_rules, source_log_odds,
      cross_source_overlap, dup_rate_by_source) stay JVM-side: no
      Python/Arrow eval anywhere in their plans."""
    from tsengine.registry import all_queries

    qs = all_queries()
    ws = _plan(qs["weighted_sample"].fn(spark, SF))
    assert "TakeOrderedAndProject" in ws
    assert "Sort [" not in ws.split("TakeOrderedAndProject")[0]

    zf = _plan(qs["zipf_fit"].fn(spark, SF))
    assert "BroadcastExchange" in zf  # the offset self-join side
    for name in (
        "gopher_rules",
        "source_log_odds",
        "cross_source_overlap",
        "dup_rate_by_source",
        "zipf_fit",
        "rfm_segments",
    ):
        plan = _plan(qs[name].fn(spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
