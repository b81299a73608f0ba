"""Round-12 contracts: the incremental curation pipeline's equality
with a from-scratch v3 run, and the shard manifest.  The graph
artifact's publish and GC tests live in tests/test_scratch.py."""

from __future__ import annotations

import os

SF = "/root/testdata/sf0.001"


def test_curation_v3_incremental_equals_from_scratch(spark):
    """The daily-ingest twin must be row-identical to the from-scratch
    pipeline_curation_v3 over old ∪ new — the displacement argument
    (update ≡ rebuild, pinned bit-for-bit on the graph) lifted through
    the mutual/component/keep-best/gate/sample tail, which depends on
    the graph only through its exact rows."""
    from tsengine.operators.similarity import (
        pipeline_curation_v3,
        pipeline_curation_v3_incremental,
    )

    key = lambda r: r.doc_id  # noqa: E731
    full = sorted(pipeline_curation_v3(spark, SF).collect(), key=key)
    inc = sorted(pipeline_curation_v3_incremental(spark, SF).collect(), key=key)
    assert len(full) == len(inc) > 0
    for a, b in zip(full, inc):
        assert a == b


def test_curation_v3_incremental_plan_contract(spark):
    """The incremental pipeline's plan must carry the update path's
    signatures: NO full [m x m] Gram rebuild of the whole corpus in
    one kernel-feeding scan (the probe kernel + an artifact READ of
    the old-corpus graph instead), no CartesianProduct, and the sample
    stays TakeOrdered."""
    from tsengine.operators.similarity import (
        _KNN_GRAPH_DIR,
        _graph_family,
        pipeline_curation_v3_incremental,
    )
    from tsengine.sources.scratch import artifact_path

    df = pipeline_curation_v3_incremental(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    # the old-corpus graph arrived via its persisted artifact
    old = artifact_path(
        _KNN_GRAPH_DIR, SF, _graph_family(5, variant="_old10"), "embeddings"
    )
    assert os.path.exists(os.path.join(old, "_SUCCESS"))


def test_shard_manifest_is_the_global_prefix_sum(spark):
    """Recompute the global exclusive prefix sum single-threaded and
    require exact equality — the two-level distributed scan (partition
    partials + broadcast offsets) must be indistinguishable from the
    naive single-partition window."""
    from tsengine.operators.packing import _SHARD_B, shard_manifest

    rows = sorted(shard_manifest(spark, SF).collect(), key=lambda r: r.doc_id)
    cum = 0
    for r in rows:
        assert r.tok_offset == cum, r
        assert r.shard_id == cum // _SHARD_B, r
        cum += r.n_tokens
    assert cum > 0


def test_shard_manifest_plan_contract(spark):
    """The corpus-sized running sum must be the PARTITIONED window
    (by spark_partition_id over a range repartition), with the
    partition offsets arriving via a broadcast join — never the whole
    corpus through one window task."""
    from tsengine.operators.packing import shard_manifest

    plan = (
        shard_manifest(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, "offsets must broadcast, never shuffle"
    assert "windowspecdefinition(pid" in plan, "corpus window must partition by pid"


def test_shard_manifest_invariant_to_parallelism(spark, monkeypatch):
    """The determinism claim behind the manifest — any consumer can
    rebuild the exact same shard set — requires the output to be
    byte-identical REGARDLESS of cluster width: the two-level scan's
    range-partition count is sized from defaultParallelism, so the
    same corpus on a 3-task laptop and a 601-task cluster (more
    partitions than documents, forcing EMPTY range partitions whose
    pids never reach the offsets table) must emit identical
    (tok_offset, shard_id) for every doc."""
    from tsengine.operators.packing import shard_manifest

    def at_parallelism(n):
        monkeypatch.setattr(
            type(spark.sparkContext),
            "defaultParallelism",
            property(lambda self: n),
        )
        return sorted(
            (
                (r.doc_id, r.source, r.n_tokens, r.tok_offset, r.shard_id)
                for r in shard_manifest(spark, SF).collect()
            )
        )

    base = at_parallelism(3)
    assert base == at_parallelism(601)


def test_curation_funnel_is_monotone_and_agrees_with_pipeline(spark):
    """The funnel counts must (a) shrink monotonically per source
    through the stages, (b) total exactly the documents table, and
    (c) report the same sampled mass the pipeline actually emits —
    the report and the pipeline share one set of stage definitions."""
    from tsengine.operators.similarity import (
        curation_funnel_report,
        pipeline_curation_v3,
    )
    from tsengine.sources.tables import load_table

    rows = curation_funnel_report(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_docs >= r.n_survivors >= r.n_gated >= r.n_sampled >= 0, r
    n_docs_total = load_table(spark, SF, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs_total
    assert sum(r.n_sampled for r in rows) == pipeline_curation_v3(spark, SF).count()
