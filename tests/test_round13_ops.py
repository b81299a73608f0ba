"""Round-13 contracts: the curated-release manifest, incremental
export sharding and the incremental Gopher-gate artifact (VERDICT r12
items 2-4).  The publish-path race tests live in tests/test_scratch.py."""

from __future__ import annotations

import os

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# incremental gate-flags artifact (VERDICT r12 item 4)
# ---------------------------------------------------------------------------


def test_gate_flags_incremental_equals_live_gate(spark):
    """artifact ∪ new-batch must be row-identical to the live
    full-corpus Gopher gate — the determinism argument that lets the
    incremental pipeline keep v3's verified oracle."""
    from tsengine.operators.similarity import _gate_flags_incremental
    from tsengine.operators.text import gopher_rules
    from pyspark.sql import functions as F

    live = sorted(
        r.doc_id
        for r in gopher_rules(spark, SF)
        .filter(F.col("keep") == 1)
        .select("doc_id")
        .collect()
    )
    inc = sorted(r.doc_id for r in _gate_flags_incremental(spark, SF).collect())
    assert inc == live and len(live) > 0


def test_incremental_gate_plan_contract(spark):
    """The re-run path's ONLY text-reading documents scan must be the
    new-batch filtered one: the full-corpus Gopher feature projection
    is replaced by the persisted flag artifact (VERDICT r12 item 4).
    Checked on the whole incremental pipeline's executed plan."""
    from tsengine.operators.similarity import (
        _GATE_FLAGS_FAMILY,
        _KNN_GRAPH_DIR,
        pipeline_curation_v3_incremental,
    )
    from tsengine.sources.scratch import artifact_path

    df = pipeline_curation_v3_incremental(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    flags = artifact_path(_KNN_GRAPH_DIR, SF, _GATE_FLAGS_FAMILY, "documents")
    assert os.path.exists(
        os.path.join(flags, "_SUCCESS")
    ), "gate-flag artifact must exist after a run"
    assert "gateflags_old10" in plan, "gate must read the flag artifact"
    # every documents scan that reads `text` serves the gopher
    # projection; on the incremental path each must be filtered to the
    # new batch — no unfiltered text scan anywhere in the plan
    doc_text_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln
        and "documents.parquet" in ln
        and "text:string" in ln
    ]
    assert doc_text_scans, "gate still computes the new batch live"
    for ln in doc_text_scans:
        assert "% 10) = 0" in plan, "text scan must be new-batch filtered"


# ---------------------------------------------------------------------------
# curated-release manifest (VERDICT r12 item 2)
# ---------------------------------------------------------------------------


def test_pipeline_release_shards_the_kept_set(spark):
    """The release manifest must cover EXACTLY the v3 pipeline's gated
    survivor set (`kept`), each doc in exactly one shard, offsets the
    exact exclusive prefix sum in doc_id order, and every shard's
    first-token offsets confined to its [s*B, (s+1)*B) span."""
    from tsengine.operators.graph import hash_min_components
    from tsengine.operators.packing import _SHARD_B, pipeline_release
    from tsengine.operators.similarity import (
        _curation_stages,
        _knn_graph_cached,
        _knn_mutual_edges,
    )
    from pyspark.sql import functions as F

    rows = sorted(pipeline_release(spark, SF).collect(), key=lambda r: r.doc_id)
    assert len(rows) == len({r.doc_id for r in rows}), "one row per doc"
    cum = 0
    for r in rows:
        assert r.tok_offset == cum, r
        assert r.shard_id == cum // _SHARD_B, r
        assert r.shard_id * _SHARD_B <= r.tok_offset < (r.shard_id + 1) * _SHARD_B
        cum += r.n_tokens
    assert cum > 0
    # the released ids ARE the gated survivor set
    graph = _knn_graph_cached(spark, SF)
    cdocs = hash_min_components(
        _knn_mutual_edges(spark, SF, graph=graph)
    ).select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))
    kept = sorted(
        r.doc_id
        for r in _curation_stages(spark, SF, cdocs)["gated"]
        .select("doc_id")
        .collect()
    )
    assert [r.doc_id for r in rows] == kept


# ---------------------------------------------------------------------------
# incremental export sharding (VERDICT r12 item 3)
# ---------------------------------------------------------------------------


def test_shard_manifest_incremental_appends_without_rewrite(spark):
    """Append ≡ full-rebuild over the (old-then-new)-ordered stream:
    the old manifest's rows are byte-identical in the incremental
    output (shipped exports are immutable), and the new batch's
    offsets continue contiguously from the artifact's end offset."""
    from tsengine.operators.packing import (
        _SHARD_B,
        _old_manifest_cached,
        shard_manifest_incremental,
    )

    inc = shard_manifest_incremental(spark, SF).collect()
    old_art = {
        r.doc_id: (r.source, r.n_tokens, r.tok_offset, r.shard_id)
        for r in _old_manifest_cached(spark, SF).collect()
    }
    old_rows = sorted(
        (r for r in inc if r.doc_id % 10 != 0), key=lambda r: r.doc_id
    )
    new_rows = sorted(
        (r for r in inc if r.doc_id % 10 == 0), key=lambda r: r.doc_id
    )
    assert len(old_rows) == len(old_art) > 0 and len(new_rows) > 0
    for r in old_rows:
        assert old_art[r.doc_id] == (
            r.source,
            r.n_tokens,
            r.tok_offset,
            r.shard_id,
        ), "existing manifest rows must never be rewritten"
    # single-threaded recompute of the full (old ++ new) stream
    cum = 0
    for r in old_rows + new_rows:
        assert r.tok_offset == cum, r
        assert r.shard_id == cum // _SHARD_B, r
        cum += r.n_tokens


def test_shard_id_is_bigint_division(spark):
    """shard_id must be BIGINT integer division end-to-end (ADVICE
    r12: floor-of-double is exact only below 2^53 total tokens)."""
    from pyspark.sql import functions as F

    from tsengine.operators.packing import _SHARD_B, _SHARD_ID

    # double-rounding territory: the ulp at 2^60 is 256, so +4095
    # rounds UP across the shard boundary under float division
    big = 2**60 + 4095
    df = spark.createDataFrame(
        [(big,)], "tok_offset long"
    ).select(F.expr(_SHARD_ID).alias("shard_id"))
    [row] = df.collect()
    assert df.schema["shard_id"].dataType.simpleString() == "bigint"
    assert row.shard_id == big // _SHARD_B
    # the double path this replaced really is wrong up here
    assert int((big / _SHARD_B) // 1) != big // _SHARD_B


def test_global_stream_offsets_empty_and_seeded_base(spark):
    """Helper edge cases the registered queries can hit in production:
    an EMPTY batch (a quiet ingest day) must yield zero rows and pass
    the base offset through unchanged, and a seeded base_offset must
    shift every offset without disturbing relative order."""
    from tsengine.operators.packing import _global_stream_offsets

    empty = spark.createDataFrame([], "doc_id long, n_tokens long")
    out, end = _global_stream_offsets(spark, empty, base_offset=7)
    assert out.count() == 0 and end == 7

    two = spark.createDataFrame([(9, 4), (5, 3)], "doc_id long, n_tokens long")
    out, end = _global_stream_offsets(spark, two, base_offset=100)
    rows = sorted(out.collect(), key=lambda r: r.doc_id)
    assert [(r.doc_id, r.tok_offset) for r in rows] == [(5, 100), (9, 103)]
    assert end == 107
