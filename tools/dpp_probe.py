#!/usr/bin/env python
"""Measure whether `dpp_pruned_scan` ACTUALLY prunes partitions at the
100x tier (r4 verdict task 4) — not just whether the plan string says
``dynamicpruning`` at sf0.01.

Runs the registered query at the given tier, then walks the executed
(post-AQE) physical plan down to the partitioned fact table's
FileSourceScanExec and reads its runtime SQL metrics:

  * ``number of partitions read``  vs the partition count on disk
  * ``number of files read``       vs the file count on disk
  * ``dynamic partition pruning time``  (>0 proves the runtime filter ran)

Semantics bound the best case: the events table has 5 event_type
values and the dim predicate (AVG(value) > 50) qualifies 3 of them, so
a working DPP reads exactly 3/5 partitions — a 40% scan cut, not an
order of magnitude (the synthetic key is low-cardinality; a production
date/tenant-partitioned fact sees far higher prune ratios from the
same plan).  The committed measurement lives in SCALING_TAIL.md.

    python tools/dpp_probe.py [tier_dir]        # default /tmp/tsengine_scale_x100
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _iter_nodes(plan):
    """Depth-first walk of a Scala SparkPlan tree via py4j, descending
    into AQE's final plan and reused/subquery wrappers."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _iter_nodes(plan.executedPlan())
        return
    if name.endswith("QueryStageExec"):  # AQE stage: child is behind .plan()
        yield from _iter_nodes(plan.plan())
        return
    yield plan
    ch = plan.children()
    for i in range(ch.size()):
        yield from _iter_nodes(ch.apply(i))


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._2().name().get()] = kv._2().value()
    return out


def main() -> int:
    tier = sys.argv[1] if len(sys.argv) > 1 else "/tmp/tsengine_scale_x100"
    from tsengine.registry import all_queries
    from tsengine.session import get_spark

    spark = get_spark("dpp-probe")
    q = all_queries()["dpp_pruned_scan"]
    df = q.fn(spark, tier)
    rows = df.collect()
    print(f"result rows: {len(rows)} -> {sorted(r['event_type'] for r in rows)}")

    from tsengine.operators.relational import _CSV_DIR
    from tsengine.sources.scratch import artifact_path

    root = artifact_path(_CSV_DIR, tier, "events_dpp", "events")
    parts_on_disk = [d for d in os.listdir(root) if d.startswith("event_type=")]
    files_on_disk = sum(
        1
        for r, _d, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )

    scans = []
    for node in _iter_nodes(df._jdf.queryExecution().executedPlan()):
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            desc = node.toString()
            m = _metrics(node)
            scans.append((desc.splitlines()[0][:120], m))
    for desc, m in scans:
        keep = {
            k: v
            for k, v in m.items()
            if "partition" in k or "files read" in k or "pruning" in k
        }
        print(f"scan: {desc}\n  {keep}")

    # the partitioned fact scan is the only scan that reports a
    # partitions-read metric (the dim side reads the unpartitioned
    # source); desc is truncated so don't match on the path
    fact = [
        m for _desc, m in scans if m.get("number of partitions read") is not None
    ]
    assert fact, "partitioned fact scan not found in executed plan"
    read = fact[0]["number of partitions read"]
    print(
        f"\npartitions read: {read} / {len(parts_on_disk)} on disk "
        f"({files_on_disk} parquet files on disk); "
        f"dpp pruning time(ms): {fact[0].get('dynamic partition pruning time')}"
    )
    ok = read < len(parts_on_disk)
    print("DPP PRUNED" if ok else "NO PRUNING — plan is broken")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
