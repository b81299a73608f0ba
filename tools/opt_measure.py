#!/usr/bin/env python
"""Optimization measurement harness (guide §1).

Per query: capture .explain("formatted") to plans/<round>/<name>_<tag>.txt
and time the computation in isolation with the noop sink (min of N
repeats, jobs labelled via setJobDescription).  The noop sink computes
every column of every row (guide §1.4) — used here for ISOLATION only;
bench.py's .count() timing stays untouched for round-over-round
comparability.

    python tools/opt_measure.py --tag before [--only a,b] [--sf DIR]
    python tools/opt_measure.py --tag before --no-plans   # timings only
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", required=True, help="suffix: before / after")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--only", default=None)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("--round", default="r14", help="plans/<round>/ output dir")
    ap.add_argument("--out", default=None, help="JSON timings path")
    args = ap.parse_args()

    import bench  # HEADLINE list, warm_up

    from tsengine.registry import all_queries
    from tsengine.session import get_spark

    ambient = os.getloadavg()[0]
    spark = get_spark("opt-measure")
    qs = all_queries()
    names = args.only.split(",") if args.only else list(bench.HEADLINE)

    bench.warm_up(spark, args.sf)

    plan_dir = os.path.join(REPO, "plans", args.round)
    os.makedirs(plan_dir, exist_ok=True)
    timings: dict[str, float] = {}
    for name in names:
        fn = qs[name].fn
        df = fn(spark, args.sf) if not args.no_plans else None
        best = None
        for i in range(args.repeats):
            spark.sparkContext.setJobDescription(f"opt[{args.tag}] {name} #{i}")
            t0 = time.perf_counter()
            (df if df is not None else fn(spark, args.sf)).write.format(
                "noop"
            ).mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        spark.sparkContext.setJobDescription(None)
        if df is not None:
            # post-run: AQE final plan (executed exchanges, codegen ids)
            fmt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(plan_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(fmt)
        timings[name] = round(best, 3)
        print(f"{name}: {timings[name]}s", flush=True)

    out = {
        "tag": args.tag,
        "sf": os.path.basename(args.sf.rstrip("/")),
        "repeats": args.repeats,
        "loadavg_1m_ambient": round(ambient, 2),
        "noop_min": timings,
        "total": round(sum(timings.values()), 3),
    }
    path = args.out or os.path.join(REPO, "plans", args.round, f"noop_{args.tag}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({"total": out["total"], "tag": args.tag}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
