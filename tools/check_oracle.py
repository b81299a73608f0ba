#!/usr/bin/env python
"""Run every registered query against its DuckDB oracle — a local
replica of the driver's t2 correctness gate.  Usage:

    python tools/check_oracle.py [--sf DIR] [--only name[,name...]]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    from tsengine.registry import all_queries
    from tsengine.session import get_spark

    spark = get_spark("check-oracle")
    names = args.only.split(",") if args.only else None
    qs = {n: q for n, q in all_queries().items() if not names or n in names}
    n_fail = sweep(
        spark,
        args.sf,
        {name: q.fn for name, q in qs.items()},
        {name: q.oracle for name, q in qs.items() if q.oracle is not None},
    )
    return 1 if n_fail else 0


def sweep(
    spark,
    sf_dir: str,
    queries: dict[str, Callable],
    oracles: dict[str, str],
) -> int:
    """Run each ``queries`` entry (sorted by name) at ``sf_dir`` and
    compare it with its DuckDB SQL in ``oracles``; a query without an
    oracle is only counted.  Prints one line per query and the
    ``N ok, N fail, N rows-only`` summary; returns the failure count."""
    from tsengine.testing import compare, duck_connect

    con = duck_connect(sf_dir)
    n_ok = n_fail = n_rows_only = 0
    for name in sorted(queries):
        t0 = time.time()
        try:
            df = queries[name](spark, sf_dir)
            if name not in oracles:
                n = df.count()
                print(f"[rows] {name}: {n} rows ({time.time()-t0:.1f}s)", flush=True)
                n_rows_only += 1
                continue
            res = compare(name, df, oracles[name], con)
        except Exception as e:  # noqa: BLE001
            print(
                f"[FAIL] {name}: EXCEPTION {type(e).__name__}: "
                f"{str(e).splitlines()[0][:200]}",
                flush=True,
            )
            n_fail += 1
            continue
        print(f"{res} ({time.time()-t0:.1f}s)", flush=True)
        n_ok += res.ok
        n_fail += not res.ok
    print(f"\n{n_ok} ok, {n_fail} fail, {n_rows_only} rows-only")
    return n_fail


if __name__ == "__main__":
    raise SystemExit(main())
